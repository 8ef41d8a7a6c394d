package perfbench

/** Metric names and units, and the per-layer figures derived from a
  * traced run. The names and units here are the ones BENCHMARK.json
  * declares; a run that produces a different set fails.
  */
object Metrics {
  /** End-to-end metrics every workload reports (untraced runs). */
  val EndToEnd: Map[String, String] = Map(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "work_per_s" -> "1/s",
    "recall" -> "fraction",
    "space_amp" -> "bytes/byte")

  /** Layers, named after the program's modules; a span named
    * `<Layer>.<call>` belongs to its layer.
    */
  val Layers: Seq[String] = Seq("FileIngest", "Chunker", "ChunkStore",
    "TextIndex", "VectorStore", "BandStore", "ClusterStore",
    "SearchOps", "Similarity", "Dedup", "TrainPrep")

  /** Per-call medians of these spans, reported as `<span>_ms`. */
  val SpanMedians: Seq[String] = Seq("FileIngest.route", "Chunker.chunk_embed",
    "ChunkStore.upsert", "TextIndex.write", "VectorStore.write",
    "VectorStore.write_pq", "BandStore.write", "ClusterStore.write", "SearchOps.dense",
    "SearchOps.bm25", "SearchOps.hybrid", "SearchOps.ask", "SearchOps.batch",
    "Similarity.ivf", "Similarity.pq", "Similarity.ivf_batch", "Dedup.exact",
    "Dedup.near", "Dedup.cluster", "Dedup.lines", "TrainPrep.split_pack")

  /** Workload-computed per-layer figures (store state and ratios); a
    * workload reports zero for the ones of the other workload.
    */
  val State: Map[String, String] = Map(
    "Chunker.chunks_per_doc" -> "count",
    "ChunkStore.files" -> "count",
    "Dedup.verified_per_candidate" -> "fraction")

  val PerLayer: Map[String, String] =
    Layers.flatMap(l => Seq(s"$l.calls" -> "count", s"$l.failed" -> "count",
      s"$l.self_ms" -> "ms", s"$l.jobs_per_call" -> "count")).toMap ++
    SpanMedians.map(s => s"${s}_ms" -> "ms") ++
    State ++ Map(
      "GenStore.meta_reads_per_op" -> "count",
      "SearchOps.bm25_rows_per_hit" -> "count",
      "Similarity.rows_per_hit" -> "count",
      "spark.jobs_per_op" -> "count",
      "spark.tasks_per_op" -> "count",
      "spark.shuffle_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "spark.busy_frac" -> "fraction",
      "spark.gc_ms" -> "ms",
      "spark.sched_wait_ms" -> "ms",
      "trace.wall_ms" -> "ms",
      "trace.unattributed_ms" -> "ms",
      "trace.op_p50_ms" -> "ms",
      "trace.overhead_frac" -> "fraction",
      "trace.recorder_ms" -> "ms",
      "trace.listener_ms" -> "ms")

  /** Rows the top-k searches read, per hit, assume k = 10. */
  val K = 10

  def layerOf(spanName: String): Option[String] =
    Layers.find(l => spanName.startsWith(l + "."))

  /** Per-layer figures from the traced spans and the listener's counters.
    * `spark.*` figures are per operation over the spans of layer calls
    * made inside operations; self times cover the whole traced wall time
    * (set-up, operations and the closing work).
    */
  def perLayer(spans: Seq[Span], l: SpanListener, opNs: Seq[Long],
      metaReads: Long, cpus: Int, recorderNs: Long): Map[String, Double] = {
    val self = Trace.selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(s: Span): Span = if (s.parent < 0) s else rootOf(byId(s.parent))
    def counters(s: Span) = Option(l.bySpan.get(s.id))
    val ms = 1e-6
    val layerSpans = spans.filter(s => layerOf(s.name).isDefined)
    val perLayer = Layers.flatMap { layer =>
      val ss = layerSpans.filter(s => layerOf(s.name).contains(layer))
      val jobs = ss.flatMap(counters).map(_.jobs).sum
      Seq(s"$layer.calls" -> ss.size.toDouble,
        s"$layer.failed" -> ss.count(_.failed).toDouble,
        s"$layer.self_ms" -> ss.map(s => self(s.id)).sum * ms,
        s"$layer.jobs_per_call" -> (if (ss.isEmpty) 0.0 else jobs.toDouble / ss.size))
    }
    val medians = SpanMedians.map { name =>
      val d = spans.filter(_.name == name).map(_.durNs * ms)
      s"${name}_ms" -> (if (d.isEmpty) 0.0 else Stats.median(d))
    }
    def rowsPerHit(names: Set[String]) = {
      val ss = spans.filter(s => names.contains(s.name))
      val rows = ss.flatMap(counters).map(_.recordsRead).sum
      if (ss.isEmpty) 0.0 else rows.toDouble / (ss.size * K)
    }
    // engine work of layer calls made inside the timed operations
    val opCounters = layerSpans.filter(s => rootOf(s).name == "op").flatMap(counters)
    val nOps = math.max(1, opNs.size).toDouble
    val roots = spans.filter(_.parent < 0)
    val wallNs = roots.map(_.durNs).sum
    val unattributedNs = spans.filter(s => layerOf(s.name).isEmpty).map(s => self(s.id)).sum
    val attributedNs = layerSpans.map(s => self(s.id)).sum
    require(math.abs(attributedNs + unattributedNs - wallNs) < 1000000L,
      s"self times do not add up: $attributedNs + $unattributedNs vs $wallNs ns")
    val allBusyMs = opCounters.map(_.busyMs).sum
    val opWallMs = opNs.sum * ms
    (perLayer ++ medians ++ Seq(
      "GenStore.meta_reads_per_op" -> metaReads / nOps,
      "SearchOps.bm25_rows_per_hit" -> rowsPerHit(Set("SearchOps.bm25")),
      "Similarity.rows_per_hit" -> rowsPerHit(Set("Similarity.ivf", "Similarity.pq")),
      "spark.jobs_per_op" -> opCounters.map(_.jobs).sum / nOps,
      "spark.tasks_per_op" -> opCounters.map(_.tasks).sum / nOps,
      "spark.shuffle_bytes" -> opCounters.map(_.shuffleBytes).sum / nOps,
      "spark.spill_bytes" -> opCounters.map(_.spillBytes).sum / nOps,
      "spark.busy_frac" -> (if (opWallMs <= 0) 0.0 else allBusyMs / (opWallMs * cpus)),
      "spark.gc_ms" -> opCounters.map(_.gcMs).sum / nOps,
      "spark.sched_wait_ms" -> opCounters.map(_.schedWaitMs).sum / nOps,
      "trace.wall_ms" -> wallNs * ms,
      "trace.unattributed_ms" -> unattributedNs * ms,
      "trace.op_p50_ms" -> (if (opNs.isEmpty) 0.0 else Stats.median(opNs.map(_ * ms))),
      // the tracer's own cost: recorder work on the client thread plus the
      // listener's callbacks, over the traced wall time
      "trace.overhead_frac" -> (recorderNs + l.ownNs).toDouble / math.max(1L, wallNs),
      "trace.recorder_ms" -> recorderNs * ms,
      "trace.listener_ms" -> l.ownNs * ms)).toMap
  }
}
