package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.Curation

/** Hot-CLASS stress for the q88/q99 span-removal keeper step (r11,
  * VERDICT r10 next-round #1): Bench's `skew_stress` grades a hot JOIN
  * key; this grades the hot SHINGLE CLASS — one boilerplate 8-gram (a
  * license header) owning ~30% of all positional-shingle rows, the shape
  * a 100 TB crawl guarantees. Basis = the REAL positional-hash lineage
  * over the sfDir's documents (replica-remapped to the stress row count)
  * plus the synthetic hot class. Three variants of the same
  * keeper/shared-by-≥2 computation:
  *
  *   - `window`     — r10's min/max window over (h1, h2), AQE off: the
  *                    hot class sorts in ONE task (the named scale-killer);
  *   - `window_aqe` — same with AQE skew settings forced: proves AQE
  *                    cannot split a window partition (unlike a join);
  *   - `salted`     — the shipped [[Curation.classBounds]] two-phase
  *                    fold, AQE off: structure alone must bound variance.
  *
  * Done-bar (r10 prescription): salted keeps max task ≤ 4× its stage
  * median on time AND rows; the window row_ratio proves the stress is
  * real. Bench embeds the JSON as `span_skew`; the standalone main is
  * the dev loop (`runMain graft.tools.SpanSkewStress [sfDir]`).
  */
object SpanSkewStress {

  final case class SkewRun(secs: Double, maxMs: Long, medMs: Long,
      maxRows: Long, medRows: Long)

  def json(spark: SparkSession, sfDir: String,
      materialize: DataFrame => Unit): String = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val tasks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.synchronized {
          if (e.taskInfo != null && e.taskInfo.successful) {
            val recs = Option(e.taskMetrics)
              .map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
            tasks += ((e.stageId, e.taskInfo.duration, recs))
          }
        }
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val real0 = graft.queries.PipelineCatalog.positionalShingleHashes(docs)
    val nReal = real0.count()
    val target = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "3000000").toLong
    val k = math.max(1L, target / math.max(nReal, 1L))
    // replicas get fresh class ids (h1 remixed per replica) and fresh doc
    // ids: the tail stays diverse — replication must not turn EVERY class
    // hot, only the synthetic one below is
    val replicated = real0
      .crossJoin(spark.range(k).select(col("id").as("rep")))
      .select(xxhash64(col("h1"), col("rep")).as("h1"), col("h2"),
        (col("doc_id") * k + col("rep")).as("doc_id"), col("pos"))
    val hotRows = (nReal * k * 3) / 7 // hot / (real + hot) ~= 0.30
    val hot = spark.range(hotRows).select(
      lit(424242L).as("h1"), lit(7).as("h2"),
      pmod(col("id") * 2654435761L, lit(100000L)).as("doc_id"),
      (col("id") % 50000).cast("int").as("pos"))
    val basis = replicated.unionByName(hot).localCheckpoint()
    def keeperHits(bounded: DataFrame) = bounded
      .filter(col("keeper") =!= col("_mx") && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
    def measure(df: DataFrame): SkewRun = {
      tasks.synchronized(tasks.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      materialize(df)
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      val byStage = tasks.synchronized(tasks.toVector).groupBy(_._1)
        .filter(_._2.size >= 4)
      if (byStage.isEmpty) SkewRun(secs, -1L, -1L, -1L, -1L)
      else {
        // the heavy stage = the one reading the most shuffle records
        // (the window sort or the salted basis-side join)
        val heavy = byStage.values.maxBy(_.map(_._3).sum)
        val ds = heavy.map(_._2).sorted
        val rs = heavy.map(_._3).sorted
        // floors: sub-centisecond tasks compare scheduler noise
        SkewRun(secs, ds.last, math.max(ds(ds.size / 2), 10L),
          rs.last, math.max(rs(rs.size / 2), 1L))
      }
    }
    def vj(v: SkewRun): String =
      f"""{"sec":${v.secs}%.3f,"max_task_ms":${v.maxMs},""" +
        f""""median_task_ms":${v.medMs},"time_ratio":${v.maxMs.toDouble / v.medMs}%.2f,""" +
        f""""max_task_rows":${v.maxRows},"median_task_rows":${v.medRows},""" +
        f""""row_ratio":${v.maxRows.toDouble / v.medRows}%.2f}"""
    val conf = spark.conf
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      conf.set("spark.sql.adaptive.enabled", "false")
      val window = measure(keeperHits(Curation.plainClassBounds(
        basis, Seq("h1", "h2"), "doc_id", "keeper", "_mx")))
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2MB")
      val windowAqe = measure(keeperHits(Curation.plainClassBounds(
        basis, Seq("h1", "h2"), "doc_id", "keeper", "_mx")))
      conf.set("spark.sql.adaptive.enabled", "false")
      // the SHIPPED q88 form: shared-class filter pushed into the lookup
      // (see removeDupSpansFrom), residual keeper filter after
      val salted = measure(Curation.classBounds(
          basis, Seq("h1", "h2"), "doc_id",
          xxhash64(col("doc_id"), col("pos")), "keeper", "_mx",
          classFilter = Some(col("keeper") =!= col("_mx")))
        .filter(col("doc_id") =!= col("keeper"))
        .select(col("doc_id"), col("pos")))
      s"""{"rows":${nReal * k + hotRows},"hot_fraction":0.30,""" +
        s""""window":${vj(window)},"window_aqe":${vj(windowAqe)},""" +
        s""""salted":${vj(salted)}}"""
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "false")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = Session.local(Session.cpus)
    println(json(spark, sfDir, Session.drain))
    spark.stop()
  }
}
