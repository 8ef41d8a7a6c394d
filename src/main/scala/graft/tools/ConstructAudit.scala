package graft.tools

import graft.core.Session

/** Plan-construction eagerness audit (r12): the r11 verdict caught
  * q88/q99 running a full `docs.count()` job every time their lineage
  * was CONSTRUCTED — work invisible to plan inspection and billed to
  * whoever builds the query, at any scale. This tool constructs every
  * catalog query TWICE (first pass absorbs one-time manifest-gated
  * `ensure` builds; the second, steady-state pass is the measurement)
  * and reports every Spark job launched during the second construction,
  * with stage names, so a count-gate-style regression anywhere in the
  * catalog is one `runMain` away from visible.
  *
  * Legitimate construction jobs are bounded METADATA or probe work:
  * "parquet at" (schema-inference footer reads), single-row dev-embed
  * probes (`head` over `range(1)`), store manifest/stats reads (no job
  * at all). A corpus-shaped stage name (count/collect over a table
  * lineage) in steady state is a bug.
  *
  * r13 (r12 verdict nit #1): classes are bounded by MAGNITUDE, not just
  * whitelisted by name. The r12 audit marked any `localCheckpoint at` /
  * broadcast stage "ok" unconditionally, so a future corpus-scale
  * checkpoint at construction time would have passed silently. Each
  * class now carries a per-construction job ceiling and a per-stage
  * task ceiling ([[bounds]]); a whitelisted-class stage past its
  * ceiling is a MAGNITUDE suspect. Ceilings are calibrated to the audit
  * tier (sf0.001, local[4], 4 shuffle partitions — where every
  * legitimate construction stage is single-digit tasks) with headroom,
  * so corpus-scale work (hundreds of tasks) trips them by an order of
  * magnitude. ConstructAuditSpec pins both directions: an injected
  * corpus-scale checkpoint fails; real-catalog-shaped stage lists pass.
  *
  * Run: sbt "runMain graft.tools.ConstructAudit [sfDir]"
  */
object ConstructAudit {

  /** One construction-time stage: Spark stage name + its task count. */
  final case class Stage(name: String, tasks: Int)

  /** What a stage name is allowed to be at steady-state construction.
    * Everything else is a SUSPECT — the docs.count() class of bug.
    */
  def classify(stage: String): String =
    if (stage.startsWith("parquet at Tables.scala")) "schema"  // footer read
    else if (stage.startsWith("parquet at GenStore.scala") ||
             stage.startsWith("parquet at ChunkStore.scala") ||
             stage.startsWith("parquet at Dropzone.scala")) "store-read"
    else if (stage.startsWith("head at PipelineCatalog") ||
             stage.startsWith("collect at Dedup")) "probe"    // literal export
    else if (stage.startsWith("localCheckpoint at")) "checkpoint"
    else if (stage.contains("withThreadLocalCaptured")) "broadcast"
    else "SUSPECT"

  /** class -> (max stages of this class per steady-state construction,
    * max tasks any single stage of this class may carry). Calibrated
    * against the audited catalog at the audit tier (measured maxima in
    * brackets), with ~50–100% headroom so natural variance passes and
    * order-of-magnitude growth trips:
    *  - schema: one-footer reads, a handful of tables per query
    *    [2 stages, 1t];
    *  - store-read: schema/manifest/pointer resolution on persisted
    *    artifacts — parquet FOOTER reads, one task per segment file, so
    *    the task count is bounded by the store's segment count (the
    *    stream stores write ≤64 files at this tier [64t]), never by
    *    corpus rows; a store-read stage past 128t means a store whose
    *    file count outgrew its compaction policy;
    *  - probe: centroid / query-vector / bounds exports — literally a
    *    `head` over ≤ a few partitions [4t];
    *  - checkpoint & broadcast: the CC label-propagation loop
    *    materializes once per round over the small candidate frame; the
    *    deepest lineage (q99: two chained CC loops) measures 81
    *    broadcast + 6 checkpoint stages [≤10t each].
    */
  val bounds: Map[String, (Int, Int)] = Map(
    "schema"     -> (12, 8),
    "store-read" -> (16, 128),
    "probe"      -> (8, 8),
    "checkpoint" -> (70, 32),
    "broadcast"  -> (110, 32))

  /** The pure audit core: every violation message for one query's
    * steady-state construction stages — class-SUSPECTs (unknown stage
    * shapes), per-stage task-ceiling breaches, and per-class stage-count
    * breaches. Empty = the construction is within its documented budget.
    */
  def suspectsFor(stages: Seq[Stage]): Seq[String] = {
    val classed = stages.map(s => (classify(s.name), s))
    val unknown = classed.collect { case ("SUSPECT", s) =>
      s"SUSPECT-CLASS ${s.name}[${s.tasks}t]" }
    val tooBig = classed.collect {
      case (c, s) if c != "SUSPECT" && s.tasks > bounds(c)._2 =>
        s"MAGNITUDE $c ${s.name}[${s.tasks}t] > ${bounds(c)._2}t ceiling"
    }
    val tooMany = classed.groupBy(_._1).collect {
      case (c, ss) if c != "SUSPECT" && ss.size > bounds(c)._1 =>
        s"MAGNITUDE $c ${ss.size} stages > ${bounds(c)._1} ceiling"
    }
    unknown ++ tooBig ++ tooMany
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // the tier the ceilings are calibrated at
    val spark = Session.local(4)

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        js.stageInfos.foreach(s => jobs.add(Stage(s.name, s.numTasks))); ()
      }
    })

    def construct(name: String): Unit = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.queryExecution.executedPlan
      ()
    }

    import scala.jdk.CollectionConverters._
    // Deterministic listener-bus drain: the bus is FIFO, so once a
    // sentinel job (run AFTER the pass) is visible to the listener, every
    // event the pass emitted has been delivered. The old fixed
    // Thread.sleep(300) was a timing guess — a GC pause during q99's
    // ~87-stage pass could lag delivery past it, leak pass-1 stages into
    // pass 2, and trip the magnitude ceilings with a FALSE suspect.
    val SentinelName = "auditDrainSentinel"
    def drain(): Unit = {
      val sc = spark.sparkContext
      sc.setCallSite(SentinelName)
      try spark.range(1).count() finally sc.clearCallSite()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!jobs.iterator.asScala.exists(_.name.contains(SentinelName)) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
    }
    var flagged = 0
    val verbose = sys.env.get("GRAFT_AUDIT_VERBOSE").contains("1")
    graft.SparkEntry.queries.keys.foreach { name =>
      try {
        construct(name) // pass 1: absorb one-time ensure builds
        drain()
        jobs.clear()
        construct(name) // pass 2: steady-state construction
        drain()
        val steady = jobs.iterator.asScala.toList
          .filterNot(_.name.contains(SentinelName))
        val bad = suspectsFor(steady)
        val summary = steady.groupBy(s => classify(s.name)).view
          .map { case (k, ss) => s"$k:${ss.size}(max ${
            if (ss.isEmpty) 0 else ss.map(_.tasks).max}t)" }
          .toSeq.sorted.mkString(" ")
        if (bad.nonEmpty) flagged += 1
        if (bad.nonEmpty || verbose || steady.size > 8)
          println(f"${if (bad.nonEmpty) "SUSPECT" else "ok"}%-8s $name%-28s " +
            f"stages=${steady.size} [$summary]" +
            (if (bad.nonEmpty) " :: " + bad.mkString(" ;; ") else ""))
      } catch { case e: Throwable =>
        flagged += 1
        println(f"ERROR    $name%-28s ${e.getMessage.linesIterator.nextOption().getOrElse("")}")
      }
    }
    // Eager-by-design constructors (the catalog's documented shapes):
    //  - checkpoint/broadcast: the CC label-propagation loop (q75/q85/
    //    q98/q99) and candidate probes (q96/q97) materialize per round;
    //  - probe: centroid/query-vector literal exports (q25/q27/q69/...,
    //    q104) and the q102 order-bounds probe (skippable via
    //    orderBounds);
    //  - store-read: manifest/stats/pointer resolution on persisted
    //    artifacts — bounded by store metadata, not corpus size.
    // SUSPECTS counts queries with any stage outside those classes OR
    // past a class's magnitude ceiling ([[bounds]]).
    println(s"CONSTRUCT_AUDIT_SUSPECTS=$flagged")
    spark.stop()
  }
}
