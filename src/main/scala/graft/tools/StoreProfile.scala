package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Session

/** Fixed-cost profiler for the GenStore-backed serving lineages (r8 Wrong
  * #3: q89/q90/q97/q88/q85 regressed ~0.7-1.1 s vs r7 after the GenStore
  * extraction; this tool answers whether that is per-serve fixed cost —
  * and which kind — or ambient variance).
  *
  * For each query: N timed serve runs (artifacts pre-ensured), printing
  * the full run vector (spread = variance evidence). Around one run it
  * resets [[graft.sources.GenStore.Probe]] and attaches a job listener,
  * then prints (a) driver-side FS round-trip counts by operation, (b) the
  * Spark job count and total/queue time — fixed cost shows up here as
  * many small jobs or repeated store-listing opens, variance as run-to-run
  * spread with identical probe counts.
  */
object StoreProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = Session.local(Session.cpus)
    graft.Bench.warmup(spark, sfDir)

    val names = Seq("q89_stream_ivf", "q90_stream_pq", "q97_stream_near_dup",
      "q88_span_removal", "q85_dedup_apply")

    // pre-ensure all artifacts so every timed run is serve-only
    names.foreach { n => try Session.drain(graft.SparkEntry.queries(n)(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"ensure $n: ${e.getMessage}") } }

    final case class Job(id: Int, t0: Long, var sec: Double, desc: String)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Job(e.jobId, e.time, -1,
          Option(e.properties).map(_.getProperty("spark.job.description"))
            .filter(_ != null).getOrElse("").take(90)))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.sec = (e.time - j.t0) / 1e3
      }
    }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { i =>
        val profiled = i == 3
        if (profiled) {
          graft.sources.GenStore.Probe.reset()
          jobs.clear()
          spark.sparkContext.addSparkListener(listener)
        }
        val t0 = System.nanoTime()
        Session.drain(fn(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        if (profiled) {
          Thread.sleep(300)
          spark.sparkContext.removeSparkListener(listener)
        }
        spark.catalog.clearCache(); System.gc(); Thread.sleep(150)
        sec
      }
      val probe = graft.sources.GenStore.Probe.snapshot()
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toVector.sortBy(_.id)
      println(f"== $name runs=${times.map(t => f"$t%.2f").mkString("[", ",", "]")} " +
        f"min=${times.min}%.2f max=${times.max}%.2f spread=${times.max / times.min}%.2fx")
      println(s"   fs_probes=${probe.toSeq.sortBy(-_._2).map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      println(f"   jobs=${js.size} total_job_sec=${js.map(_.sec).filter(_ > 0).sum}%.2f")
      js.filter(_.sec > 0.05).sortBy(-_.sec).take(8).foreach { j =>
        println(f"     job ${j.id}%4d ${j.sec}%.2fs ${j.desc}")
      }
    }
    spark.stop()
  }
}
