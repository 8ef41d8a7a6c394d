package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the seed, and the
  * operation/correctness counters that become `attempted` and `failed`.
  */
final class Ctx(val spark: SparkSession, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  private var opFailed = false

  /** Record a correctness check; a failure fails the enclosing operation. */
  def check(what: String, ok: Boolean): Unit =
    if (!ok) {
      opFailed = true
      failures += what
      System.err.println(s"perfbench: check failed: $what")
    }

  /** Run one operation; it fails if it throws or any check inside fails. */
  def runOp(body: => Unit): Boolean = {
    attempted += 1
    opFailed = false
    val ok = try { body; !opFailed } catch {
      case e: Exception =>
        failures += e.toString
        e.printStackTrace()
        false
    }
    if (!ok) failed += 1
    ok
  }
}

/** One workload: a set-up that can be repeated, a closed-loop operation,
  * and the work that closes a run (final batch, end-state checks).
  */
trait Workload {
  /** Generate inputs and build base state under `dir`, then warm up. */
  def setup(dir: Path): Unit
  /** One operation of the single client; latency samples are its own. */
  def op(i: Int): Unit
  /** Operations every run makes, even past the window. */
  def minOps: Int = 1
  /** Runs once after the timed phase, as one more operation. */
  def finish(): Unit
  /** End-to-end metrics (name → value), given the timed phase's length. */
  def endToEnd(timedS: Double): Map[String, Double]
  /** Store-state and ratio metrics for the traced run (name → value). */
  def layerState(): Map[String, Double]
  /** Everything else worth keeping in the run report. */
  def report(timedS: Double): Map[String, Any]
}

object Main {
  val Workloads = Seq("serve", "curate")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = req("--workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, req("--seed").toLong, req("--seconds").toInt,
      req("--trace") match {
        case "0" => false
        case "1" => true
        case t => sys.error(s"--trace must be 0 or 1, got '$t'")
      },
      Paths.get(req("--work")).toAbsolutePath)
  }

  /** Worker threads for `local[n]`: SPARK_GRAFT_CPUS when set (it must be
    * a positive integer), else every available processor.
    */
  def cpus(env: Map[String, String]): Int = env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) =>
      val n = v.trim.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_CPUS must be an integer, got '$v'"))
      require(n > 0, s"SPARK_GRAFT_CPUS must be positive, got $n")
      n
  }

  /** The session `graft.Bench` uses, with scratch space kept in `work`. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Cumulative (steal, total) CPU jiffies of the host, from /proc/stat:
    * time the hypervisor gave this machine's CPUs to other guests.
    */
  def cpuSteal(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").tail.map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parseArgs(argv)
    val n = cpus(sys.env)
    Files.createDirectories(args.work)
    val spark = session(n, args.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 // JVM start to ready session
    val ctx = new Ctx(spark, args.seed)
    val w: Workload = args.workload match {
      case "serve" => new Serve(ctx)
      case "curate" => new Curate(ctx)
    }

    // Set-up runs once: the serve store build alone takes most of a
    // run's time budget, so repeating it for a median does not fit. In a
    // traced run it is traced too (root span "setup").
    val listener = if (args.trace) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val rec = new Recorder(v => spark.sparkContext.setLocalProperty(SpanListener.Key, v))
    Trace.recorder = if (args.trace) Some(rec) else None
    val s0 = System.nanoTime()
    if (!ctx.runOp(Trace.span("setup")(w.setup(args.work.resolve("setup")))))
      sys.error("set-up failed")
    val setupS = (System.nanoTime() - s0) / 1e9
    System.err.println(f"perfbench: setup took $setupS%.2f s")

    val opNs = ArrayBuffer.empty[Long]
    var metaReads = 0L
    def probeTotal() =
      graft.sources.GenStore.Probe.snapshot().valuesIterator.sum

    // The timed phase: one client, closed loop.
    val steal0 = cpuSteal()
    val timedStart = System.nanoTime()
    val deadline = timedStart + args.seconds * 1000000000L
    var i = 0
    var lastNs = 0L
    // an operation that would run past the window is not started, so a
    // run measures at most --seconds (beyond the workload's minOps)
    while (i < w.minOps || System.nanoTime() + lastNs <= deadline) {
      rec.beginRequest(i)
      val p0 = probeTotal()
      val o0 = System.nanoTime()
      ctx.runOp(Trace.span("op")(w.op(i)))
      lastNs = System.nanoTime() - o0
      opNs += lastNs
      metaReads += probeTotal() - p0
      i += 1
    }
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val steal1 = cpuSteal()
    val stealFrac = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)
    rec.beginRequest(-1)
    val f0 = System.nanoTime()
    ctx.runOp(Trace.span("finish")(w.finish()))
    System.err.println(f"perfbench: $i operations in $timedS%.2f s, closing work ${(System.nanoTime() - f0) / 1e9}%.2f s")
    Trace.recorder = None

    val metrics: Map[String, (Double, String)] =
      if (!args.trace) {
        val e2e = w.endToEnd(timedS) + ("setup_s" -> (sessionS + setupS))
        e2e.map { case (k, v) => k -> (v, Metrics.EndToEnd(k)) }
      } else {
        val l = listener.get
        l.drain(spark.sparkContext)
        val layer = Metrics.perLayer(rec.spans.toSeq, l, opNs.toSeq, metaReads, n,
          rec.ownNs) ++ w.layerState()
        layer.map { case (k, v) => k -> (v, Metrics.PerLayer(k)) }
      }
    val expected = if (args.trace) Metrics.PerLayer.keySet else Metrics.EndToEnd.keySet
    require(metrics.keySet == expected && metrics.keys.forall(Stats.validName),
      s"metric set mismatch: missing ${expected -- metrics.keySet}, extra ${metrics.keySet -- expected}")

    val outDir = args.work.getParent.resolve("reports")
    if (args.trace) rec.writeJsonl(outDir.resolve(s"${args.workload}-${args.seed}-spans.jsonl"))
    val report = Json.obj(Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "cpus" -> n, "ops" -> i,
      "session_s" -> sessionS, "setup_only_s" -> setupS, "peak_rss_mb" -> peakRssMb(),
      "host_cpu_steal_frac" -> stealFrac,
      "failures" -> ctx.failures.take(20).toSeq) ++ w.report(timedS))
    Files.createDirectories(outDir)
    Files.write(outDir.resolve(s"${args.workload}-${args.seed}-trace${if (args.trace) 1 else 0}.json"),
      report.getBytes("UTF-8"))
    System.err.println("perfbench: report " + report)

    spark.stop()
    val correct = ctx.failed == 0
    val metricJson = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": {$metricJson}}""")
  }
}

/** Minimal JSON writing for the result line and the run report. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"non-finite metric value $d")
    else java.math.BigDecimal.valueOf(d).toPlainString

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else num(d)
    case f: Float => value(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case None => "null"
    case Some(x) => value(x)
    case x => str(x.toString)
  }

  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
