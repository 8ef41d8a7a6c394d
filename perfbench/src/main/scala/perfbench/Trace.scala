package perfbench

import scala.collection.mutable

/** One recorded span: a layer call made by the benchmark client. */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, var endNs: Long = -1L, var failed: Boolean = false) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Spans nest by a
  * stack; each carries the request it belongs to. The open span's id is
  * published as a Spark local property so the listener can attribute the
  * jobs the call submits to it.
  */
final class Recorder(setSpanProperty: String => Unit) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var request = -1
  /** Nanoseconds the recorder itself spent opening and closing spans. */
  var ownNs = 0L

  def beginRequest(r: Int): Unit = request = r

  def open(name: String): Span = {
    val t0 = System.nanoTime()
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      request, t0)
    spans += s
    stack.push(s)
    setSpanProperty(s.id.toString)
    ownNs += System.nanoTime() - t0
    s
  }

  def close(s: Span, failed: Boolean): Unit = {
    val t0 = System.nanoTime()
    s.endNs = t0
    s.failed = failed
    stack.pop()
    setSpanProperty(stack.headOption.map(_.id.toString).orNull)
    ownNs += System.nanoTime() - t0
  }

  /** Spans as JSON lines: id, name, parent, request, start, end (ns). */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""failed":${s.failed}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** The benchmark's tracing switch: every layer call goes through [[span]];
  * with no recorder installed it only times nothing and calls through.
  */
object Trace {
  @volatile var recorder: Option[Recorder] = None

  def span[T](name: String)(body: => T): T = recorder match {
    case None => body
    case Some(r) =>
      val s = r.open(name)
      var ok = false
      try { val v = body; ok = true; v }
      finally r.close(s, failed = !ok)
  }

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children (children may overlap; their union counts).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Latency statistics under the benchmark's reporting rule. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail: the highest order statistic with at least ten samples
    * beyond it, with the percentile it stands for. None below 11 samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val r = s.size - 11 // rank (0-based) with exactly ten samples above it
      Some((s(r), 100.0 * (r + 1) / s.size))
    }

  private val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(name: String): Boolean = NamePattern.matches(name)
}
