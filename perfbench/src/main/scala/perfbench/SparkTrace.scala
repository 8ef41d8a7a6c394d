package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Engine counters attributed to one span. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var schedWaitMs = 0L
  var recordsRead = 0L
}

/** The benchmark's own listener. A job or stage carries the span id that
  * was open on the client thread when it was submitted (a local
  * property), so events delivered later on the listener bus still land on
  * the right span. Counters of work outside any span go to key -1.
  */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, SpanCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  @volatile var jobsStarted = 0L
  @volatile var jobsEnded = 0L
  /** Time spent inside this listener's callbacks. */
  @volatile var ownNs = 0L

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .map(_.toInt).getOrElse(-1)

  private def counters(span: Int): SpanCounters =
    bySpan.computeIfAbsent(span, _ => new SpanCounters)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    ownNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val s = spanOf(e.properties)
    e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    counters(s).synchronized { counters(s).jobs += 1 }
    jobsStarted += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed { jobsEnded += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stageSpan.getOrDefault(e.stageId, -1)
    val c = counters(s)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      val submit = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wait until every job seen to start has been seen to end, so counts
    * are complete before they are read (events arrive asynchronously).
    */
  def drain(sc: org.apache.spark.SparkContext, timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quiet = 0
    var last = -1L
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val settled = sc.statusTracker.getActiveJobIds().isEmpty &&
        jobsEnded == jobsStarted
      if (settled && jobsEnded == last) quiet += 1 else quiet = 0
      last = jobsEnded
    }
  }
}

object SpanListener {
  val Key = "perfbench.span"
}
