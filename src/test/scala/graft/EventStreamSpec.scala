package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Streaming event analytics equal their batch twins on the same data:
  * watermarked windowed counts vs a plain batch window-group, and
  * flatMapGroupsWithState sessionization vs the oracle-verified q24
  * sessionizer (SURVEY §2.9; prompt streaming toolkit).
  */
class EventStreamSpec extends AnyFunSuite with SharedSpark {

  private val Sf = "/root/testdata/sf0.001"

  private def eventRows() = {
    import spark.implicits._
    graft.core.Tables.eventsMicros(spark, Sf)
      .select(col("user_id"), col("event_id"), col("ts").as("us"), col("value"))
      .as[(Long, Long, Long, Double)]
      .collect().map(r => Event(r._1, r._2, r._3, r._4))
      .sortBy(e => (e.us, e.event_id))
  }

  test("flatMapGroupsWithState sessionization matches batch q24 on replay") {
    import spark.implicits._
    val all = eventRows()
    val gapUs = 1800L * 1000000L

    implicit val sc = spark.sqlContext
    val source = MemoryStream[Event]
    val sessions = EventStream.sessionize(source.toDS(), gapUs)
    val query = sessions.writeStream
      .format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // three time-ordered micro-batches, then sentinels to flush open sessions
      val parts = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
      parts.foreach { p => source.addData(p.toSeq); query.processAllAvailable() }
      val users = all.map(_.user_id).distinct.toSeq
      val flushUs = all.map(_.us).max + gapUs + 1
      source.addData(EventStream.drainSentinels(users, flushUs))
      query.processAllAvailable()

      val streamed = spark.table("sessions_out")
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("start_us"), col("end_us"),
          graft.queries.Catalog.rnd(col("total_value"), 2).as("total_value"))
        .collect().map(_.toSeq).toSet

      val batch = SparkEntry.queries("q24_sessionize")(spark, Sf)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    } finally query.stop()
  }

  test("watermarked windowed activity matches the batch window aggregation") {
    import spark.implicits._
    val all = eventRows()
    implicit val sc = spark.sqlContext
    val source = MemoryStream[Event]
    val streamDf = source.toDS()
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("us")).as("ts"), col("value"))
    val agg = EventStream.windowedActivity(streamDf, "1 hour", "2 hours")
    val query = agg.writeStream
      .format("memory").queryName("activity_out")
      .outputMode("complete").start()
    try {
      all.grouped(2000).foreach { p => source.addData(p.toSeq) }
      query.processAllAvailable()
      val streamed = spark.table("activity_out")
        .select(col("window_start").cast("long"), col("user_id"), col("n_events"),
          graft.queries.Catalog.rnd(col("total_value"), 2))
        .collect().map(_.toSeq).toSet

      val batch = graft.core.Tables.eventsMicros(spark, Sf)
        .select(col("user_id"), timestamp_micros(col("ts")).as("ts"), col("value"))
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
        .select(col("window.start").cast("long"), col("user_id"), col("n_events"),
          graft.queries.Catalog.rnd(col("total_value"), 2))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally query.stop()
  }
}
