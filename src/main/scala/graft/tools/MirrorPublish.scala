package graft.tools

import org.apache.spark.sql.SparkSession

import graft.sources.{ChunkStore, JdbcMirror}
import graft.streaming.Dropzone

/** Publish a chunk store — and, when present, the dropzone's accumulated
  * per-batch skip ledger — into the relational mirror: the operational
  * entry point for the reference's Postgres side (worker writes
  * documents/chunks per ingest and logs its skip ledger,
  * ingest_dropzone.py:512-522; here the ledger lands queryable in
  * `skipped_files` beside the data instead of scrolling away in a log).
  *
  * Run: sbt "runMain graft.tools.MirrorPublish <chunkStore> <jdbcUrl> [skipLedgerDir]"
  *   e.g. jdbcUrl = jdbc:derby:/tmp/mirror/db;create=true   (embedded)
  *        jdbcUrl = jdbc:postgresql://host/db               (reference shape)
  *
  * Idempotent end-to-end: chunk/document rows replace by their
  * deterministic ids, skip rows by the deterministic (batch, path) key —
  * re-running a publish after a partial failure converges instead of
  * duplicating.
  */
object MirrorPublish {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: MirrorPublish <chunkStorePath> <jdbcUrl> [skipLedgerDir]")
    val Array(store, url) = args.take(2)
    // A session may already exist when main() runs embedded (the spec
    // drives the real entry point; a driver script may publish several
    // stores). Use a LIVE existing session completely untouched — going
    // through the builder would silently apply this tool's runtime confs
    // (shuffle partitions, log level) to the HOST's session, a
    // config leak that outlives the publish — and only stop what this
    // run created. The isStopped filter matters for back-to-back main()
    // calls: a stopped default session can linger until Spark's app-end
    // listener clears it.
    val existing = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    val spark = existing.getOrElse(graft.core.Session.local(graft.core.Session.cpus))

    val t = JdbcMirror.Target(url,
      sys.env.getOrElse("GRAFT_PG_USER", ""),
      sys.env.getOrElse("GRAFT_PG_PASSWORD", ""))
    val now = new java.sql.Timestamp(System.currentTimeMillis())

    // row counts come back from the publish INSERT's update count — a
    // `df.count()` here would re-execute the full store-read lineage a
    // second time just to print a number (r12 advice)
    val chunks = ChunkStore.read(spark, store)
    val nChunks = JdbcMirror.mirrorChunks(chunks, t, now)
    println(s"mirrored $nChunks chunk rows -> $url")

    args.drop(2).headOption.foreach { ledgerDir =>
      val ledger = Dropzone.readSkipLedger(spark, ledgerDir)
      val nSkips = JdbcMirror.mirrorSkipLedger(ledger, t, now)
      println(s"mirrored $nSkips skip-ledger rows -> skipped_files")
    }
    if (existing.isEmpty) spark.stop()
  }
}
