package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TextIndex

/** Incremental maintenance semantics of the BM25 serving artifact:
  * upserts merge add/replace/delete deltas without touching unchanged
  * postings, stats stay exact integers, and compaction is a no-op for
  * serving values. (q77 pins end-to-end value parity against the DuckDB
  * inline-BM25 oracle; these tests pin the state machine.)
  */
class TextIndexSpec extends AnyFunSuite with SharedSpark {

  private def docsDF(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def ids(rows: Long*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id")
  }

  private def freshPath(tag: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-tindex-spec-$tag").toFile
    dir.deleteOnExit()
    new java.io.File(dir, "idx").toString
  }

  private def liveState(path: String): (Map[(String, Long), Long], Long, Long) = {
    val idx = TextIndex.read(spark, path)
    val posts = idx.postings.select(col("term"), col("doc"), col("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    (posts, idx.n, idx.sumDl)
  }

  test("upsert add/replace/delete repairs postings, df and exact stats") {
    val path = freshPath("upd")
    TextIndex.write(docsDF(
      1L -> "spark join",          // unchanged
      2L -> "spark spark stale",   // will be replaced
      3L -> "hash transient"),     // will be deleted
      "doc_id", "text", path)
    TextIndex.upsert(spark,
      docsDF(2L -> "spark hash", 4L -> "join join hash"),
      "doc_id", "text", ids(3L), path)

    val (posts, n, sumDl) = liveState(path)
    assert(n == 3, "n = unchanged + replaced + added")
    assert(sumDl == 2 + 2 + 3, "sum_dl over live versions only")
    assert(posts == Map(
      ("spark", 1L) -> 1L, ("join", 1L) -> 1L,
      ("spark", 2L) -> 1L, ("hash", 2L) -> 1L,
      ("join", 4L) -> 2L, ("hash", 4L) -> 1L),
      "stale/deleted versions must be dead, new versions live")

    // df derives from live postings: 'spark' in docs 1,2 (NOT the dead
    // gen-0 version of 2); 'hash' in 2,4 (NOT deleted 3)
    val df = TextIndex.read(spark, path).df
      .select(col("term"), col("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df == Map("spark" -> 2L, "join" -> 2L, "hash" -> 2L))
  }

  test("deleted doc can be re-added by a later upsert") {
    val path = freshPath("readd")
    TextIndex.write(docsDF(1L -> "alpha", 2L -> "beta"), "doc_id", "text", path)
    TextIndex.upsert(spark, docsDF(), "doc_id", "text", ids(1L), path)
    val (afterDel, n1, _) = liveState(path)
    assert(n1 == 1 && afterDel.keySet == Set(("beta", 2L)))
    TextIndex.upsert(spark, docsDF(1L -> "alpha reborn"), "doc_id", "text",
      ids(), path)
    val (afterAdd, n2, sumDl2) = liveState(path)
    assert(n2 == 2 && sumDl2 == 3)
    assert(afterAdd.keySet == Set(("beta", 2L), ("alpha", 1L), ("reborn", 1L)))
  }

  test("deleting a non-existent id is a no-op on stats") {
    val path = freshPath("noop")
    TextIndex.write(docsDF(1L -> "one token"), "doc_id", "text", path)
    TextIndex.upsert(spark, docsDF(), "doc_id", "text", ids(99L), path)
    val (_, n, sumDl) = liveState(path)
    assert(n == 1 && sumDl == 2)
  }

  test("crashed upsert replay: partial generation dropped before redo (no tf doubling)") {
    val path = freshPath("crashreplay")
    // auto-compaction off: this test pins the raw upsert replay window,
    // and a policy-triggered compact between the appends and the
    // simulated crash would make the restored stats an impossible state
    TextIndex.write(docsDF(1L -> "spark join", 2L -> "spark stale"),
      "doc_id", "text", path, batchId = 0L,
      policy = TextIndex.Policy(maxSegments = 100L, maxDeadFraction = 1.1))
    val statsPath = java.nio.file.Paths.get(path, "_graft_stats.json")
    val statsBefore = java.nio.file.Files.readString(statsPath)
    val delta = docsDF(2L -> "hash fresh probe")
    TextIndex.upsert(spark, delta, "doc_id", "text", ids(), path, batchId = 1L)
    val expected = liveState(path)
    // crash between the gen-1 appends and the stats write: the watermark
    // still says batch 0, so the restarted stream re-delivers batch 1 —
    // without gen-dir cleanup this re-append doubles every tf
    java.nio.file.Files.writeString(statsPath, statsBefore)
    TextIndex.upsert(spark, delta, "doc_id", "text", ids(), path, batchId = 1L)
    assert(liveState(path) == expected, "replay after crash changed serving state")
    val idx = TextIndex.read(spark, path)
    assert(idx.n == 2 && idx.sumDl == 2 + 3)
    val tf = idx.postings.filter(col("term") === "hash")
      .select("tf").collect().map(_.getLong(0)).toSeq
    assert(tf == Seq(1L), "replayed batch doubled tf")
  }

  test("compact folds segments+tombstones into gen-0 with identical serving state") {
    val path = freshPath("compact")
    TextIndex.write(docsDF(1L -> "spark join", 2L -> "spark stale"),
      "doc_id", "text", path)
    TextIndex.upsert(spark, docsDF(2L -> "hash fresh", 3L -> "join hash"),
      "doc_id", "text", ids(), path)
    val before = liveState(path)
    TextIndex.compact(spark, path)
    assert(!graft.sources.GenStore.hasParquetData(
      new java.io.File(graft.sources.GenStore.tableDir(path, "tombstones"))),
      "tombstones not retired by the epoch flip")
    val after = liveState(path)
    assert(after == before, "compaction changed serving state")
    // raw layout read on purpose (gen is a partition dir, inferred int)
    val gens = spark.read.parquet(graft.sources.GenStore.tableDir(path, "postings"))
      .select(col("gen").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(gens == Set(0L), "compaction must rewrite everything at gen 0")
    // post-compact the serving plan is the pure-build plan again: no
    // tombstone scan, no live-filter join — reads gen-0 files only
    val plan = TextIndex.read(spark, path).postings
      .queryExecution.executedPlan.toString
    assert(!plan.contains("tombstones"),
      "post-compact serving plan still scans tombstones")
  }

  test("crashed compaction: orphaned next-epoch files are invisible and recovered") {
    val path = freshPath("epochcrash")
    TextIndex.write(docsDF(1L -> "alpha beta", 2L -> "gamma"),
      "doc_id", "text", path,
      policy = TextIndex.Policy(maxSegments = 100L, maxDeadFraction = 1.1))
    TextIndex.upsert(spark, docsDF(2L -> "delta gamma"), "doc_id", "text",
      ids(), path)
    val before = liveState(path)
    // a compaction that crashed mid-rewrite leaves partial files in the
    // NEXT epoch dir with the pointer still on the old epoch: serving
    // must not see them, and the next compact must recover over them
    val e = graft.sources.GenStore.epochOf(path)
    val junk = new java.io.File(s"$path/postings/e${e + 1}/gen=0")
    junk.mkdirs()
    java.nio.file.Files.writeString(
      junk.toPath.resolve("part-00000-junk.parquet"), "not parquet at all")
    assert(liveState(path) == before, "orphan next-epoch files leaked into serving")
    TextIndex.compact(spark, path)
    assert(graft.sources.GenStore.epochOf(path) == e + 1, "compact did not advance the epoch")
    assert(liveState(path) == before, "compact over orphaned junk changed serving state")
  }

  test("auto-maintenance: 60 churn cycles stay policy-bounded with exact serving state") {
    // the zero-touch story: no caller ever invokes compact(), yet read
    // amplification (segment count) and the tombstone list stay bounded
    // by the recorded policy, and serving state is EXACT after every
    // cycle — including the cycles where a compaction fired
    val path = freshPath("churn")
    var model = Map(1L -> "alpha base doc", 2L -> "beta base doc")
    TextIndex.write(docsDF(model.toSeq: _*), "doc_id", "text", path,
      policy = TextIndex.Policy(maxSegments = 4L, maxDeadFraction = 0.5))

    def statGen(): Long = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(path, "_graft_stats.json")))
      node.get("gen").asLong()
    }
    def expectedState(): (Map[(String, Long), Long], Long, Long) = {
      val posts = model.toSeq.flatMap { case (id, text) =>
        text.split(" ").filter(_.nonEmpty).groupBy(identity)
          .map { case (t, occ) => (t, id) -> occ.length.toLong }
      }.toMap
      val dls = model.values.map(_.split(" ").count(_.nonEmpty).toLong)
      (posts, model.size.toLong, dls.sum)
    }

    var prevGen = 0L
    var compactions = 0
    for (i <- 1 to 60) {
      val id = (i % 5) + 1L
      if (i % 7 == 0 && model.contains(id)) {
        model -= id
        TextIndex.upsert(spark, docsDF(), "doc_id", "text", ids(id), path)
      } else {
        model += id -> s"doc body $id version $i churn"
        TextIndex.upsert(spark, docsDF(id -> model(id)), "doc_id", "text",
          ids(), path)
      }
      val g = statGen()
      assert(g < 4L, s"cycle $i: segment count $g escaped the policy bound")
      if (g < prevGen) compactions += 1
      prevGen = g
      if (i % 10 == 0 || g == 0L)
        assert(liveState(path) == expectedState(),
          s"cycle $i: serving state diverged (gen=$g)")
    }
    assert(compactions >= 10,
      s"only $compactions compactions in 60 cycles — trigger not firing")
    assert(liveState(path) == expectedState(), "final serving state diverged")
  }
}
