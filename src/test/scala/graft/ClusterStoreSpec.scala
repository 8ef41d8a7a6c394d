package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.{BandStore, ClusterStore}

/** Incremental lifecycle of the persisted cluster-label table (r16
  * verdict Next #1): incremental union-find maintenance from the band
  * store's delta probe must be row-for-row indistinguishable from a full
  * rebuild — including the interesting arm where a delta doc BRIDGES two
  * published clusters and every member of the losing component relabels —
  * replays must be no-ops, a torn append must be invisible behind the
  * committed-gen gate, and the served labels must equal the inline
  * MinHash→verify→CC pass on the real corpus.
  */
class ClusterStoreSpec extends AnyFunSuite with SharedSpark {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docsDF(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // --- engineered corpus: two well-separated clusters + singletons.
  // Jaccard geometry (3-word shingles): members within a cluster ≈ 0.89,
  // member↔bridge ≈ 0.85, X-member↔Y-member ≈ 0.71 — so at threshold
  // 0.8 the X/Y clusters stay separate until the bridge doc arrives.
  private val U = (0 until 40).map(i => s"u$i")
  private def xText(tail: String) = (U.take(36) :+ tail).mkString(" ")
  private def yText(tail: String) = (U.drop(4) :+ tail).mkString(" ")
  private val Thresh = 0.8

  private val base: Seq[(Long, String)] = Seq(
    0L -> (0 until 30).map(i => s"s0w$i").mkString(" "), // singletons
    1L -> (0 until 30).map(i => s"s1w$i").mkString(" "),
    10L -> xText("xa xb"), 11L -> xText("xc xd"), // cluster X → label 10
    20L -> yText("ya yb"), 21L -> yText("yc yd")) // cluster Y → label 20

  private def serve(path: String): Map[Long, (Long, Boolean)] =
    ClusterStore.read(spark, path).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  private def rebuildLabels(rows: Seq[(Long, String)]): Map[Long, (Long, Boolean)] = {
    val p = tmpDir("clusterstore-ref-bands")
    BandStore.write(docsDF(rows), "doc_id", "text", p, 32, 8)
    val c = tmpDir("clusterstore-ref")
    ClusterStore.write(docsDF(rows), BandStore.read(spark, p, 32, 8),
      "doc_id", "text", c, Thresh)
    serve(c)
  }

  /** One maintained store: band store + cluster store, delta-appended in
    * lockstep (the Dropzone ordering — band upsert first, then labels).
    */
  private final class Maintained(rows0: Seq[(Long, String)]) {
    val bandPath = tmpDir("clusterstore-bands")
    val path = tmpDir("clusterstore")
    var corpus: Seq[(Long, String)] = rows0
    BandStore.write(docsDF(rows0), "doc_id", "text", bandPath, 32, 8)
    ClusterStore.write(docsDF(rows0),
      BandStore.read(spark, bandPath, 32, 8), "doc_id", "text", path, Thresh)
    def append(delta: Seq[(Long, String)], batchId: Long): Unit = {
      import spark.implicits._
      corpus = corpus ++ delta
      BandStore.upsert(spark, docsDF(delta), "doc_id", "text",
        Seq.empty[Long].toDF("doc_id"), bandPath, 32, 8, batchId = batchId)
      ClusterStore.append(spark, docsDF(delta), docsDF(corpus),
        BandStore.read(spark, bandPath, 32, 8), "doc_id", "text", path,
        Thresh, batchId = batchId)
    }
  }

  test("full build: two separated clusters, min-member labels, singletons rowless") {
    val got = rebuildLabels(base)
    assert(got == Map(
      10L -> (10L, true), 11L -> (10L, false),
      20L -> (20L, true), 21L -> (20L, false)),
      s"unexpected labels: $got")
  }

  test("append == rebuild: joiner, bridge merge that RELABELS, delta-internal cluster, pair-free doc") {
    val m = new Maintained(base)
    // batch 1: a plain joiner — inherits X's label, relabels nothing
    m.append(Seq(12L -> xText("xe xf")), batchId = 1L)
    assert(serve(m.path) == rebuildLabels(m.corpus))
    assert(serve(m.path)(12L) == (10L, false), "joiner must inherit label 10")

    // batch 2: the interesting arm — doc 5 bridges X and Y AND is the new
    // global min, so EVERY member of both published clusters relabels;
    // plus a delta-internal new cluster (30, 31) and a pair-free doc (40)
    val v = (0 until 30).map(i => s"v$i")
    m.append(Seq(
      5L -> U.mkString(" "),
      30L -> (v :+ "za").mkString(" "),
      31L -> (v :+ "zb").mkString(" "),
      40L -> (0 until 30).map(i => s"w$i").mkString(" ")), batchId = 2L)
    val got = serve(m.path)
    assert(got == rebuildLabels(m.corpus),
      s"incremental drifted from full rebuild: $got")
    assert(got == Map(
      5L -> (5L, true), 10L -> (5L, false), 11L -> (5L, false),
      12L -> (5L, false), 20L -> (5L, false), 21L -> (5L, false),
      30L -> (30L, true), 31L -> (30L, false)),
      s"bridge merge must relabel both clusters to the new min: $got")
  }

  test("replay idempotence: a redelivered batch id is a no-op") {
    val m = new Maintained(base)
    val delta = Seq(5L -> U.mkString(" "))
    m.append(delta, batchId = 1L)
    val before = serve(m.path)
    val statsBefore = ClusterStore.readStats(m.path)
    // redeliver the SAME batch (watermark must swallow it)
    ClusterStore.append(spark, docsDF(delta), docsDF(m.corpus),
      BandStore.read(spark, m.bandPath, 32, 8), "doc_id", "text", m.path,
      Thresh, batchId = 1L)
    assert(serve(m.path) == before)
    assert(ClusterStore.readStats(m.path) == statsBefore)
  }

  test("torn append is invisible behind the committed-gen gate; redo converges") {
    val m = new Maintained(base)
    val before = serve(m.path)
    val statsFile = java.nio.file.Paths.get(m.path, "_graft_stats.json")
    val statsBefore = java.nio.file.Files.readString(statsFile)
    val delta = Seq(5L -> U.mkString(" "))
    m.append(delta, batchId = 1L)
    // simulate the crash: gen-1 segments + tombstones landed, stats did
    // not (stats are written LAST, so this is the only torn state)
    java.nio.file.Files.writeString(statsFile, statsBefore)
    assert(serve(m.path) == before,
      "uncommitted generation must be invisible to readers")
    // redo under the same batch id: partial gen dropped, then re-applied
    ClusterStore.append(spark, docsDF(delta), docsDF(m.corpus),
      BandStore.read(spark, m.bandPath, 32, 8), "doc_id", "text", m.path,
      Thresh, batchId = 1L)
    assert(serve(m.path) == rebuildLabels(m.corpus))
  }

  test("real corpus: ensure == the inline MinHash→verify→CC pass (q85 basis)") {
    val d = "/root/testdata/sf0.01"
    val docs = graft.core.Tables.fanOut(graft.core.Tables(spark, d, "documents"))
    val served = ClusterStore.ensure(spark, docs, "doc_id", "text", d,
        BandStore.ensure(spark, docs, "doc_id", "text", d))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val inline = Dedup.duplicateClusters(
        Dedup.minhashNearDuplicates(docs, "doc_id", "text",
          numHashes = 32, bands = 8, threshold = 0.5), "a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(served.nonEmpty, "sf0.01 has organic near-dup classes; empty store is a build failure")
    assert(served == inline,
      s"store-only=${served -- inline} inline-only=${inline -- served}")
  }
}
