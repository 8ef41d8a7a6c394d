package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestStore

/** Incremental lifecycle of the loader manifest (the q77/q78/q79
  * equivalence discipline stated for an ORDER-BEARING artifact): an
  * append packs the delta into fresh sequences at each epoch's tail,
  * published base spans stay bit-identical, signatures of untouched
  * shards are never rewritten, and the incrementally-folded signatures
  * equal a full recompute over the combined span set.
  */
class ManifestStoreSpec extends AnyFunSuite with SharedSpark {

  private val P = ManifestStore.Params(epochs = 2, buckets = 1000L,
    seqLen = 16L, shards = 4L)

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("manifeststore-spec").toString

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // deterministic texts: doc i has (3 + i % 9) tokens
  private def mkDocs(ids: Seq[Long]): Seq[(Long, String)] =
    ids.map(i => (i, Seq.fill(3 + (i % 9).toInt)(s"w$i").mkString(" ")))

  private def spanSet(df: org.apache.spark.sql.DataFrame)
      : Set[(Long, Long, Long, Long, Long, Long, Long)] =
    df.select("epoch", "shard", "seq_id", "doc_id", "doc_tok_start",
        "seq_tok_start", "n_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet

  test("build round-trip: persisted spans == the packing kernel; sigs == recompute") {
    val base = mkDocs(0L until 30L)
    val path = tmpDir()
    ManifestStore.write(docsDF(base), "doc_id", "text", path, P)
    val st = ManifestStore.read(spark, path)
    val toks = ManifestStore.tokCounts(docsDF(base), "doc_id", "text")
      .localCheckpoint()
    val direct = ManifestStore.spanRows(toks, baseTok = 0L, P)
    assert(spanSet(st.spans) == spanSet(direct),
      "persisted spans drifted from the packing kernel")
    val sigStore = st.sigs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val sigDirect = ManifestStore.sigRows(direct).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(sigStore == sigDirect, "persisted sigs drifted from recompute")
  }

  test("append packs at the tail: base spans immutable, delta past the base offset, stream tiles") {
    val base = mkDocs(0L until 30L)
    val delta = mkDocs(100L until 110L)
    val path = tmpDir()
    ManifestStore.write(docsDF(base), "doc_id", "text", path, P)
    val baseSpans = spanSet(ManifestStore.read(spark, path).spans)
    val (_, _, baseTok) = ManifestStore.readStats(path)
    assert(baseTok == base.map(_._2.split(" ").length.toLong).sum,
      "stats tail offset is not the base token total")

    ManifestStore.append(spark, docsDF(delta), "doc_id", "text", path, P)
    val st = ManifestStore.read(spark, path)
    val all = spanSet(st.spans)

    // published base sequences are bit-identical after the append
    assert(baseSpans.subsetOf(all), "append rewrote published base spans")
    // every delta span sits at or past the base tail: its global token
    // start (seq_id*L + seq_tok_start) >= baseTok
    val deltaSpans = all -- baseSpans
    assert(deltaSpans.nonEmpty && deltaSpans.forall(_._4 >= 100L),
      "delta spans carry non-delta docs")
    assert(deltaSpans.forall(s => s._3 * P.seqLen + s._6 >= baseTok),
      "a delta span packed before the base tail")
    // per epoch the combined stream tiles [0, total): token mass equals
    // the corpus total and per-sequence starts partition each sequence
    val totalTok = (base ++ delta).map(_._2.split(" ").length.toLong).sum
    val (_, _, tailTok) = ManifestStore.readStats(path)
    assert(tailTok == totalTok, "stats tail offset drifted after append")
    for (e <- 0L until P.epochs) {
      val es = all.filter(_._1 == e).toSeq
      assert(es.map(_._7).sum == totalTok, s"epoch $e lost token mass")
      // sequence ids are contiguous from 0 to the last
      val seqs = es.map(_._3).distinct.sorted
      assert(seqs == (0L to seqs.max).toSeq, s"epoch $e has sequence gaps")
      // within each sequence, spans tile without gaps or overlaps
      es.groupBy(_._3).foreach { case (seq, ss) =>
        val sorted = ss.sortBy(_._6)
        assert(sorted.head._6 == 0L, s"epoch $e seq $seq does not start at 0")
        sorted.sliding(2).foreach {
          case Seq(a, b) =>
            assert(a._6 + a._7 == b._6,
              s"epoch $e seq $seq has a gap/overlap at ${b._6}")
          case _ =>
        }
        val fill = sorted.last._6 + sorted.last._7
        assert(fill == P.seqLen || seq == seqs.max,
          s"epoch $e seq $seq under-filled mid-stream ($fill)")
      }
      // shards stay the seq_id % shards striping
      es.foreach(s => assert(s._2 == s._3 % P.shards, "shard striping broke"))
    }
  }

  test("signatures: incremental partial fold == full recompute; untouched shards keep gen-0 partials only") {
    val base = mkDocs(0L until 30L)
    val delta = mkDocs(100L until 103L) // small delta: touches few shards
    val path = tmpDir()
    ManifestStore.write(docsDF(base), "doc_id", "text", path, P)
    ManifestStore.append(spark, docsDF(delta), "doc_id", "text", path, P)
    val st = ManifestStore.read(spark, path)
    val folded = st.sigs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val recomputed = ManifestStore.sigRows(st.spans).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(folded == recomputed,
      "incrementally-folded signatures drifted from the full recompute")
    // gen-1 partials exist ONLY for (epoch, shard) the delta touched
    val sigsRaw = graft.sources.GenStore.seg(spark,
      graft.sources.GenStore.tableDir(path, "sigs"))
    val gen1 = sigsRaw.filter(col("gen") === 1L).select("epoch", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deltaTouched = st.spans.filter(col("doc_id") >= 100L)
      .select("epoch", "shard")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gen1 == deltaTouched,
      s"gen-1 sig partials $gen1 != delta-touched shards $deltaTouched")
  }

  test("append is replay-idempotent via batchId; serve state unchanged on the replay") {
    val base = mkDocs(0L until 20L)
    val delta = mkDocs(200L until 205L)
    val path = tmpDir()
    ManifestStore.write(docsDF(base), "doc_id", "text", path, P)
    ManifestStore.append(spark, docsDF(delta), "doc_id", "text", path, P,
      batchId = 7L)
    val before = spanSet(ManifestStore.read(spark, path).spans)
    val statsBefore = ManifestStore.readStats(path)
    ManifestStore.append(spark, docsDF(delta), "doc_id", "text", path, P,
      batchId = 7L) // replay: must be a no-op
    assert(spanSet(ManifestStore.read(spark, path).spans) == before,
      "replayed append changed the manifest")
    assert(ManifestStore.readStats(path) == statsBefore,
      "replayed append moved the stats sidecar")
  }

  test("a torn append is invisible to readers until its redo (committed-gen gate)") {
    import org.apache.spark.sql.functions._
    val base = mkDocs(0L until 20L)
    val delta = mkDocs(300L until 305L)
    val path = tmpDir()
    ManifestStore.write(docsDF(base), "doc_id", "text", path, P)
    val before = spanSet(ManifestStore.read(spark, path).spans)
    val sigsBefore = ManifestStore.read(spark, path).sigs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // simulate the crash window: spans of gen 1 land on disk, but the
    // sigs write and the stats commit never happen
    val toks = ManifestStore.tokCounts(docsDF(delta), "doc_id", "text")
      .localCheckpoint()
    ManifestStore.spanRows(toks, baseTok = 9999L, P)
      .withColumn("gen", lit(1L))
      .write.mode("append").partitionBy("gen", "epoch")
      .parquet(graft.sources.GenStore.tableDir(path, "spans"))
    val st = ManifestStore.read(spark, path)
    assert(spanSet(st.spans) == before,
      "a torn (uncommitted) append's spans leaked into the serve frame")
    val sigsAfter = st.sigs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(sigsAfter == sigsBefore,
      "a torn append moved the served signatures")
    // the redo path heals it: a real append drops the partial gen first
    ManifestStore.append(spark, docsDF(delta), "doc_id", "text", path, P)
    val healed = ManifestStore.read(spark, path)
    assert(spanSet(healed.spans).size > before.size,
      "the redo append did not land the delta")
    val recomputed = ManifestStore.sigRows(healed.spans).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val folded = healed.sigs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(folded == recomputed,
      "post-redo signatures drifted from recompute — torn partials leaked")
  }

  test("ensure builds once and is a pure read afterwards; stamp change rebuilds") {
    val dir = tmpDir()
    val docs = docsDF(mkDocs(0L until 10L))
    docs.write.parquet(s"$dir/documents.parquet")
    def load() = spark.read.parquet(s"$dir/documents.parquet")
    val st1 = ManifestStore.ensure(spark, load(), "doc_id", "text", dir, P)
    val n1 = st1.spans.count()
    assert(n1 > 0, "ensure built an empty manifest")
    val path = ManifestStore.storePath(dir)
    val epoch1 = graft.sources.GenStore.epochOf(path)
    ManifestStore.ensure(spark, load(), "doc_id", "text", dir, P)
    assert(graft.sources.GenStore.epochOf(path) == epoch1,
      "a fresh ensure rebuilt an up-to-date manifest")
    // a source append changes the stamp -> full rebuild at the next epoch
    docsDF(mkDocs(50L until 55L)).write.mode("append")
      .parquet(s"$dir/documents.parquet")
    ManifestStore.ensure(spark, load(), "doc_id", "text", dir, P)
    assert(graft.sources.GenStore.epochOf(path) > epoch1,
      "stale manifest was not rebuilt on a source stamp change")
  }
}
