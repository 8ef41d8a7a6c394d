package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.sources.Exports
import graft.tools.AskEval

class ExportsMultimodalSpec extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def chunkDf = Seq(
    ("c1", "docA", "text", "a.txt", 0, "alpha beta"),
    ("c2", "docA", "text", "a.txt", 1, "gamma delta"),
    ("c3", "docB", "text", "b.txt", 0, "epsilon")
  ).toDF("id", "document_id", "kind", "path", "idx", "text")

  private def imageDf = Seq(
    ("i1", "docA", "image", "a.png", 0, "image: a.png"),
    ("i2", "docC", "image", "c.png", 0, "image: c.png")
  ).toDF("id", "document_id", "kind", "path", "idx", "text")

  test("export: stable fields, idx-ordered; manifest counts + stable sha") {
    val ex = Exports.exportChunks(chunkDf, "docA").collect()
    assert(ex.map(_.getAs[Int]("idx")).toSeq == Seq(0, 1))
    assert(ex.head.schema.fieldNames.toSeq ==
      Seq("id", "document_id", "kind", "path", "idx", "text"))

    val m1 = Exports.manifest(chunkDf, "docA").head()
    assert(m1.getAs[Long]("chunk_count") == 2)
    // stable across row order: repartitioned input gives the same sha
    val m2 = Exports.manifest(chunkDf.repartition(5), "docA").head()
    assert(m1.getAs[String]("content_sha256") == m2.getAs[String]("content_sha256"))

    // JSONL write path (S15/S16)
    val out = Files.createTempDirectory("export").resolve("doc").toString
    Exports.exportChunks(chunkDf, "docA").coalesce(1).write.json(out)
    val lines = spark.read.json(out)
    assert(lines.count() == 2)
  }

  test("export fallback lookup prefers chunks, falls back to images (J2)") {
    // docA exists in both collections -> chunk rows only
    val a = Exports.exportDocument(chunkDf, imageDf, "docA").collect()
    assert(a.map(_.getAs[String]("id")).toSeq == Seq("c1", "c2"))
    // docC has no text chunks -> image rows serve the export
    val c = Exports.exportDocument(chunkDf, imageDf, "docC").collect()
    assert(c.map(_.getAs[String]("id")).toSeq == Seq("i2"))
    // unknown doc -> empty
    assert(Exports.exportDocument(chunkDf, imageDf, "nope").isEmpty)
  }

  test("synthesis gate trips exactly at the min score (A5, ask.py:448-463)") {
    import graft.operators.SearchOps
    val hits = Seq(("h1", 0.54), ("h2", 0.31)).toDF("id", "score")
    assert(!SearchOps.synthesisGate(hits)) // max 0.54 < 0.55
    val hits2 = Seq(("h1", 0.55), ("h2", 0.31)).toDF("id", "score")
    assert(SearchOps.synthesisGate(hits2)) // >= is inclusive
    assert(SearchOps.synthesisGate(hits, minSynthScore = 0.5))
    // empty hits: no_sources -> false (the scalar form used to NPE here)
    assert(!SearchOps.synthesisGate(hits.filter(col("score") > 1.0)))
  }

  test("synthesis gate batch form classifies per query incl. zero-hit queries") {
    import graft.operators.SearchOps
    val scored = Seq(
      (1L, 0.80), (1L, 0.10),            // synthesized (0.10 below pool min)
      (2L, 0.54), (2L, 0.30),            // low_confidence
      (3L, 0.15))                        // all below pool min -> no_sources
      .toDF("query_id", "score")
    val qids = Seq(1L, 2L, 3L, 4L).toDF("query_id") // 4 has no hits at all
    val out = SearchOps.synthesisGateBatch(scored, qids)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 0.80, "synthesized"),
      (2L, 2L, 0.54, "low_confidence"),
      (3L, 0L, 0.0, "no_sources"),
      (4L, 0L, 0.0, "no_sources")))
  }

  test("documents listing merges chunk and image collections (J1 full outer)") {
    val listing = Exports.documentsListing(chunkDf, imageDf).collect()
      .map(r => r.getAs[String]("document_id") ->
        (r.getAs[Long]("chunks_count"), r.getAs[Long]("images_count"))).toMap
    assert(listing == Map(
      "docA" -> (2L, 1L), "docB" -> (1L, 0L), "docC" -> (0L, 1L)))
  }

  test("multimodal: batched stub decode over binary rows; resize + frames") {
    val dir = Files.createTempDirectory("media")
    Files.write(dir.resolve("pic.png"), Array[Byte](1, 2, 3, 4))
    Files.write(dir.resolve("clip.mp3"), Array[Byte](9, 9, 9))
    val media = Multimodal.readMedia(spark, dir.toString)
    val decoded = Multimodal.decode(media, batchSize = 1)
    val rows = decoded.collect().map(r => r.kind -> r).toMap
    assert(rows("image").durationMs == 0 && rows("image").width >= 64)
    assert(rows("audio").durationMs > 0)
    assert(rows("image").caption.startsWith("image stub:"))
    // determinism
    val again = Multimodal.decode(media, batchSize = 7).collect().map(r => r.kind -> r).toMap
    assert(again("image") == rows("image"))

    val resized = Multimodal.resizeTo(decoded.toDF(), 128).collect()
    assert(resized.forall(r => r.getAs[Int]("out_width") <= 128 &&
      r.getAs[Int]("out_height") <= 128))

    val frames = Multimodal.sampleFrames(decoded.toDF(), 500)
    assert(frames.count() >= 2) // audio duration >= 1s -> >= 2 samples at 500ms
  }

  test("eval harness: perfect corpus scores hit@1 = 1.0") {
    val corpus = chunkDf.withColumn("vector",
      graft.operators.DevEmbed.devEmbed(col("text"), 64))
    val res = AskEval.run(corpus, Seq(
      AskEval.QA("alpha beta", "alpha"),
      AskEval.QA("epsilon", "epsilon")))
    assert(res.hitRate == 1.0)
    assert(res.p50Ms > 0 && res.p95Ms >= res.p50Ms)
  }

  test("zip archive: jsonl + manifest + original source file (S17/J3)") {
    import java.util.zip.ZipInputStream
    val dir = Files.createTempDirectory("arch-dz")
    Files.writeString(dir.resolve("doc.txt"), "the original bytes of the document")
    val chunks = graft.sources.FileIngest.ingestDirectory(spark, dir.toString, 200, 40)
    val docId = chunks.select("document_id").head().getString(0)

    val bytes = graft.sources.Archive.buildArchive(spark, chunks, docId, Some(dir.toString))
    val zin = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    var entries = Map.empty[String, String]
    var e = zin.getNextEntry
    while (e != null) {
      entries += e.getName -> new String(zin.readAllBytes(), "UTF-8")
      e = zin.getNextEntry
    }
    assert(entries.keySet == Set("chunks.jsonl", "manifest.json", "source/doc.txt"))
    assert(entries("source/doc.txt") == "the original bytes of the document")
    assert(entries("manifest.json").contains("\"chunk_count\": 1"))
    assert(entries("chunks.jsonl").contains("\"idx\":0"))
  }

  test("batch search: one job, per-query top-k matches the serving path") {
    val corpus = chunkDf.withColumn("vector",
      graft.operators.DevEmbed.devEmbed(col("text"), 64))
    val qas = Seq(
      AskEval.QA("alpha beta", "alpha"),
      AskEval.QA("gamma delta", "gamma"),
      AskEval.QA("nothing like this", "zzz"))
    val (hits, rate) = AskEval.runBatch(corpus, qas)
    assert(hits == 2 && math.abs(rate - 2.0 / 3) < 1e-9)

    // per-query ranks are dense and scores descending within a query
    import spark.implicits._
    val queries = qas.zipWithIndex.map { case (qa, i) => (i.toLong, qa.question) }
      .toDF("query_id", "q")
      .withColumn("qv", graft.operators.DevEmbed.devEmbed(col("q"), 64))
      .select("query_id", "qv")
    val res = graft.operators.SearchOps.batchSearch(corpus, queries, k = 2).collect()
    assert(res.length == 6) // 3 queries x k=2
    qas.indices.foreach { q =>
      val rows = res.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      assert(rows.map(_.getInt(1)).toSeq == Seq(1, 2))
      assert(rows(0).getAs[Double]("score") >= rows(1).getAs[Double]("score"))
    }
  }

  test("batch search heap tie-break matches the window's UTF-8 binary id order") {
    import spark.implicits._
    // Three rows with IDENTICAL vectors (tied scores) in one partition, k=2:
    // the heap must evict by the same order the final window ranks with.
    // UTF-16 code-unit order: "z" < U+10000 (surrogate 0xD800) < U+E000,
    // UTF-8 byte order:       "z" < U+E000 (EE..)   < U+10000 (F0..).
    // A UTF-16 heap would evict U+E000 and the top-2 would be wrong.
    val idPrivateUse = ""
    val idSupplementary = "𐀀" // U+10000
    val corpus = Seq(
      ("z", "d1"), (idPrivateUse, "d2"), (idSupplementary, "d3"))
      .toDF("id", "document_id")
      .withColumn("kind", lit("text")).withColumn("path", lit("p"))
      .withColumn("idx", lit(0)).withColumn("text", lit("same text"))
      .withColumn("vector", graft.operators.DevEmbed.devEmbed(col("text"), 8))
      .repartition(1)
    val queries = Seq(Tuple1(0L)).toDF("query_id")
      .withColumn("qv", graft.operators.DevEmbed.devEmbed(lit("same text"), 8))
    val res = graft.operators.SearchOps.batchSearch(corpus, queries, k = 2)
      .orderBy("rank").collect()
    assert(res.map(_.getString(2)).toSeq == Seq("z", idPrivateUse))
  }
}
