package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.{DevEmbed, Multimodal}
import graft.sources.{Exports, FileIngest, Note2Json}

/** Drives note2json, exports/listing, multimodal decode and the eval
  * harness in one flow over a real dropzone.
  * Run: sbt "runMain graft.tools.PipelineDemo"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)

    val dz = Files.createTempDirectory("pipe-dz")
    Files.writeString(dz.resolve("journal.md"),
      "# Week plan\n\n**Date:** 2024-03-05\n**Tags:** #plan #spark\n**Tone:** calm\n\n" +
        "**Summary:**\nShip the engine.\n\n**Core Reflections:**\n- test everything\n- keep plans narrow\n")
    Files.writeString(dz.resolve("scratch.txt"), "loose thoughts about buckets and joins")
    Files.write(dz.resolve("cover.png"), Array[Byte](10, 20, 30))
    Files.write(dz.resolve("talk.mp3"), Array[Byte](1, 1, 2, 3, 5, 8))

    println("== note2json over document-level parse (pre-chunk, newlines intact)")
    val documents = FileIngest.parseDirectory(spark, dz.toString)
    val chunks = FileIngest.ingestDirectory(spark, dz.toString, 400, 80)
    documents.filter(col("path").endsWith(".md"))
      .select(col("path"), Note2Json.note2json(col("text"), col("path")).as("n"))
      .select("path", "n.title", "n.date", "n.tags", "n.tone", "n.summary", "n.reflections")
      .show(5, 45)

    println("== export one document as JSONL + manifest")
    val docId = chunks.filter(col("path") === "journal.md").select("document_id").head().getString(0)
    val out = Files.createTempDirectory("pipe-export").resolve("doc").toString
    Exports.exportChunks(chunks, docId).coalesce(1).write.json(out)
    println(Files.list(java.nio.file.Path.of(out)).toArray.mkString("\n"))
    Exports.manifest(chunks, docId).show(2, 45)

    println("== documents listing (chunks ⟗ images)")
    val images = chunks.filter(col("kind") === "image")
    Exports.documentsListing(chunks.filter(col("kind") =!= "image"), images).show(5, 40)

    println("== multimodal batched decode over the same dropzone")
    val decoded = Multimodal.decode(Multimodal.readMedia(spark, dz.toString), batchSize = 2)
    decoded.show(5, 60)
    Multimodal.resizeTo(decoded.toDF(), 256).select("path", "width", "height", "out_width", "out_height").show(5)

    println("== zip archive export for journal.md (S17 + J3 original-file join)")
    val zipBytes = graft.sources.Archive.buildArchive(spark, chunks, docId, Some(dz.toString))
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(zipBytes))
    var entry = zin.getNextEntry
    while (entry != null) {
      println(f"  ${entry.getName}%-22s ${zin.readAllBytes().length}%6d bytes")
      entry = zin.getNextEntry
    }

    println("== SQL l2_normalize -> dot == cosine on the unit sphere")
    graft.functions.Registry.install(spark)
    chunks.limit(3).createOrReplaceTempView("c")
    spark.sql("""
      SELECT path,
             round(dot_product(l2_normalize(vector), l2_normalize(vector)), 10) AS self_dot,
             round(cosine_similarity(vector, vector), 10) AS self_cos
      FROM c""").show(3, 40)

    println("== eval harness over the ingested corpus")
    val corpus = chunks.withColumn("vector", DevEmbed.devEmbed(col("text"), 64))
    val res = AskEval.run(corpus, Seq(
      AskEval.QA("loose thoughts about buckets and joins", "buckets"),
      AskEval.QA("something absent entirely", "nope")))
    println(s"== eval: $res")
    val (batchHits, batchRate) = AskEval.runBatch(corpus, Seq(
      AskEval.QA("loose thoughts about buckets and joins", "buckets"),
      AskEval.QA("something absent entirely", "nope")))
    println(s"== batch eval (one job): hits=$batchHits rate=$batchRate")

    spark.stop()
  }
}
