package graft.tools

import graft.core.Session

/** Drives the SQL-facing surface: Registry-installed functions +
  * observe-based telemetry, through spark.sql only.
  * Run: sbt "runMain graft.tools.SqlDemo"
  */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)
    graft.functions.Registry.install(spark)
    graft.core.Telemetry.install(spark)

    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("documents")

    println("== pure-SQL pipeline: chunk + id + embed + shingle over documents")
    spark.sql("""
      SELECT doc_id,
             uuid5('00000000-0000-5000-8000-000000000000', concat('docs/', doc_id)) AS document_id,
             size(chunk_text(text, 100, 20)) AS n_chunks,
             dev_embed(substr(text, 1, 40), 4)[0] AS e0,
             size(word_shingles(text, 3)) AS n_shingles,
             band_minhash(word_shingles(text, 3), 32, 8)[0] AS band0
      FROM documents ORDER BY doc_id LIMIT 5""").show(5, 45)

    println("== SQL cosine search")
    spark.sql("""
      SELECT doc_id, round(cosine_similarity(dev_embed(text, 32),
             dev_embed('spark join filter', 32)), 4) AS score
      FROM documents ORDER BY score DESC, doc_id LIMIT 3""").show()

    println("== probe: typo'd function name")
    try spark.sql("SELECT chunk_txt(text, 100, 20) FROM documents").collect()
    catch { case e: Exception =>
      println("  error: " + e.getMessage.linesIterator.take(2).mkString(" / ")) }

    println("== probe: non-literal size arg")
    try spark.sql("SELECT chunk_text(text, doc_id, 20) FROM documents").collect()
    catch { case e: Exception =>
      println("  error: " + e.getMessage.linesIterator.next()) }

    spark.stop()
  }
}
