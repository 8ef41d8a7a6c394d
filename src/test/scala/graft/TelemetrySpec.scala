package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Telemetry
import graft.functions.Registry

class TelemetrySpec extends AnyFunSuite with SharedSpark {

  test("observe-based ingest metrics are captured by the listener (A4/A7)") {
    import spark.implicits._
    Telemetry.install(spark)
    val chunks = Seq(
      ("c1", "d1", "text", "a.txt", 0, "hello"),
      ("c2", "d1", "text", "a.txt", 1, "world"),
      ("c3", "d2", "csv", "b.csv", 0, "x | y"))
      .toDF("id", "document_id", "kind", "path", "idx", "text")
    Telemetry.observeIngest(chunks, runId = "test-run").count()
    // listener fires asynchronously on success; poll briefly for delivery
    val deadline = System.nanoTime() + 10_000_000_000L
    while (Telemetry.metrics("test-run").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    val m = Telemetry.metrics("test-run")
    assert(m.isDefined, "metrics row not captured")
    assert(m.get.getAs[Long]("chunks") == 3)
    assert(m.get.getAs[Long]("kind_text") == 2)
    assert(m.get.getAs[Long]("kind_csv") == 1)
    assert(m.get.getAs[Long]("chars") == 15)
  }

  test("SQL registry exposes custom expressions to spark.sql") {
    Registry.install(spark)
    val row = spark.sql(
      """SELECT
         uuid5('00000000-0000-5000-8000-000000000000', 'notes/a.md') AS id,
         cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cos,
         size(chunk_text('aaaa bbbb cccc', 10, 3)) AS n_chunks,
         dev_embed('hello', 4)[0] AS e0,
         size(word_shingles('a b c d', 3)) AS n_shingles,
         nearest_cell(array(0.9d, 0.1d),
           array(array(1.0d, 0.0d), array(0.0d, 1.0d))) AS cell""").head
    assert(row.getAs[String]("id") == "6d64ace0-3d62-5690-995e-4e90e20c9aef")
    assert(row.getAs[Double]("cos") == 1.0)
    assert(row.getAs[Int]("n_chunks") > 0)
    assert(row.getAs[Double]("e0") == 0.171875)
    assert(row.getAs[Int]("n_shingles") == 2)
    assert(row.getAs[Int]("cell") == 0) // (0.9,0.1) is nearest the x-axis centroid
    // quantization + PQ surface: int literals cast to the declared shapes
    val row2 = spark.sql(
      """SELECT
         i8_dot(i8_quantize(array(1.0d, -1.0d), i8_scale(array(1.0d, -1.0d))),
                i8_quantize(array(1.0d,  1.0d), i8_scale(array(1.0d,  1.0d)))) AS idot,
         pq_encode(array(0.9d, 0.1d, 0.1d, 0.9d),
           array(array(array(1, 0), array(0, 1)),
                 array(array(1, 0), array(0, 1)))) AS codes,
         pq_adc(pq_encode(array(0.9d, 0.1d, 0.1d, 0.9d),
                  array(array(array(1, 0), array(0, 1)),
                        array(array(1, 0), array(0, 1)))),
                array(array(0.25d, 0.5d), array(0.125d, 0.0625d))) AS adc""").head
    assert(row2.getAs[Long]("idot") == 0L) // 127*127 - 127*127
    assert(row2.getSeq[Byte](row2.fieldIndex("codes")).toSeq == Seq(0.toByte, 1.toByte))
    assert(row2.getAs[Double]("adc") == 0.25 + 0.0625)
    // malformed literal shape fails with the signature, not a ClassCastException
    val err = intercept[Exception](
      spark.sql("SELECT pq_adc(array(cast(0 as tinyint)), array('x'))").head)
    assert(err.getMessage.contains("pq_adc(codes, lut)"), err.getMessage)
    // DEPTH-mismatched numeric literal (array<int> where a 3-deep codebook
    // cube is expected) must also take the signature error, not an
    // unresolved-cast/ClassCast failure from building an invalid Cast
    val err2 = intercept[Exception](
      spark.sql("SELECT pq_encode(array(0.9d, 0.1d), array(1, 2))").head)
    assert(err2.getMessage.contains("pq_encode(vec, codebooks)"), err2.getMessage)
    // round-6 additions: parser + path kernels on the SQL surface
    val row3 = spark.sql(
      """SELECT csv_lines('a,b' || chr(10) || '"x,y",2') AS joined,
                csv_row_chunks('a,b' || chr(10) || ',,') AS chunks,
                canonical_relpath('file:dz/docs/a.txt', 'dz/') AS rel,
                path_ext('dir/Q.JSON') AS ext""").head
    assert(row3.getAs[String]("joined") == "a | b\nx,y | 2")
    assert(row3.getSeq[String](row3.fieldIndex("chunks")) == Seq("a | b", " |  | "))
    assert(row3.getAs[String]("rel") == "docs/a.txt")
    assert(row3.getAs[String]("ext") == "json")
  }

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // one hot key with 1000 rows, a few cold keys
    val left = ((1 to 1000).map(i => ("hot", i)) ++ Seq(("a", 1), ("b", 2)))
      .toDF("k", "v")
    val right = Seq(("hot", "H"), ("a", "A"), ("c", "C")).toDF("k", "label")
    val plain = left.join(right, Seq("k")).groupBy("k", "label")
      .count().collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val salted = graft.operators.SkewJoin.saltedJoin(left, right, "k", 8)
      .groupBy("k", "label")
      .count().collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == plain)
    assert(plain.contains(("hot", "H", 1000L)))
  }
}
