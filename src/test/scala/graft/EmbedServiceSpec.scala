package graft

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DevEmbed, EmbedService}
import graft.operators.EmbedService.{Config, Transport}

/** Static batch-size recorder: local-mode tasks deserialize their own stub
  * copies, so recording must go through JVM-static state.
  */
object EmbedStubState {
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  def texts(body: String): Seq[String] = {
    val input = new ObjectMapper().readTree(body).get("input")
    (0 until input.size()).map(i => input.get(i).asText())
  }
}

/** Modern-shape responder: one dim-`dim` vector per input text. */
class ModernStub(dim: Int) extends Transport {
  override def post(body: String): String = {
    val ts = EmbedStubState.texts(body)
    EmbedStubState.batchSizes.add(ts.size)
    ts.map(t => (0 until dim).map(i => (t.length + i) / 100.0).mkString("[", ",", "]"))
      .mkString("""{"embeddings": [""", ",", "]}")
  }
}

class FailingStub extends Transport {
  override def post(body: String): String = throw new RuntimeException("boom")
}

/** Returns dim-3 vectors except for texts ending in '0' (dim 1). */
class TrickyDimStub extends Transport {
  override def post(body: String): String =
    EmbedStubState.texts(body)
      .map(t => if (t.endsWith("0")) "[0.1]" else "[0.1,0.2,0.3]")
      .mkString("""{"embeddings": [""", ",", "]}")
}

class MustNotCallStub extends Transport {
  override def post(body: String): String =
    throw new IllegalStateException("dev mode must not call transport")
}

/** Service-path embedding contract, mirroring the reference's mocked
  * transport tests (worker/tests/test_embed_unit.py:19-164): the three
  * response shapes, count/non-empty validation, fail-soft skip counters,
  * dev-mode bit-parity with the DevEmbed oracle path, and the batch size
  * seen by the server.
  */
class EmbedServiceSpec extends AnyFunSuite with SharedSpark {

  private val mapper = new ObjectMapper()

  test("parses all three reference response shapes (embed_ollama.py:8-42)") {
    val modern2 = mapper.readTree("""{"embeddings": [[0.1, 0.2], [0.3, 0.4]]}""")
    assert(EmbedService.parseEmbeddings(modern2).map(_.toSeq)
      == Seq(Seq(0.1, 0.2), Seq(0.3, 0.4)))

    val legacySingle = mapper.readTree("""{"embedding": [1.5, 2.5]}""")
    assert(EmbedService.parseEmbeddings(legacySingle).map(_.toSeq) == Seq(Seq(1.5, 2.5)))

    val legacyBatch = mapper.readTree(
      """{"embeddings": [{"embedding": [1.0]}, {"embedding": [2.0]}]}""")
    assert(EmbedService.parseEmbeddings(legacyBatch).map(_.toSeq)
      == Seq(Seq(1.0), Seq(2.0)))

    val bad = mapper.readTree("""{"vectors": [[1.0]]}""")
    assertThrows[IllegalArgumentException](EmbedService.parseEmbeddings(bad))
  }

  test("count mismatch and empty vectors are contract violations") {
    val one = new Transport {
      override def post(body: String): String = """{"embeddings": [[0.1, 0.2]]}"""
    }
    assertThrows[IllegalArgumentException](
      EmbedService.embedBatch(Config("m", 2, null, devMode = false)
        .copy(transport = one), Seq("a", "b"))) // 2 texts, 1 vector

    val empty = new Transport {
      override def post(body: String): String = """{"embeddings": [[]]}"""
    }
    assertThrows[IllegalArgumentException](
      EmbedService.embedBatch(Config("m", 2, empty), Seq("a")))
  }

  test("embedColumn batches per partition and respects batchSize") {
    import spark.implicits._
    EmbedStubState.batchSizes.clear()
    val df = (1 to 150).map(i => s"text-$i").toDF("text").repartition(1)
    val out = EmbedService.embedColumn(df, "text", "vector",
      Config("m", 4, new ModernStub(4), batchSize = 64)).collect()
    assert(out.length == 150)
    assert(out.head.getSeq[Double](1).length == 4)
    val sizes = EmbedStubState.batchSizes.toArray(Array.empty[Integer]).map(_.toInt).sorted
    assert(sizes.toSeq == Seq(22, 64, 64)) // 150 rows in ≤64-row batches
  }

  test("fail-soft: a failing batch skips its rows and counts them") {
    import spark.implicits._
    val skipped = spark.sparkContext.longAccumulator("embed_skipped")
    val df = (1 to 10).map(i => s"t$i").toDF("text").repartition(1)
    val out = EmbedService.embedColumn(df, "text", "vector",
      Config("m", 4, new FailingStub, batchSize = 4), Some(skipped))
    assert(out.count() == 0)
    assert(skipped.value == 10)
  }

  test("wrong-dimension vectors are skipped per row, others survive") {
    import spark.implicits._
    val skipped = spark.sparkContext.longAccumulator("embed_skipped")
    val df = (1 to 20).map(i => s"t$i").toDF("text").repartition(1)
    val out = EmbedService.embedColumn(df, "text", "vector",
      Config("m", 3, new TrickyDimStub, batchSize = 8), Some(skipped))
    assert(out.count() == 18) // t10, t20 dropped
    assert(skipped.value == 2)
  }

  test("dev mode is bit-identical to the DevEmbed oracle path") {
    import spark.implicits._
    val df = Seq("hello", "world", "graft").toDF("text")
    val svc = EmbedService.embedColumn(df, "text", "vector",
      Config("m", 64, new MustNotCallStub, devMode = true))
    val viaExpr = df.withColumn("vector", DevEmbed.devEmbed(col("text"), 64))
    val a = svc.orderBy("text").collect().map(_.getSeq[Double](1))
    val b = viaExpr.orderBy("text").collect().map(_.getSeq[Double](1))
    assert(a.toSeq == b.toSeq)
  }
}
