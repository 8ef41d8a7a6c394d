package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def dropzone(seed: Long): Path = {
    val dir = Files.createTempDirectory("perfbench-gen")
    val gen = new Gen(seed)
    val m = new DropzoneModel(gen, dir)
    val r = gen.rng(1)
    (0 until 60).foreach(_ => m.add(r))
    dir
  }

  private def contents(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("the same seed writes byte-identical dropzones; another seed does not") {
    val a = contents(dropzone(42))
    assert(a.size >= 60)
    assert(a == contents(dropzone(42)))
    assert(a != contents(dropzone(43)))
  }

  test("the same seed plants the same curate shard; another seed does not") {
    val a = Curate.generate(new Gen(7), new Gen(7).rng(500))
    assert(a == Curate.generate(new Gen(7), new Gen(7).rng(500)))
    assert(a.texts != Curate.generate(new Gen(8), new Gen(8).rng(500)).texts)
    assert(a.exactGroups.size == Curate.ExactGroups)
    assert(a.nearPairs.nonEmpty)
    a.exactGroups.foreach { case (keeper, n) =>
      assert(a.texts.count(_ == a.texts(keeper.toInt)) == n)
    }
  }

  test("the generator covers every file kind and spans several chunks") {
    val gen = new Gen(1)
    val r = gen.rng(1)
    val kinds = (0 until 400).map(_ => gen.kind(r)).toSet
    assert(kinds == Set("txt", "md", "csv", "json", "chat", "html"))
    val lens = (0 until 400).map(_ => gen.docChars(r))
    assert(lens.min < 800 && lens.max > 3 * 800)
  }

  test("tail is the highest order statistic with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((1.0, 100.0 / 11)))
    assert(Stats.tail((1 to 20).map(_.toDouble)).contains((10.0, 50.0)))
    assert(Stats.tail((1 to 100).reverse.map(_.toDouble)).contains((90.0, 90.0)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time is duration minus the union of child intervals") {
    val spans = Seq(
      Span(0, "op", -1, 0, 0L, 100L),
      Span(1, "A.x", 0, 0, 10L, 30L),
      Span(2, "B.y", 0, 0, 20L, 40L), // overlaps A.x: counted once
      Span(3, "C.z", 0, 0, 50L, 60L),
      Span(4, "D.w", 3, 0, 52L, 55L))
    val self = Trace.selfTimes(spans)
    assert(self == Map(0 -> 60L, 1 -> 20L, 2 -> 20L, 3 -> 7L, 4 -> 3L))
    assert(Trace.union(Seq((0L, 5L), (3L, 8L), (10L, 12L))) == 10L)
  }

  test("metric names are valid and match BENCHMARK.json") {
    assert(Stats.validName("SearchOps.dense_ms") && Stats.validName("setup_s"))
    assert(!Stats.validName("bad name") && !Stats.validName("_x") &&
      !Stats.validName("a/b") && !Stats.validName("x" * 65))
    (Metrics.EndToEnd.keys ++ Metrics.PerLayer.keys).foreach(n => assert(Stats.validName(n), n))
    val bench = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def declared(key: String) = bench.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toMap
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(Main.cpus(Map("SPARK_GRAFT_CPUS" -> "4")) == 4)
    assert(Main.cpus(Map.empty) == Runtime.getRuntime.availableProcessors())
    intercept[RuntimeException](Main.cpus(Map("SPARK_GRAFT_CPUS" -> "four")))
    intercept[IllegalArgumentException](Main.cpus(Map("SPARK_GRAFT_CPUS" -> "0")))
  }
}
