package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Each Probe mode on q02 at sf0.001: the shape of what it prints. */
class ProbeSpec extends AnyFunSuite with SharedSpark {

  private val Sf = "/root/testdata/sf0.001"
  private def probe(mode: String, n: Option[Int] = None): Seq[String] =
    Probe.run(spark, mode, Seq("q02"), Sf, n)

  test("time: one line with each run's total and construction share, then the min") {
    val Seq(line) = probe("time", Some(2))
    assert(line.matches(
      """q02: \d+\.\d{3}\(c\d+\.\d{3}\) \d+\.\d{3}\(c\d+\.\d{3}\) min \d+\.\d{3} s"""), line)
  }

  test("rows: at most n JSON rows") {
    val rows = probe("rows", Some(3))
    assert(rows.size == 3, rows)
    assert(rows.forall(r => r.startsWith("{\"") && r.endsWith("}")), rows)
  }

  test("plan and explain: a header, then the plan with the pushed scan") {
    val Seq(head, plan) = probe("plan")
    assert(head == "== q02")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    val Seq(_, explain) = probe("explain")
    assert(explain.contains("== Physical Plan =="), explain)
  }

  test("codegen: a size line per stage, then the largest stage's source") {
    val out = probe("codegen")
    val stages = out.init
    assert(stages.nonEmpty, out)
    assert(stages.forall(_.matches("""== q02 stage \d+: \d+ chars, \d+ lines — .*""")), stages)
    assert(out.last.contains("generate("), out.last.take(200))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the codegen mode's AQE-off setting leaked into the shared session")
  }

  test("names resolve by exact key, qNN prefix or `entry`; others fail") {
    assert(Probe.run(spark, "rows", Seq("q02_filter_pushdown"), Sf, Some(1)).size == 1)
    assert(Probe.run(spark, "rows", Seq("entry"), Sf, Some(1)).size == 1)
    intercept[IllegalArgumentException](Probe.query("q1"))
    intercept[IllegalArgumentException](Probe.run(spark, "bogus", Seq("q02"), Sf, None))
  }
}
