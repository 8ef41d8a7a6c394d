package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.SparkEntry
import graft.core.Session

/** One catalog query (or several), one question, under the benched
  * session:
  *
  *   - `time`    — Bench's definition: session warm-up and one untimed run
  *                 (it builds the stores the query reads), then `n` runs
  *                 (default 3) of construction plus `Session.drain` with a
  *                 cooldown between; prints each run with its construction
  *                 share, then the min. Store-backed lineages do eager work
  *                 at construction, so a drain-only timer flatters them
  *                 (r10: q97 "0.5 s" vs its 3.4 s with construction).
  *   - `rows`    — the first `n` rows (default 20) as JSON lines.
  *   - `plan`    — the executed plan string PlanSpec asserts against.
  *   - `explain` — `explain("formatted")`, the plans/rNN/ evidence form.
  *   - `codegen` — per-stage generated-code sizes, then the largest stage's
  *                 source: the check for Janino "Code grows beyond 64 KB"
  *                 fallbacks to interpreted mode (the round-5 q33/q34/q54
  *                 regression).
  *
  * A name is a catalog key or its `qNN` prefix; `entry` is the driver's
  * smoke entry, `SparkEntry.entry`.
  *
  * Usage: runMain graft.tools.Probe <time|rows|plan|explain|codegen> <q[,q…]> [sfDir] [n]
  */
object Probe {

  private val Modes = Seq("time", "rows", "plan", "explain", "codegen")

  def query(name: String): (SparkSession, String) => DataFrame =
    if (name == "entry") (spark, _) => SparkEntry.entry(spark)
    else SparkEntry.queries.getOrElse(name,
      SparkEntry.queries.filter(_._1.startsWith(name + "_")).values.toList match {
        case Seq(q) => q
        case _ => throw new IllegalArgumentException(s"no single catalog query named $name")
      })

  def run(spark: SparkSession, mode: String, names: Seq[String], sfDir: String,
      n: Option[Int]): Seq[String] = {
    require(Modes.contains(mode), s"mode must be one of ${Modes.mkString("|")}")
    val qs = names.map(name => name -> query(name))
    if (mode == "time") graft.Bench.warmup(spark, sfDir)
    // the plan modes' settings live in a child session, so a shared
    // session keeps the benched config
    lazy val s = {
      val child = spark.newSession()
      child.conf.set("spark.sql.maxMetadataStringLength", "1000")
      // AQE hides the codegen stages in AdaptiveSparkPlanExec until execution
      if (mode == "codegen") child.conf.set("spark.sql.adaptive.enabled", "false")
      child
    }
    qs.flatMap { case (name, q) =>
      mode match {
        case "time" =>
          Session.drain(q(spark, sfDir))
          val runs = (1 to n.getOrElse(3)).map { _ =>
            Session.cooldown(spark)
            val t0 = System.nanoTime()
            val df = q(spark, sfDir)
            val tc = (System.nanoTime() - t0) / 1e9
            Session.drain(df)
            ((System.nanoTime() - t0) / 1e9, tc)
          }
          Seq(f"$name: ${runs.map { case (t, c) => f"$t%.3f(c$c%.3f)" }.mkString(" ")}" +
            f" min ${runs.map(_._1).min}%.3f s")
        case "rows" =>
          // take, not collect: the cap bounds driver memory too
          q(spark, sfDir).toJSON.take(n.getOrElse(20)).toSeq
        case "plan" => Seq(s"== $name", q(s, sfDir).queryExecution.executedPlan.toString)
        case "explain" =>
          Seq(s"== $name", q(s, sfDir).queryExecution.explainString(FormattedMode))
        case "codegen" =>
          val codes = codegenStringSeq(q(s, sfDir).queryExecution.executedPlan)
          codes.zipWithIndex.map { case ((subtree, code, _), i) =>
            s"== $name stage $i: ${code.length} chars, ${code.count(_ == '\n')} lines" +
              s" — ${subtree.linesIterator.next()}"
          } ++ codes.map(_._2).sortBy(-_.length).headOption
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || !Modes.contains(args(0)))
      sys.error(s"usage: Probe <${Modes.mkString("|")}> <q[,q…]> [sfDir] [n]")
    val spark = Session.local(Session.cpus)
    run(spark, args(0), args(1).split(",").toSeq,
      args.lift(2).getOrElse("/root/testdata/sf0.1"), args.lift(3).map(_.toInt))
      .foreach(println)
    spark.stop()
  }
}
