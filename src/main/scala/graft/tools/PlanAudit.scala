package graft.tools

import graft.core.Session

/** Prints the physical-plan properties that matter at 100 TB for the
  * headline queries: parquet PushedFilters / pruned ReadSchema, broadcast
  * joins, TakeOrderedAndProject, codegen spans.
  * Run: sbt "runMain graft.tools.PlanAudit [sfDir]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus)

    val interesting = Seq(
      "q02_filter_pushdown" -> Seq("PushedFilters", "ReadSchema"),
      "q03_regional_revenue" -> Seq("BroadcastHashJoin", "PushedFilters"),
      "q05_global_top_orders" -> Seq("TakeOrderedAndProject"),
      "q16_knn_cosine" -> Seq("cosine_similarity", "TakeOrderedAndProject", "Broadcast"),
      "q13_chunks" -> Seq("chunk_text", "Generate", "ReadSchema"))

    interesting.foreach { case (name, patterns) =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      println(s"==== $name")
      patterns.foreach { p =>
        val lines = plan.linesIterator.filter(_.contains(p)).take(3).toList
        if (lines.isEmpty) println(s"  MISSING: $p")
        else lines.foreach(l => println("  " + l.trim.take(160)))
      }
    }

    // salted skew join: hot key must spread across salt partitions
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), lit("hot").as("k"))
    val dim = spark.range(1).select(lit("hot").as("k"), lit("H").as("label"))
    val salted = graft.operators.SkewJoin.saltedJoin(events, dim, "k", 8)
    println("==== salted_skew_join")
    println(s"  rows: ${salted.count()} (== ${events.count()})")
    salted.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Join") || l.contains("Generate"))
      .take(3).foreach(l => println("  " + l.trim.take(140)))
    spark.stop()
  }
}
