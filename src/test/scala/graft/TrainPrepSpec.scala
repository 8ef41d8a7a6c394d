package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainPrep

class TrainPrepSpec extends AnyFunSuite with SharedSpark {

  test("split assignment is deterministic, salt-sensitive, and well-proportioned") {
    import spark.implicits._
    val ids = (1 to 20000).toDF("id")
    val w = Seq("train" -> 8000, "val" -> 1000, "test" -> 1000)
    val a = TrainPrep.assignSplits(ids, "id", "s1", w)
    val b = TrainPrep.assignSplits(ids.repartition(13), "id", "s1", w)
    // identical membership regardless of partitioning / evaluation order
    assert(a.orderBy("id").collect().toSeq == b.orderBy("id").collect().toSeq)
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 16000) < 400, s"train=${counts("train")}")
    assert(math.abs(counts("val") - 2000) < 200 && math.abs(counts("test") - 2000) < 200)
    // a different salt reshuffles membership
    val c = TrainPrep.assignSplits(ids, "id", "s2", w)
    val moved = a.withColumnRenamed("split", "s_a")
      .join(c.withColumnRenamed("split", "s_c"), "id")
      .filter(col("s_a") =!= col("s_c")).count()
    assert(moved > 1000, s"salt change moved only $moved ids")
  }

  test("packSequences: budget respected, order kept, oversize isolated, groups reset") {
    import spark.implicits._
    val rows = Seq(
      // group g1: 60+60 pack, 100 overflows to seq 1, 250 oversize alone
      ("g1", 1L, 60L), ("g1", 2L, 60L), ("g1", 3L, 100L), ("g1", 4L, 250L),
      ("g1", 5L, 10L),
      // group g2 restarts numbering
      ("g2", 1L, 199L), ("g2", 2L, 1L), ("g2", 3L, 2L))
      .toDF("g", "ord", "n")
    val out = TrainPrep.packSequences(rows, "g", "ord", "n", budget = 200L)
      .select("g", "ord", "seq_idx", "seq_pos")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      ("g1", 1L, 0L, 0), ("g1", 2L, 0L, 1), // 120 <= 200
      ("g1", 3L, 1L, 0),                    // 220 > 200 -> new seq
      ("g1", 4L, 2L, 0),                    // oversize alone
      ("g1", 5L, 3L, 0),                    // 250+10 > 200 -> next seq
      ("g2", 1L, 0L, 0), ("g2", 2L, 0L, 1), // 199+1 = 200 fits exactly
      ("g2", 3L, 1L, 0)))                   // 200+2 > 200 -> new seq

    // invariant on real data: every multi-item sequence stays within budget
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("n", size(split(trim(col("text")), " ")).cast("long"))
    val packed = TrainPrep.packSequences(docs, "lang", "doc_id", "n", 200L)
    val over = packed.groupBy("lang", "seq_idx")
      .agg(sum("n").as("tot"), count(lit(1)).as("k"))
      .filter(col("tot") > 200 && col("k") > 1)
    assert(over.isEmpty)
  }

  test("balancedShards: token totals far tighter than hash dealing on skewed sizes") {
    import spark.implicits._
    // power-law-ish sizes: a few huge docs, a long small tail — the mix
    // where count-balanced hash sharding drifts most
    val rng = new scala.util.Random(11)
    val docs = (1 to 4000).map { i =>
      (i.toLong, (math.pow(2.0, 4 + rng.nextInt(10)) * (1 + rng.nextDouble())).toLong)
    }.toDF("doc_id", "n_tokens")
    val n = 8
    def spread(df: org.apache.spark.sql.DataFrame): Double = {
      val tot = df.groupBy("shard").agg(sum("n_tokens").as("t"))
        .collect().map(_.getLong(1))
      assert(tot.length == n, "every shard must receive documents")
      (tot.max - tot.min).toDouble / tot.min
    }
    val balanced = spread(TrainPrep.balancedShards(docs, "doc_id", "n_tokens", n))
    val hashed = spread(docs.withColumn("shard",
      pmod(graft.operators.TextAnalytics.hash60(col("doc_id").cast("string")), lit(n.toLong))))
    assert(balanced < hashed / 3,
      s"stratified dealing must beat hash dealing 3x: balanced=$balanced hashed=$hashed")
    assert(balanced < 0.05, s"shard token totals within 5%: $balanced")
  }

  test("balancedShards is partition-order-proof and exhaustive") {
    import spark.implicits._
    val docs = (1 to 500).map(i => (i.toLong, (i % 37 + 1).toLong * 10))
      .toDF("doc_id", "n_tokens")
    val a = TrainPrep.balancedShards(docs, "doc_id", "n_tokens", 8)
      .select("doc_id", "shard").orderBy("doc_id").collect().toSeq
    val b = TrainPrep.balancedShards(docs.repartition(13), "doc_id", "n_tokens", 8)
      .select("doc_id", "shard").orderBy("doc_id").collect().toSeq
    assert(a == b, "assignment must not depend on physical layout")
    assert(a.length == 500 && a.map(_.getLong(1)).forall(s => s >= 0 && s < 8))
  }
}
