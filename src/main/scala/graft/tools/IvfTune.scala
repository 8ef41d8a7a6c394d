package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.Similarity

/** Recall-vs-probes sweep for the IVF index over the embeddings table. */
object IvfTune {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.cpus)

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)

    // exact top-10 for a panel of query vectors
    val queryIds = Seq(0L, 7L, 99L, 250L, 400L)
    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

    def exactTop10(q: Array[Double], excl: Long): Set[Long] =
      all.toSeq.filter(_._1 != excl)
        .map { case (id, v) =>
          val dot = v.zip(q).map { case (a, b) => a * b }.sum
          val na = math.sqrt(v.map(x => x * x).sum)
          val nb = math.sqrt(q.map(x => x * x).sum)
          (id, dot / (na * nb))
        }
        .sortBy(-_._2).take(10).map(_._1).toSet

    for (k <- Seq(8, 16)) {
      val (model, indexed) = Similarity.ivfIndex(corpus, "embedding", k)
      indexed.cache().count()
      for (nProbe <- Seq(2, 3, 4, 6, 8)) {
        val recalls = queryIds.map { qid =>
          val q = all(qid)
          val got = Similarity.ivfTopK(indexed.filter(col("vec_id") =!= qid),
            "embedding", model.clusterCenters.map(_.toArray), q, 10, nProbe)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          (exactTop10(q, qid) & got).size / 10.0
        }
        println(f"== k=$k nProbe=$nProbe scan=${nProbe * 100.0 / k}%.0f%% " +
          f"recall=${recalls.sum / recalls.size}%.2f per-query=${recalls.mkString(",")}")
      }
      indexed.unpersist()
    }
    spark.stop()
  }
}
