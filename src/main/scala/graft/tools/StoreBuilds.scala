package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Session, Tables}
import graft.queries.{IngestCatalog, PipelineCatalog}
import graft.sources.{BandStore, ClusterStore, TextIndex, VectorStore}

/** Every write-time store build, declared once: Bench times each before
  * the suite (the timed queries measure SERVE, and a build left inside a
  * query's first run is discarded by min-of-N — r13 #1: q87 run 1 carried
  * a ~41 s streaming-store build). A new store is added here only.
  *
  * As a main it times the builds for a sfDir without a bench run; pass
  * `fresh` to delete the artifact roots first.
  *
  * Usage: runMain graft.tools.StoreBuilds [sfDir] [fresh]
  */
object StoreBuilds {

  private def vectors(spark: SparkSession, sf: String): DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") =!= 0)

  // same docsWide frame as the catalog, so the manifest stamps match and
  // the queries reuse the build
  private def docsWide(spark: SparkSession, sf: String): DataFrame =
    Tables.fanOut(Tables(spark, sf, "documents"))

  private def store(name: String)(build: (SparkSession, String) => Any) =
    name -> build

  val all: Seq[(String, (SparkSession, String) => Any)] = Seq(
    store("vector_ivf")((s, sf) => VectorStore.ensure(s, vectors(s, sf), "embedding", sf)),
    store("vector_pq")((s, sf) => VectorStore.ensurePq(s, vectors(s, sf), "embedding", sf)),
    // q67 serves the stored classifier coefficients: training is the build
    store("quality_model")((s, sf) => graft.operators.QualityModel.ensure(
      s, s.read.parquet(s"$sf/documents.parquet"), sf)),
    store("text_index")((s, sf) => TextIndex.ensure(s, docsWide(s, sf), "doc_id", "text", sf)),
    store("band_store")((s, sf) => BandStore.ensure(s, docsWide(s, sf), "doc_id", "text", sf)),
    // the MinHash→verify→CC pass behind the persisted near-dup labels
    store("cluster_store") { (s, sf) =>
      val docs = docsWide(s, sf)
      ClusterStore.ensure(s, docs, "doc_id", "text", sf,
        BandStore.ensure(s, docs, "doc_id", "text", sf))
    },
    store("frame_store")(PipelineCatalog.ensureFrameStore),
    // q105 reads the ledger two micro-batch ingests accumulate
    store("dz_ledger")(IngestCatalog.ensureDzLedger),
    store("inc_text_index")(PipelineCatalog.q77EnsureIncremental),
    store("inc_vector_ivf")(PipelineCatalog.q78EnsureIncremental),
    store("inc_vector_pq")(PipelineCatalog.q79EnsureIncremental),
    store("stream_stores")(PipelineCatalog.q87EnsureStreaming),
    // tokenizer training (q120/q124/q129 serve the memoized merge chain)
    store("bpe_merges")(PipelineCatalog.ensureBpe),
    store("bpe_merges_v2")(PipelineCatalog.ensureBpeV2),
    store("loader_manifest")(PipelineCatalog.ensureManifest),
    store("inc_manifest")(PipelineCatalog.q149EnsureIncremental),
    store("stream_manifest")(PipelineCatalog.q150EnsureStreaming),
    store("inc_clusters")(PipelineCatalog.q154EnsureIncremental),
    store("stream_clusters")(PipelineCatalog.q155EnsureStreaming))

  /** Build each store in order, timed on its own so one failure does not
    * void the rest: name -> seconds, or -1 for a failed build.
    */
  def timeAll(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    all.map { case (name, build) =>
      val t0 = System.nanoTime()
      try { build(spark, sfDir); name -> (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[build] $name FAILED: " +
          e.getMessage.linesIterator.nextOption().getOrElse(""))
        name -> -1.0
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    if (args.contains("fresh")) {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      tmp.listFiles().filter(f => f.getName.startsWith("graft-") &&
          !f.getName.startsWith("graft-scale-"))
        .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    }
    val spark = Session.local(Session.cpus)
    timeAll(spark, sfDir).foreach { case (name, t) => println(f"[build] $name%-18s $t%.2f s") }
    spark.stop()
  }
}
