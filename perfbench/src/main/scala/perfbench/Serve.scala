package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{DevEmbed, SearchOps, Similarity}
import graft.operators.SearchOps.SearchFilters
import graft.sources.{ChunkStore, FileIngest, TextIndex, VectorStore}

/** Shared helpers for the search-side workloads. */
object Search {
  val Dim = 64

  def embed(text: String): Array[Double] =
    DevEmbed.compute(UTF8String.fromString(text), Dim).toDoubleArray()

  def vecLit(v: Array[Double]) = array(v.toSeq.map(lit): _*)

  /** The program's cosine, replayed in the harness with the same
    * arithmetic, so a brute-force ranking can be compared exactly.
    */
  def cosine(x: Array[Double], y: Array[Double]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) { dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}

/** A chunk as the harness's brute force sees it. */
final case class ChunkRow(id: String, kind: String, path: String, ts: Long,
    vector: Array[Double])

/** `serve`: a read-only store of multi-chunk documents and one client
  * sending a seeded mix of search requests. Search and store reads do the
  * work; ingest does none.
  */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  private val gen = new Gen(ctx.seed)

  private var chunks: DataFrame = _
  private var docsTable: DataFrame = _
  private var index: TextIndex.Index = _
  private var vindex: VectorStore.Index = _
  private var pq: VectorStore.PqIndex = _
  private var rows: Array[ChunkRow] = _
  private var paths: Array[String] = _
  private var storeDirs: Seq[Path] = Nil
  private var sourceBytes = 0L
  private var nDocs = 0L

  private val latMs = ArrayBuffer.empty[Double]
  private val latByKind = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  private val recalls = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  private val batchRecalls = ArrayBuffer.empty[Double]
  private var batchQps = 0.0
  private var opsDone = 0
  private var alteredPrompts = 0
  /** Timed BM25 and hybrid answers; those of the measured cycles are
    * checked after the window (the reference answers need Spark jobs of
    * their own).
    */
  private val bm25Answers = ArrayBuffer.empty[(Seq[String], Seq[(String, Double)])]
  private val hybridAnswers = ArrayBuffer.empty[(Seq[String], Array[Double], Seq[(String, Double)])]

  def setup(dir: Path): Unit = {
    val dz = dir.resolve("dropzone")
    val model = new DropzoneModel(gen, dz)
    val r = gen.rng(1)
    while (model.sourceBytes < SourceBytes) model.add(r)
    sourceBytes = model.sourceBytes
    val docs = Trace.span("FileIngest.route") {
      FileIngest.parseDirectoryWithChat(spark, dz.toString).localCheckpoint()
    }
    // two ingest times, so time-range filters select a real subset
    val early = pmod(xxhash64(col("path")), lit(2)) === 0
    val chunked = Trace.span("Chunker.chunk_embed") {
      FileIngest.chunksFromDocuments(docs.filter(early), ingestedAt = T0)
        .unionByName(FileIngest.chunksFromDocuments(docs.filter(!early), ingestedAt = T1))
        .localCheckpoint()
    }
    val chunkPath = dir.resolve("chunks").toString
    Trace.span("ChunkStore.upsert") { ChunkStore.upsert(chunked, chunkPath) }
    val docsPath = dir.resolve("docs").toString
    docs.select(col("path"), col("text")).write.parquet(docsPath)
    docsTable = spark.read.parquet(docsPath)
    val tiPath = dir.resolve("text_index").toString
    Trace.span("TextIndex.write") { TextIndex.write(docsTable, "path", "text", tiPath) }
    chunks = ChunkStore.read(spark, chunkPath)
    val emb = chunks.select(col("id").as("vec_id"), col("path"), col("vector"))
    val vsPath = dir.resolve("vectors").toString
    Trace.span("VectorStore.write") { VectorStore.write(emb, "vector", vsPath, k = Cells) }
    vindex = VectorStore.read(spark, vsPath, 8, Search.Dim)
    val pqPath = dir.resolve("pq").toString
    Trace.span("VectorStore.write_pq") {
      VectorStore.writePq(emb, "vector", pqPath, m = PqM, ksub = 16, centroids = vindex.centroids)
    }
    pq = VectorStore.readPq(spark, pqPath)
    index = TextIndex.read(spark, tiPath)
    storeDirs = Seq("chunks", "text_index", "vectors", "pq").map(dir.resolve)
    rows = chunks.select(col("id"), col("kind"), col("path"),
        col("meta.ingested_at_ts"), col("vector")).collect()
      .map(r => ChunkRow(r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getSeq[Double](4).toArray))
    paths = rows.map(_.path).distinct.sorted
    nDocs = index.n
    // warm-up: the first request of each kind in a fresh JVM pays for its
    // code generation and JIT; one request of each kind takes the
    // steepest part of that cost out of the window
    val w = gen.rng(2)
    Cycle.distinct.foreach(kind => request(kind, w, measured = false, keep = false))
  }

  private def queryTerms(r: scala.util.Random): Seq[String] =
    Seq.fill(2 + r.nextInt(2))(gen.word(r)).distinct

  private def bruteForce(qv: Array[Double], keep: ChunkRow => Boolean,
      k: Int): Seq[(String, Double)] =
    rows.iterator.filter(keep).map(c => (c.id, Search.cosine(c.vector, qv)))
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(k)

  private def recordLat(kind: String, ms: Double): Unit = {
    latMs += ms
    latByKind.getOrElseUpdate(kind, ArrayBuffer.empty) += ms
  }

  private def timed[T](kind: String, record: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val v = body
    if (record) recordLat(kind, (System.nanoTime() - t0) / 1e6)
    v
  }

  private def ivfRanked(qv: Array[Double], n: Int): DataFrame =
    SearchOps.boundedRank(
      Similarity.ivfTopK(vindex.vectors, "vector", vindex.centroids, qv, n, NProbe)
        .select(col("path").as("doc"), col("score"), col("vec_id")),
      "rank")(col("score").desc, col("vec_id"))

  private def bm25Ranked(terms: Seq[String], n: Int): DataFrame =
    SearchOps.boundedRank(
      SearchOps.bm25ScoresIndexed(index, terms).orderBy(col("bm25").desc, col("doc")).limit(n),
      "rank")(col("bm25").desc, col("doc"))

  /** One request. `measured` records its latency; `keep` keeps what the
    * closing checks and the recall need (recall of IVF and IVF-PQ answers,
    * BM25 and hybrid answers for the reference comparison).
    */
  private def request(kind: String, r: scala.util.Random, measured: Boolean,
      keep: Boolean): Unit = {
    val terms = queryTerms(r)
    val qtext = terms.mkString(" ")
    val qv = Search.embed(qtext)
    kind match {
      case "dense" | "dense-kind" | "dense-time" | "dense-path" =>
        val (filters, filterRow) = kind match {
          case "dense" => (SearchFilters(), (_: ChunkRow) => true)
          case "dense-kind" =>
            val k = KindsOfDocs(r.nextInt(KindsOfDocs.length))
            (SearchFilters(kind = Some(k)), (c: ChunkRow) => c.kind == k)
          case "dense-time" => (SearchFilters(ingestedAfterTs = Some(T1.getEpochSecond)),
            (c: ChunkRow) => c.ts >= T1.getEpochSecond)
          case _ =>
            val p = paths(r.nextInt(paths.length))
            (SearchFilters(path = Some(p)), (c: ChunkRow) => c.path == p)
        }
        val hits = timed(kind, measured) {
          Trace.span("SearchOps.dense") {
            SearchOps.search(chunks, Search.vecLit(qv), K, filters).collect()
          }
        }
        val got = hits.map(h => (h.getAs[String]("id"), h.getAs[Double]("score"))).toSeq
        ctx.check(s"dense top-k equals brute force ($filters)",
          got == bruteForce(qv, filterRow, K))
      case "ivf" =>
        val hits = timed(kind, measured) {
          Trace.span("Similarity.ivf") {
            Similarity.ivfTopK(vindex.vectors, "vector", vindex.centroids, qv, K, NProbe)
              .select("vec_id").collect()
          }
        }
        if (keep) recalls.getOrElseUpdate(kind, ArrayBuffer.empty) +=
          recall(hits.map(_.getString(0)).toSet, qv)
      case "pq" =>
        val hits = timed(kind, measured) {
          Trace.span("Similarity.pq") {
            Similarity.ivfPqTopK(pq.codes, pq.codebooks, vindex.centroids,
              vindex.vectors, "vector", qv, K, NProbe, Rerank)
              .select("vec_id").collect()
          }
        }
        if (keep) recalls.getOrElseUpdate(kind, ArrayBuffer.empty) +=
          recall(hits.map(_.getString(0)).toSet, qv)
      case "bm25" =>
        val hits = timed(kind, measured) {
          Trace.span("SearchOps.bm25") {
            SearchOps.bm25ScoresIndexed(index, terms)
              .orderBy(col("bm25").desc, col("doc")).limit(K).collect()
          }
        }
        if (keep) bm25Answers += ((terms, hits.map(h => (h.getString(0), h.getDouble(1))).toSeq))
      case "hybrid" =>
        val fused = timed(kind, measured) {
          Trace.span("SearchOps.hybrid") {
            SearchOps.rrfFuse(Seq(bm25Ranked(terms, FusePool).select("doc", "rank"),
                ivfRanked(qv, FusePool).select("doc", "rank")))
              .orderBy(col("rrf").desc, col("doc")).limit(K).collect()
          }
        }
        if (keep) hybridAnswers += ((terms, qv, fused.map(h => (h.getString(0), h.getDouble(1))).toSeq))
      case "ask" =>
        val (sel, prompt) = timed(kind, measured) {
          Trace.span("SearchOps.ask") {
            val hits = SearchOps.search(chunks, Search.vecLit(qv), AskK)
            val sel = SearchOps.snippetSelect(hits).collect()
            (sel, SearchOps.buildPrompt(qtext,
              sel.map(s => (s.getAs[String]("path"), s.getAs[String]("snippet"))).toSeq))
          }
        }
        // snippetSelect's pool: the top 10 of the k hits, score >= 0.2, at
        // most 5 snippets (a snippet is at most 601 characters here, so the
        // 8,000-character budget never binds)
        val want = bruteForce(qv, _ => true, AskK).take(10).filter(_._2 >= 0.2).take(5)
        val got = sel.map(s => (s.getAs[String]("id"), s.getAs[Double]("score"))).toSeq
        ctx.check(s"ask selects the brute-force snippets for '$qtext': got $got, want $want",
          got == want && prompt.contains(s"Question: $qtext") &&
            sel.indices.forall(i => prompt.contains(s"[${i + 1}] (${sel(i).getAs[String]("path")})\n")))
        // buildPrompt applies stripMargin to the whole prompt, so a snippet
        // line that starts with '|' (a chunk cut inside a CSV row) loses
        // that character: a known program defect, counted in the report
        if (measured && !sel.forall(s => prompt.contains(s.getAs[String]("snippet"))))
          alteredPrompts += 1
    }
  }

  private def recall(got: Set[String], qv: Array[Double]): Double = {
    val exact = bruteForce(qv, _ => true, K).map(_._1).toSet
    (got intersect exact).size.toDouble / exact.size
  }

  /** The eval-set batch: exact batch search and batch IVF over one query
    * set. Exact answers must equal the harness's brute force; the IVF
    * answers give the recall@10 of the approximate path.
    */
  private def evalBatch(r: scala.util.Random): Unit = {
    val qs = (0 until EvalQueries).map(i => (i.toLong, Search.embed(queryTerms(r).mkString(" "))))
    val qdf = spark.createDataFrame(qs.map { case (i, v) => Row(i, v.toSeq) }.asJava,
      org.apache.spark.sql.types.StructType.fromDDL("query_id BIGINT, qv ARRAY<DOUBLE>"))
    val t0 = System.nanoTime()
    val exact = Trace.span("SearchOps.batch") {
      SearchOps.batchSearch(chunks, qdf, K).select("query_id", "id", "score").collect()
    }
    val t1 = System.nanoTime()
    val ann = Trace.span("Similarity.ivf_batch") {
      Similarity.ivfBatchTopK(vindex.vectors, "vector", vindex.centroids, qdf, K, NProbe)
        .select("query_id", "vec_id").collect()
    }
    val exactBy = exact.groupBy(_.getLong(0))
    val annBy = ann.groupBy(_.getLong(0))
    qs.foreach { case (qid, v) =>
      val truth = bruteForce(v, _ => true, K)
      val got = exactBy.getOrElse(qid, Array.empty[Row])
        .map(x => (x.getString(1), x.getDouble(2))).toSeq.sortBy { case (id, sc) => (-sc, id) }
      ctx.check(s"batchSearch query $qid equals brute force", got == truth)
      batchRecalls += (annBy.getOrElse(qid, Array.empty[Row])
        .map(_.getString(1)).toSet intersect truth.map(_._1).toSet).size.toDouble / truth.size
    }
    batchQps = EvalQueries / ((t1 - t0) / 1e9)
  }

  private def opRequest(i: Int, measured: Boolean): Unit =
    request(Cycle(i % Cycle.size), gen.rng(100000L + i), measured, keep = true)

  def op(i: Int): Unit = { opRequest(i, measured = true); opsDone = i + 1 }

  private def scores(df: DataFrame): Map[String, Double] =
    df.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap

  private def top(scores: Map[String, Double], n: Int): Seq[(String, Double)] =
    scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(n)

  /** The inline scorer's BM25 scores for `terms`, the reference for the
    * indexed ones; the index's scores must equal them, document for
    * document.
    */
  private def bm25Reference(terms: Seq[String]): Map[String, Double] = {
    val inline = scores(SearchOps.bm25Scores(docsTable, "path", "text", terms))
    ctx.check(s"bm25ScoresIndexed equals bm25Scores for $terms",
      scores(SearchOps.bm25ScoresIndexed(index, terms)) == inline)
    inline
  }

  /** Reciprocal-rank fusion in the harness, in `rrfFuse`'s arithmetic:
    * per document, 1/(60 + rank) from each ranking, summed in
    * (ranking, contribution) order.
    */
  private def rrfReference(rankings: Seq[Seq[String]], n: Int): Seq[(String, Double)] =
    rankings.zipWithIndex
      .flatMap { case (docs, src) => docs.zipWithIndex.map { case (d, i) => (d, (src, 1.0 / (60.0 + (i + 1)))) } }
      .groupBy(_._1).toSeq
      .map { case (d, cs) => d -> cs.map(_._2).sorted.foldLeft(0.0)(_ + _._2) }
      .sortBy { case (d, s) => (-s, d) }.take(n)

  /** Tops up the fixed recall query sets, runs the eval batch, then
    * checks the measured cycles' BM25 answers against the inline scorer
    * and their hybrid answers against the harness's fusion of the inline
    * BM25 ranking and the IVF ranking (each of these queries also
    * compares the index's scores with the inline scorer's, document for
    * document).
    */
  def finish(): Unit = {
    var i = opsDone
    while (RecallKinds.exists(k => recalls.get(k).forall(_.size < RecallQueries))) {
      if (RecallKinds.contains(Cycle(i % Cycle.size))) opRequest(i, measured = false)
      i += 1
    }
    evalBatch(gen.rng(200L))
    bm25Answers.take(MeasuredCycles).foreach { case (terms, got) =>
      ctx.check(s"timed BM25 top-$K equals bm25Scores for $terms", got == top(bm25Reference(terms), K))
    }
    hybridAnswers.take(MeasuredCycles).foreach { case (terms, qv, got) =>
      val ivf = ivfRanked(qv, FusePool).select("doc", "rank").collect()
        .sortBy(_.getInt(1)).map(_.getString(0)).toSeq
      val want = rrfReference(Seq(top(bm25Reference(terms), FusePool).map(_._1), ivf), K)
      ctx.check(s"hybrid equals the fusion of the BM25 and IVF rankings for $terms", got == want)
    }
  }

  /** Mean recall@10 per approximate path over its fixed query set: the
    * single-query IVF and IVF-PQ paths over the first `RecallQueries`
    * operations of their kind, the batch IVF path over the eval batch.
    */
  private def pathRecalls: Map[String, Double] =
    RecallKinds.map(k => k -> recalls(k).take(RecallQueries)).toMap
      .map { case (k, v) => k -> v.sum / v.size } +
      ("ivf_batch" -> batchRecalls.sum / batchRecalls.size)

  // Every run measures the same requests: the first MeasuredCycles
  // cycles, the same queries for a seed. Requests a faster run fits into
  // the rest of the window are checked and reported, not measured.
  override def minOps: Int = MeasuredCycles * Cycle.size
  private def measured: Seq[Double] = latMs.take(minOps).toSeq

  def endToEnd(timedS: Double): Map[String, Double] = Map(
    "op_p50_ms" -> Stats.median(measured),
    // requests per second of request time: the single client's service
    // rate, without the harness's correctness checks between requests
    "work_per_s" -> measured.size / (measured.sum / 1000.0),
    // the weakest approximate path, so a recall loss on any one shows
    "recall" -> pathRecalls.values.min,
    "space_amp" -> storeDirs.map(Search.dirBytes).sum.toDouble / sourceBytes)

  def layerState(): Map[String, Double] =
    Metrics.State.keys.map(_ -> 0.0).toMap ++ Map(
      "Chunker.chunks_per_doc" -> rows.length.toDouble / nDocs,
      "ChunkStore.files" -> parquetFiles(storeDirs.head).toDouble)

  def report(timedS: Double): Map[String, Any] = {
    val tail = Stats.tail(latMs.toSeq)
    Map(
      "search_p50_ms" -> Stats.median(measured),
      "search_tail_ms" -> tail.map(_._1),
      "search_tail_pct" -> tail.map(_._2),
      "search_samples" -> latMs.size,
      "latencies_ms" -> latMs.toSeq,
      "search_p50_ms_by_kind" -> latByKind.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
      "requests_per_s" -> measured.size / (measured.sum / 1000.0),
      "batch_search_qps" -> batchQps,
      "ann_recall_at_10" -> pathRecalls.values.min,
      "recall_at_10_by_path" -> pathRecalls,
      "ask_prompts_altered" -> alteredPrompts,
      "ask_requests" -> latByKind.get("ask").fold(0)(_.size),
      "space_amp" -> storeDirs.map(Search.dirBytes).sum.toDouble / sourceBytes,
      "source_bytes" -> sourceBytes,
      "docs" -> nDocs,
      "chunks" -> rows.length)
  }

  private def parquetFiles(dir: Path): Long = {
    val s = java.nio.file.Files.walk(dir)
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }
}

object Serve {
  /** Source bytes in the served dropzone (about 160 files, 170 documents
    * and 470 chunks): enough that a dense scan, an IVF probe and a
    * postings lookup differ in cost, little enough that the cold build
    * fits a run. A byte target rather than a file count keeps the store's
    * size, and so `space_amp`, the same across seeds.
    */
  val SourceBytes = 300000L
  val Cells = 16
  val NProbe = 8
  val Rerank = 100
  val EvalQueries = 128
  val T0: java.time.Instant = java.time.Instant.ofEpochSecond(1700000000L)
  val T1: java.time.Instant = T0.plusSeconds(86400L)
  /** PQ codes: 4 subspaces of 16 dimensions × 16 centroids, and a rerank
    * of 100 candidates. On a 380 KB corpus (64 dimensions, about 300
    * chunks in the 8 probed cells) a rerank of 50 left recall@10 near 0.4–0.5,
    * mostly luck; 8 subspaces add about 4 s of set-up for about 0.07 more
    * recall.
    */
  val PqM = 4
  /** Top-k of a search request: the reference worker's default k
    * (`worker/app/routers/search.py:148`, BASELINE.md). Recall is @10 too.
    */
  val K = 10
  /** Top-k of the search inside an ask request: the reference's ask
    * default (`worker/app/routers/ask.py:18`, BASELINE.md).
    */
  val AskK = 12
  /** Depth of each ranking a hybrid request fuses. */
  val FusePool = 20
  /** The request mix as a fixed cycle of sixteen: ask eight times, and
    * each search kind once (dense top-k unfiltered and with a kind, a time
    * and a path filter, IVF, IVF-PQ, BM25 over the index, hybrid). The
    * shares are an assumption: the reference records no traffic mix. Its
    * one measured workload is an ask-only eval (`ask_eval.py`,
    * BASELINE.md), so ask gets half the requests; the search kinds share
    * the other half evenly. Every run sends the same shares in the same
    * order; the seed decides the queries and filter values. The median
    * (`op_p50_ms`) falls among the asks.
    */
  val Cycle = Seq("ask", "dense", "ask", "ivf", "ask", "bm25", "ask", "dense-kind",
    "ask", "pq", "ask", "dense-time", "ask", "hybrid", "ask", "dense-path")
  /** The single-query approximate paths, and the size of the fixed query
    * set each one's recall is measured on: the first `RecallQueries`
    * requests of that kind in the cycle order, timed or not.
    */
  val RecallKinds = Seq("ivf", "pq")
  val RecallQueries = 12
  /** Cycles every run sends and measures: two take 8–10 s on a 4-core
    * host, about a 10 s window.
    */
  val MeasuredCycles = 2
  val KindsOfDocs = Seq("text", "csv", "json", "chat", "html")
}
