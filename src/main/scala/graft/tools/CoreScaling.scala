package graft.tools

import java.io.File
import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Session, Tables}
import graft.sources.GenStore

/** Per-query CORE-scaling draw at a compute-bound size (r17 verdict #8):
  * every parallelism claim so far rests on sf0.1 numbers, where the median
  * query is ~0.5 s and fixed per-job overhead swamps core count (the r17
  * suite ran 106.9 s @32 cores vs 119.9 s @8 — a 1.12× ratio at a 4× core
  * cut says nothing per query). This tool times one representative per
  * query CLASS on the REPS× letter-permuted corpus (the bench's own
  * scale_check artifact — identical manifest signature, so the corpus and
  * the /tmp stores are shared) in TWO fresh sessions, local[hi] then
  * local[lo], and prints sec@hi / sec@lo / ratio per query. A ratio near
  * the core ratio = compute-bound and parallel; near 1 = fixed-overhead or
  * serial — the named offenders list the committed table needs.
  *
  * Store-backed lineages get one UNTIMED warm run per session-independent
  * store first (build is write-time work, not serve), then min-of-2 warm
  * serves per core point — same split as the bench's scale_check.
  *
  * Usage: runMain graft.tools.CoreScaling [sfDir] [reps] [hiCpus] [loCpus]
  */
object CoreScaling {

  private val Queries = Seq(
    "q03_regional_revenue",   // TPC join+agg
    "q60_bm25",               // full-scan text scoring
    "q68_bm25_indexed",       // store-served text index probe
    "q73_batch_pq",           // batch ADC scan + rerank
    "q85_dedup_apply",        // cluster-store label serve
    "q88_span_removal",       // span dedup (salted/window kernel)
    "q96_inc_near_dup",       // incremental band-store probe
    "q97_stream_near_dup",    // streaming band-store probe
    "q98_curation_pipeline",  // composed curation
    "q99_full_recipe",        // composed recipe (decontam + spans)
    "q107_sequence_packing",  // prefix-sum packing window
    "q112_packed_manifest",
    "q120_bpe_merges",        // iterative driver loop (expected serial-ish)
    "q121_ann_recall",        // IVF recall curve
    "q128_pq_recall")         // PQ recall curve

  /** The REPS× corpus directory for `sfDir`: one per (source path, reps),
    * shared by Bench's scale check, this tool and Q88Profile.
    */
  def scaledDir(sfDir: String, reps: Int): File = {
    val src = new File(s"$sfDir/documents.parquet").getAbsolutePath
    val sig = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$src#scale$reps".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    new File(System.getProperty("java.io.tmpdir"), s"graft-scale-$sig")
  }

  /** Build (once, manifest-gated) the REPS× corpus: the union of REPS
    * letter-permuted replicas of the documents table, the other tables
    * symlinked. translate() with a per-replica alphabet permutation keeps
    * every char count, line length and within-replica duplicate structure
    * while making shingle sets across replicas disjoint; a plain copy would
    * weld each doc into a REPS-clique of near-dups and measure a different
    * workload, not a bigger one. The corpus is written to a temporary
    * sibling and published by an atomic rename, so a concurrent run never
    * sees a half-written or half-deleted directory.
    * Returns (dir, seconds spent generating).
    */
  def ensureScaledCorpus(spark: SparkSession, sfDir: String,
      reps: Int): (String, Double) = {
    val dir = scaledDir(sfDir, reps).toPath
    val srcDocs = new File(s"$sfDir/documents.parquet")
    val expected = s"""{"source_stamp":"${GenStore.sourceStamp(srcDocs)}",""" +
      s""""reps":$reps,"scenario":"scale-v1"}"""
    def fresh: Boolean = {
      val mf = dir.resolve("_graft_manifest.json")
      Files.exists(mf) && Files.readString(mf) == expected
    }
    def delete(p: Path): Unit = if (Files.exists(p)) FileUtils.deleteDirectory(p.toFile)
    val t0 = System.nanoTime()
    if (!fresh) {
      val tmp = Files.createTempDirectory(dir.getParent, s"${dir.getFileName}.")
      Tables.names.filter(_ != "documents").foreach { n =>
        Files.createSymbolicLink(tmp.resolve(s"$n.parquet"), Paths.get(s"$sfDir/$n.parquet"))
      }
      val docs = spark.read.parquet(srcDocs.toString)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      // deterministic per-replica permutation (LCG-seeded Fisher-Yates)
      def perm(rep: Int): String = {
        val a = alpha.toCharArray
        var x = rep.toLong * 2654435761L + 1013904223L
        for (i <- a.length - 1 to 1 by -1) {
          x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
          val j = (x % (i + 1)).toInt
          val t = a(i); a(i) = a(j); a(j) = t
        }
        new String(a)
      }
      (0 until reps).map { r =>
        val base = docs.withColumn("doc_id", col("doc_id") + lit(r.toLong * maxId))
        if (r == 0) base
        else {
          val p = perm(r)
          base.withColumn("text", translate(col("text"),
            alpha + alpha.toUpperCase, p + p.toUpperCase))
        }
      }.reduce(_ unionByName _).write.parquet(s"$tmp/documents.parquet")
      Files.writeString(tmp.resolve("_graft_manifest.json"), expected)
      if (fresh) delete(tmp) // a concurrent run published first
      else {
        delete(dir)
        try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        catch { case e: FileSystemException =>
          delete(tmp)
          if (!fresh) throw e
        }
      }
    }
    (dir.toString, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    val hi = args.lift(2).map(_.toInt).getOrElse(Session.cpus)
    val lo = args.lift(3).map(_.toInt).getOrElse(math.max(2, hi / 4))

    def measure(cpus: Int, dir: String,
        warmStores: Boolean): Seq[(String, Double)] = {
      val s = Session.local(cpus)
      graft.Bench.warmup(s, sfDir)
      val out = Queries.map { name =>
        val t = try {
          val q = graft.SparkEntry.queries(name)
          if (warmStores) { Session.drain(q(s, dir)); Session.cooldown(s) }
          (1 to 2).map { i =>
            if (i > 1) Session.cooldown(s)
            val t0 = System.nanoTime()
            Session.drain(q(s, dir))
            (System.nanoTime() - t0) / 1e9
          }.min
        } catch { case e: Throwable =>
          System.err.println(s"[corescale] $name @${cpus}c FAILED: " +
            e.getMessage.linesIterator.nextOption().getOrElse(""))
          -1.0
        }
        Session.cooldown(s)
        println(f"[corescale] $name%-26s @${cpus}%2dc  $t%7.2f s")
        name -> t
      }
      s.stop()
      out
    }

    val s0 = Session.local(hi)
    val (dir, _) = ensureScaledCorpus(s0, sfDir, reps)
    s0.stop()
    // hi first (builds the /tmp stores for the scaled corpus on its
    // untimed warm pass), then lo reuses them — both measure warm SERVE
    val hiTimes = measure(hi, dir, warmStores = true).toMap
    val loTimes = measure(lo, dir, warmStores = true).toMap
    val rows = Queries.map { q =>
      val (th, tl) = (hiTimes.getOrElse(q, -1.0), loTimes.getOrElse(q, -1.0))
      val ratio = if (th > 0 && tl > 0) tl / th else -1.0
      println(f"[corescale] TABLE $q%-26s ${th}%7.2f s @${hi}c  ${tl}%7.2f s @${lo}c  ratio ${ratio}%5.2f")
      f""""$q":{"sec_c$hi":$th%.3f,"sec_c$lo":$tl%.3f,"ratio":$ratio%.2f}"""
    }
    println(s"""{"metric":"core_scaling","reps":$reps,"cpus_hi":$hi,"cpus_lo":$lo,"per_query":${rows.mkString("{", ",", "}")},"sf":"$sfDir"}""")
  }
}
