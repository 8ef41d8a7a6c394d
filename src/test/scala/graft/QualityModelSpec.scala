package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.QualityModel

/** Lifecycle of the write-time quality-classifier artifact: ensure trains
  * exactly once per (source stamp, params), weights round-trip the JSON
  * sidecar bit-exactly (serving from disk ≡ serving from the fit), and
  * staleness fires on BOTH the volume and the log-loss quality trigger —
  * the PQ-codebook discipline applied to model coefficients. (q67's
  * oracle row pins end-to-end value parity; these tests pin the state
  * machine.)
  */
class QualityModelSpec extends AnyFunSuite with SharedSpark {

  /** A tiny corpus with separable quality: "good" docs are stopword-rich
    * medium-length English, "bad" docs are one long unbroken token.
    */
  private def docsDF(n: Int, seedTag: String): DataFrame = {
    import spark.implicits._
    (1 to n).map { i =>
      val text =
        if (i % 2 == 0)
          s"the quick fox $seedTag${i} and it is a fine day in the field of it " * 3
        else s"zzz${seedTag}qqqqqqqqqqqqqqqqqqqqqqqq${i}"
      (s"d%04d".format(i), "en", text)
    }.toDF("doc_id", "lang", "text")
  }

  /** Write a documents.parquet under a fresh sfDir; modelPath keys the
    * tmpdir artifact off its absolute path, so each tag gets its own
    * isolated artifact.
    */
  private def freshSfDir(tag: String, docs: DataFrame): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-qc-spec-$tag").toFile
    dir.deleteOnExit()
    docs.coalesce(1).write.parquet(new java.io.File(dir, "documents.parquet").toString)
    dir.toString
  }

  private def weightsFileOf(sfDir: String) = new java.io.File(
    QualityModel.modelPath(sfDir), "_graft_qc_weights.json")

  test("ensure trains once; second call serves the stored weights unchanged") {
    val docs = docsDF(40, "a")
    val sfDir = freshSfDir("once", docs)
    val w1 = QualityModel.ensure(spark, docs, sfDir)
    val f = weightsFileOf(sfDir)
    assert(f.exists())
    val mtime = f.lastModified()
    val len = f.length()
    val w2 = QualityModel.ensure(spark,
      { fail("fresh ensure must not touch the docs frame"); docs }, sfDir)
    assert(w2.toSeq == w1.toSeq)
    assert(f.lastModified() == mtime && f.length() == len,
      "fresh ensure must not rewrite the artifact")
  }

  test("weights round-trip the sidecar bit-exactly (disk ≡ fit)") {
    val docs = docsDF(40, "b")
    val sfDir = freshSfDir("rt", docs)
    val w = QualityModel.ensure(spark, docs, sfDir)
    val back = QualityModel.readWeights(QualityModel.modelPath(sfDir)).get
    assert(back.length == w.length)
    // bit-exact, not approx: the oracle literals and the serving scan must
    // agree whether weights came from the fit or a fresh-JVM sidecar read
    assert(back.zip(w).forall { case (a, b) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) })
  }

  test("source-stamp change retrains (manifest discipline)") {
    val docs = docsDF(40, "c")
    val sfDir = freshSfDir("stamp", docs)
    val w1 = QualityModel.ensure(spark, docs, sfDir)
    // regenerate the table: part files change → stamp changes → retrain
    val dst = new java.io.File(sfDir, "documents.parquet")
    docsDF(44, "c2").coalesce(1).write.mode("overwrite").parquet(dst.toString)
    val w2 = QualityModel.ensure(spark, docsDF(44, "c2"), sfDir)
    assert(w2.toSeq != w1.toSeq, "new corpus must yield a new fit")
    val (_, baseN, _, dN) = QualityModel.readQuality(QualityModel.modelPath(sfDir))
    assert(baseN == 44L && dN == 0L, "retrain resets the drift counters")
  }

  test("in-distribution delta does not trigger; shifted delta fires the quality trigger") {
    val docs = docsDF(60, "d")
    val sfDir = freshSfDir("drift", docs)
    QualityModel.ensure(spark, docs, sfDir)
    val path = QualityModel.modelPath(sfDir)

    // same-distribution small delta: low volume, log-loss ratio ≈ 1
    QualityModel.accumulateDelta(docsDF(6, "d"), sfDir)
    assert(QualityModel.driftFraction(path) <= 0.2)
    assert(!QualityModel.retrainIfStale(spark, docs, sfDir))

    // distribution shift hiding inside a small delta: AMBIGUOUS docs the
    // frozen model cannot separate (half stopword mass pulling keep, half
    // long-gibberish mass pulling drop, rule label = drop) — per-doc
    // log-loss lands near ln 2 while the training-time mean on separable
    // data is far lower, so the ratio blows past 1.5× with volume still
    // under the 20% gate. This is exactly the drift a volume trigger
    // misses.
    import spark.implicits._
    val shifted = (1 to 6).map { i =>
      val text = "the of and it is " + (1 to 5)
        .map(j => s"x${i}y${j}" + "q" * 26).mkString(" ")
      (s"s%03d".format(i), "en", text)
    }.toDF("doc_id", "lang", "text")
    QualityModel.accumulateDelta(shifted, sfDir)
    assert(QualityModel.driftFraction(path) <= 0.2,
      "shift must be caught by QUALITY, not volume")
    val ratio = QualityModel.qualityRatio(path)
    withClue(s"quality ratio $ratio: ") {
      assert(ratio > 1.5, "ambiguous delta must degrade mean log-loss past the gate")
    }
    assert(QualityModel.retrainIfStale(spark, docs, sfDir),
      "quality trigger alone must fire the retrain")
  }

  test("volume trigger: a big enough delta retrains and resets counters") {
    val docs = docsDF(20, "e")
    val sfDir = freshSfDir("vol", docs)
    QualityModel.ensure(spark, docs, sfDir)
    val path = QualityModel.modelPath(sfDir)
    QualityModel.accumulateDelta(docsDF(8, "e2"), sfDir) // 8/20 = 40% > 20%
    assert(QualityModel.driftFraction(path) > 0.2)
    assert(QualityModel.retrainIfStale(spark, docs, sfDir))
    assert(QualityModel.driftFraction(path) == 0.0,
      "retrain resets the volume counter")
    assert(!QualityModel.retrainIfStale(spark, docs, sfDir),
      "freshly retrained model is not stale")
  }

  test("training is deterministic under partitioning (decimal accumulators)") {
    val docs = docsDF(40, "f")
    val w1 = QualityModel.train(
      QualityModel.features(docs.repartition(1)).localCheckpoint(), 40.0)
    val w8 = QualityModel.train(
      QualityModel.features(docs.repartition(8)).localCheckpoint(), 40.0)
    assert(w1.zip(w8).forall { case (a, b) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) })
  }
}
