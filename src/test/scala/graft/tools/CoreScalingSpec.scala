package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** The REPS× corpus is published whole by one rename and reused while its
  * manifest matches.
  */
class CoreScalingSpec extends AnyFunSuite with SharedSpark {

  test("scaled corpus: REPS replicas, other tables linked, reused, no temp dirs left") {
    val sf = "/root/testdata/sf0.001"
    val dir = CoreScaling.scaledDir(sf, 2).toPath
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile) // exercise the build
    val (built, _) = CoreScaling.ensureScaledCorpus(spark, sf, 2)
    assert(built == dir.toString)
    val src = spark.read.parquet(s"$sf/documents.parquet")
    val scaled = spark.read.parquet(s"$built/documents.parquet")
    assert(scaled.count() == 2 * src.count())
    assert(scaled.select("doc_id").distinct().count() == scaled.count(), "replica ids collide")
    assert(Files.isSymbolicLink(dir.resolve("lineitem.parquet")))
    val stamp = Files.getLastModifiedTime(dir.resolve("_graft_manifest.json"))
    assert(CoreScaling.ensureScaledCorpus(spark, sf, 2)._1 == built)
    assert(Files.getLastModifiedTime(dir.resolve("_graft_manifest.json")) == stamp,
      "a fresh corpus was rebuilt")
    val siblings = Files.list(dir.getParent).toArray.map(_.toString)
      .filter(_.startsWith(s"$dir."))
    assert(siblings.isEmpty, siblings.mkString(", "))
  }
}
