package graft

import com.fasterxml.jackson.databind.ObjectMapper

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MediaService
import graft.operators.MediaService.{Caption, Config, Stt, Transport}

/** JVM-static recorder — local-mode tasks deserialize their own stub
  * copies (same pattern as EmbedStubState).
  */
object MediaStubState {
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

/** Echo responder: text = "anno:" + basename, proving path routing and
  * batch shape.
  */
class EchoMediaStub extends Transport {
  override def post(paths: Seq[String], payloads: Seq[Array[Byte]]): String = {
    MediaStubState.batchSizes.add(paths.size)
    require(paths.size == payloads.size)
    paths.map(p => "\"anno:" + p.substring(p.lastIndexOf('/') + 1) + "\"")
      .mkString("""{"texts": [""", ",", "]}")
  }
}

class FailingMediaStub extends Transport {
  override def post(paths: Seq[String], payloads: Seq[Array[Byte]]): String =
    throw new RuntimeException("media boom")
}

class MustNotCallMediaStub extends Transport {
  override def post(paths: Seq[String], payloads: Seq[Array[Byte]]): String =
    throw new IllegalStateException("dev mode must not call transport")
}

/** S10/S11 service-path contract: batched transport, dev-mode stub parity
  * with the reference (parse_audio.py:27-32 verbatim stub; images.py
  * empty-caption soft-fallback), fail-soft vs dead-backend threshold.
  */
class MediaServiceSpec extends AnyFunSuite with SharedSpark {

  private def mediaDf(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (s"dz/clip-$i.mp3", Array[Byte](i.toByte, 1, 2)))
      .toDF("path", "content").repartition(1)
  }

  test("response parsing: texts array, single text, count mismatch") {
    val m = new ObjectMapper()
    assert(MediaService.parseTexts(m.readTree("""{"texts": ["a", "b"]}"""), 2)
      == Seq("a", "b"))
    assert(MediaService.parseTexts(m.readTree("""{"text": "solo"}"""), 1) == Seq("solo"))
    assertThrows[IllegalArgumentException](
      MediaService.parseTexts(m.readTree("""{"texts": ["a"]}"""), 2))
    assertThrows[IllegalArgumentException](
      MediaService.parseTexts(m.readTree("""{"wrong": 1}"""), 1))
  }

  test("annotate batches per partition; annotations line up with rows") {
    MediaStubState.batchSizes.clear()
    val out = MediaService.annotate(mediaDf(10), "path", "content", "transcript",
      Config(Stt, new EchoMediaStub, batchSize = 4)).collect()
    assert(out.length == 10)
    assert(out.map(r => (r.getString(0), r.getString(2))).forall {
      case (p, t) => t == "anno:" + p.stripPrefix("dz/")
    })
    val sizes = MediaStubState.batchSizes.toArray(Array.empty[Integer]).map(_.toInt).sorted
    assert(sizes.toSeq == Seq(2, 4, 4))
  }

  test("dev-mode STT emits the reference's stub verbatim, no transport call") {
    val out = MediaService.annotate(mediaDf(3), "path", "content", "transcript",
      Config(Stt, new MustNotCallMediaStub, devMode = true)).collect()
    assert(out.map(_.getString(2)).toSeq ==
      Seq(1, 2, 3).map(i => s"[DEV] transcript of clip-$i.mp3"))
  }

  test("STT failure skips rows and counts; caption failure soft-falls to empty") {
    val failedStt = spark.sparkContext.longAccumulator("stt_failed")
    val stt = MediaService.annotate(mediaDf(6), "path", "content", "transcript",
      Config(Stt, new FailingMediaStub, batchSize = 3), Some(failedStt))
    assert(stt.count() == 0)
    assert(failedStt.value == 6)

    val failedCap = spark.sparkContext.longAccumulator("cap_failed")
    val cap = MediaService.annotate(mediaDf(6), "path", "content", "caption",
      Config(Caption, new FailingMediaStub, batchSize = 3), Some(failedCap))
      .collect()
    assert(cap.length == 6 && cap.forall(_.getString(2) == ""))
    assert(failedCap.value == 6)
  }

  test("a dead backend fails the stage past the consecutive threshold") {
    val df = mediaDf(12)
    val ex = intercept[Exception] {
      MediaService.annotate(df, "path", "content", "transcript",
        Config(Stt, new FailingMediaStub, batchSize = 2,
          maxConsecutiveFailures = 3)).count()
    }
    assert(ex.getMessage.contains("consecutive") ||
      Option(ex.getCause).exists(_.getMessage.contains("consecutive")))
  }
}
