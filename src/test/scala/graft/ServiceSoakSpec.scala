package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EmbedService, MediaService}

/** Opt-in REAL-SERVICE soak — the reference gates its networked tests the
  * same way (worker/tests/conftest.py:54-66 auto-skips the qdrant-marked
  * tests when the service isn't reachable, keeping local runs green while
  * still allowing them when up). Hermetic CI never talks to a network:
  * every test here CANCELS (scalatest `assume`) unless `GRAFT_SERVICES_UP=1`.
  *
  * Endpoints (reference defaults in worker/app/config.py):
  *   GRAFT_EMBED_URL    embedding server base (default
  *                      http://localhost:11434 — OLLAMA_HOST, config.py:90)
  *   GRAFT_EMBED_MODEL  default nomic-embed-text (config.py:41)
  *   GRAFT_EMBED_DIM    default 768 (config.py:42)
  *   GRAFT_MEDIA_URL    media annotation backend base; STT soak also needs
  *   GRAFT_MEDIA_STT_ENDPOINT (e.g. /api/stt) — both unset ⇒ cancelled
  *
  * The unit suites (EmbedServiceSpec, MediaServiceSpec) pin the batching /
  * fail-soft / response-shape contract against stub transports; this suite
  * only proves the SAME operators hold up against a live backend — row
  * conservation, declared dimension, and stable output across a repeat
  * pass. It deliberately reuses the production entry points
  * (embedColumn / annotate), not a bespoke client.
  */
class ServiceSoakSpec extends AnyFunSuite with SharedSpark {

  private val servicesUp = sys.env.get("GRAFT_SERVICES_UP").contains("1")

  test("embed soak: live backend embeds every row at the declared dim") {
    assume(servicesUp, "GRAFT_SERVICES_UP != 1 — soak skipped (CI is hermetic)")
    import spark.implicits._
    val base = sys.env.getOrElse("GRAFT_EMBED_URL", "http://localhost:11434")
    val model = sys.env.getOrElse("GRAFT_EMBED_MODEL", "nomic-embed-text")
    val dim = sys.env.getOrElse("GRAFT_EMBED_DIM", "768").toInt
    val cfg = EmbedService.Config(model, dim,
      EmbedService.HttpTransport(base), batchSize = 16,
      maxConsecutiveFailures = 3)
    val texts = (1 to 100).map(i => (i.toLong, s"soak row $i: the quick brown fox"))
    val df = texts.toDF("id", "text").repartition(2)
    val skipped = spark.sparkContext.longAccumulator("soak_embed_skipped")
    val out = EmbedService.embedColumn(df, "text", "vector", cfg, Some(skipped))
      .select(col("id"), col("vector")).collect()
    assert(out.length == texts.length,
      s"live backend dropped rows: ${out.length}/${texts.length}")
    assert(skipped.value == 0L, s"live backend skipped ${skipped.value} rows")
    assert(out.forall(_.getSeq[Double](1).length == dim),
      s"vector dim != declared $dim")
    assert(out.forall(_.getSeq[Double](1).exists(_ != 0.0)), "all-zero vector")
    // repeat pass: the same text must embed to the same vector (embedding
    // inference is deterministic; instability here means load-balanced
    // heterogeneous backends — worth failing a soak over)
    val again = EmbedService.embedColumn(df, "text", "vector", cfg, None)
      .select(col("id"), col("vector")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    out.foreach { r =>
      assert(again(r.getLong(0)) == r.getSeq[Double](1),
        s"row ${r.getLong(0)} embedded differently across passes")
    }
  }

  test("media soak: live STT backend annotates every row") {
    assume(servicesUp, "GRAFT_SERVICES_UP != 1 — soak skipped (CI is hermetic)")
    val mediaUrl = sys.env.get("GRAFT_MEDIA_URL")
    val endpoint = sys.env.get("GRAFT_MEDIA_STT_ENDPOINT")
    assume(mediaUrl.isDefined && endpoint.isDefined,
      "GRAFT_MEDIA_URL / GRAFT_MEDIA_STT_ENDPOINT unset — media soak skipped")
    import spark.implicits._
    // a minimal VALID mono 16-bit 16kHz WAV of silence — real container,
    // trivial content, so any real STT backend accepts it
    def silentWav(ms: Int): Array[Byte] = {
      val rate = 16000
      val samples = rate * ms / 1000
      val dataLen = samples * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
        .putInt(16).putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
        .putShort(2).putShort(16).put("data".getBytes("US-ASCII"))
        .putInt(dataLen)
      bb.array()
    }
    val rows = (1 to 6).map(i => (s"soak/clip_$i.wav", silentWav(100)))
    val df = rows.toDF("path", "content").repartition(2)
    val cfg = MediaService.Config(MediaService.Stt,
      MediaService.HttpTransport(mediaUrl.get, endpoint.get), batchSize = 2,
      maxConsecutiveFailures = 2)
    val failed = spark.sparkContext.longAccumulator("soak_media_failed")
    val out = MediaService.annotate(df, "path", "content", "text", cfg, Some(failed))
      .select(col("path"), col("text")).collect()
    assert(out.length == rows.length,
      s"live STT dropped rows: ${out.length}/${rows.length}")
    assert(failed.value == 0L, s"live STT failed ${failed.value} rows")
    assert(out.forall(!_.isNullAt(1)), "null annotation from live STT")
  }
}
