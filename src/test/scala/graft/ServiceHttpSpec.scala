package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.scalatest.funsuite.AnyFunSuite

/** Static server-side observations: local-mode tasks run in this JVM, but
  * recording through JVM-static state keeps the spec valid even if the
  * transport were exercised from a forked executor.
  */
object HttpStubState {
  val embedRequests = new java.util.concurrent.atomic.AtomicInteger(0)
  val contentTypes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The REAL `HttpTransport`s (java.net.http over actual loopback sockets)
  * against an in-process `com.sun.net.httpserver` stub speaking the
  * reference protocols — `/api/embed` (embed_ollama.py:90-95 request/
  * response shapes) and the media JSON batch POST. The env-gated
  * ServiceSoakSpec needs live whisper/Ollama model backends and cannot run
  * hermetically; THIS spec pins everything below the model — URL assembly,
  * headers, request serialization, base64 payload round-trip, batch
  * framing, HTTP error → fail-soft skip — with nothing mocked inside the
  * JVM's HTTP stack.
  */
class ServiceHttpSpec extends AnyFunSuite with SharedSpark {

  private val mapper = new ObjectMapper()

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Loopback server with the given handlers; returns its base URL. */
  private def withServer(handlers: (String, HttpExchange => Unit)*)(
      f: String => Unit): Unit = {
    val server = HttpServer.create(
      new InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
    handlers.foreach { case (path, h) =>
      server.createContext(path, (ex: HttpExchange) => h(ex))
    }
    // daemon pool: the fault-matrix handlers deliberately stall mid-body;
    // on the default (dispatcher-thread) executor a sleeping handler
    // would block every other exchange AND server.stop
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool { r =>
      val t = new Thread(r); t.setDaemon(true); t
    })
    server.start()
    try f(s"http://${server.getAddress.getHostString}:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("embed: real HTTP round-trip — batching, headers, modern response shape") {
    import graft.operators.EmbedService
    import spark.implicits._
    HttpStubState.embedRequests.set(0)
    HttpStubState.contentTypes.clear()
    val dim = 4
    val handler: HttpExchange => Unit = { ex =>
      HttpStubState.embedRequests.incrementAndGet()
      HttpStubState.contentTypes.add(ex.getRequestHeaders.getFirst("Content-Type"))
      val req = mapper.readTree(readBody(ex))
      assert(req.get("model").asText() == "stub-model")
      val in = req.get("input")
      val vecs = (0 until in.size()).map { i =>
        val t = in.get(i).asText()
        (0 until dim).map(k => (t.length + k) / 100.0).mkString("[", ",", "]")
      }
      respond(ex, 200, vecs.mkString("""{"embeddings": [""", ",", "]}"))
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", dim,
        EmbedService.HttpTransport(base), batchSize = 4)
      val df = (1 to 10).map(i => s"text number $i").toDF("text").repartition(1)
      val out = EmbedService.embedColumn(df, "text", "vector", cfg)
        .select("text", "vector").collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      assert(out.size == 10)
      assert(out("text number 3") == (0 until dim).map(k => (13 + k) / 100.0))
      // 10 rows at batchSize=4 in one partition = 3 HTTP requests
      assert(HttpStubState.embedRequests.get() == 3)
      assert(HttpStubState.contentTypes.asScala.forall(_ == "application/json"))
    }
  }

  implicit class QueueOps[A](q: java.util.concurrent.ConcurrentLinkedQueue[A]) {
    def asScala: Seq[A] = {
      import scala.jdk.CollectionConverters._
      q.iterator().asScala.toSeq
    }
  }

  test("embed: HTTP 500 on one batch fail-softs that batch only, counted") {
    import graft.operators.EmbedService
    import spark.implicits._
    val handler: HttpExchange => Unit = { ex =>
      val req = mapper.readTree(readBody(ex))
      val in = req.get("input")
      val texts = (0 until in.size()).map(in.get(_).asText())
      if (texts.exists(_.contains("poison")))
        respond(ex, 500, """{"error": "overloaded"}""")
      else
        respond(ex, 200,
          texts.map(_ => "[0.5]").mkString("""{"embeddings": [""", ",", "]}"))
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base), batchSize = 2)
      val skipped = spark.sparkContext.longAccumulator("skipped")
      // batches of 2 in row order: (a,b) ok, (poison1,poison2) 500, (c,d) ok
      val df = Seq("a", "b", "poison1", "poison2", "c", "d").toDF("text").coalesce(1)
      val out = EmbedService.embedColumn(df, "text", "vector", cfg, Some(skipped))
        .select("text").collect().map(_.getString(0)).toSet
      assert(out == Set("a", "b", "c", "d"))
      assert(skipped.value == 2)
    }
  }

  // --- transport fault matrix (r10 prescription #7): 429/backoff, mid-body
  //     stall, chunked split responses, connection reset — all against real
  //     sockets, nothing mocked inside the JVM's HTTP stack

  private def okEmbedHandler(dim: Int): HttpExchange => Unit = { ex =>
    val req = mapper.readTree(readBody(ex))
    val in = req.get("input")
    val vecs = (0 until in.size()).map { i =>
      val t = in.get(i).asText()
      (0 until dim).map(k => (t.length + k) / 100.0).mkString("[", ",", "]")
    }
    respond(ex, 200, vecs.mkString("""{"embeddings": [""", ",", "]}"))
  }

  test("fault: 429 backoff — transport retries and succeeds; Retry-After honored") {
    import graft.operators.EmbedService
    import spark.implicits._
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val handler: HttpExchange => Unit = { ex =>
      val n = hits.incrementAndGet()
      if (n <= 2) { // two rate-limits, then healthy
        ex.getResponseHeaders.set("Retry-After", "0") // keep the test fast
        respond(ex, 429, """{"error": "rate limited"}""")
      } else okEmbedHandler(1)(ex)
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base, maxRetries = 3, retryBaseMillis = 10),
        batchSize = 8)
      val skipped = spark.sparkContext.longAccumulator("skipped")
      val out = EmbedService.embedColumn(
          Seq("a", "bb").toDF("text").coalesce(1), "text", "vector", cfg,
          Some(skipped))
        .count()
      assert(out == 2, "the batch must survive transient 429s")
      assert(skipped.value == 0, "a retried-to-success batch is not a skip")
      assert(hits.get() == 3, s"expected 2 retries then success, saw ${hits.get()} requests")
    }
  }

  test("fault: 429 persisting past maxRetries fail-softs the batch, counted") {
    import graft.operators.EmbedService
    import spark.implicits._
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val handler: HttpExchange => Unit = { ex =>
      hits.incrementAndGet()
      ex.getResponseHeaders.set("Retry-After", "0")
      respond(ex, 429, """{"error": "rate limited"}""")
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base, maxRetries = 2, retryBaseMillis = 10),
        batchSize = 8)
      val skipped = spark.sparkContext.longAccumulator("skipped")
      val out = EmbedService.embedColumn(
          Seq("a", "bb").toDF("text").coalesce(1), "text", "vector", cfg,
          Some(skipped))
        .count()
      assert(out == 0)
      assert(skipped.value == 2, "exhausted retries must fall to the skip path")
      assert(hits.get() == 3, s"1 try + 2 retries expected, saw ${hits.get()}")
    }
  }

  test("fault: mid-body stall times out the exchange instead of hanging the task") {
    import graft.operators.EmbedService
    import spark.implicits._
    val handler: HttpExchange => Unit = { ex =>
      // headers + half the body, then stall LONGER than the client
      // deadline: the plain request .timeout() does NOT fire here — only
      // the full-exchange orTimeout saves the task
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0) // chunked
      val out = ex.getResponseBody
      out.write("""{"embeddings": [[0.5""".getBytes(StandardCharsets.UTF_8))
      out.flush()
      Thread.sleep(8000) // > timeoutSeconds below; daemon pool thread
      ex.close()
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base, timeoutSeconds = 1, maxRetries = 0),
        batchSize = 8)
      val skipped = spark.sparkContext.longAccumulator("skipped")
      val t0 = System.nanoTime()
      val out = EmbedService.embedColumn(
          Seq("a", "bb").toDF("text").coalesce(1), "text", "vector", cfg,
          Some(skipped))
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(out == 0)
      assert(skipped.value == 2, "a stalled batch must fail-soft, not hang")
      assert(sec < 6.0, f"timeout took $sec%.1fs — deadline did not bound the body read")
    }
  }

  test("fault: retries share ONE overall call budget (r12 advice)") {
    import graft.operators.EmbedService
    import spark.implicits._
    // a stalling-then-429ing backend used to hold a task for
    // retries × (fresh deadline + backoff) — ~20 min at the embed
    // defaults. The budget is now per CALL: a Retry-After the remaining
    // budget cannot cover gives up instead of sleeping.
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val handler: HttpExchange => Unit = { ex =>
      hits.incrementAndGet()
      ex.getResponseHeaders.set("Retry-After", "30") // far past the budget
      respond(ex, 429, """{"error": "rate limited"}""")
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base, timeoutSeconds = 2, maxRetries = 5,
          retryBaseMillis = 10),
        batchSize = 8)
      val skipped = spark.sparkContext.longAccumulator("skipped")
      val t0 = System.nanoTime()
      val out = EmbedService.embedColumn(
          Seq("a", "bb").toDF("text").coalesce(1), "text", "vector", cfg,
          Some(skipped))
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(out == 0)
      assert(skipped.value == 2, "budget-exhausted batch must fail-soft")
      assert(hits.get() == 1,
        s"an uncoverable Retry-After must stop the retry loop, saw ${hits.get()} requests")
      assert(sec < 6.0,
        f"gave up after $sec%.1fs — retries are not sharing the 2s call budget")
    }
  }

  test("fault: overflowing computed backoff gives up, not a zero-delay storm") {
    import graft.operators.EmbedService
    import spark.implicits._
    // No Retry-After header, so the COMPUTED path runs: a base large
    // enough that `base << attempt` exceeds (or overflows past) the
    // clamp must hit the budget give-up on the first 429 — before the
    // clamp, overflow-negative backoff made `backoff + 100 >= remaining`
    // false and sleep(max(0,·)) retried instantly, maxRetries times.
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val handler: HttpExchange => Unit = { ex =>
      hits.incrementAndGet()
      respond(ex, 429, """{"error": "rate limited"}""")
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base, timeoutSeconds = 2, maxRetries = 5,
          retryBaseMillis = Long.MaxValue / 2),
        batchSize = 8)
      val skipped = spark.sparkContext.longAccumulator("skipped")
      val t0 = System.nanoTime()
      val out = EmbedService.embedColumn(
          Seq("a", "bb").toDF("text").coalesce(1), "text", "vector", cfg,
          Some(skipped))
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      assert(out == 0)
      assert(skipped.value == 2, "clamped-backoff batch must fail-soft")
      assert(hits.get() == 1,
        s"an uncoverable computed backoff must stop the loop, saw ${hits.get()} requests")
      assert(sec < 6.0,
        f"gave up after $sec%.1fs — the computed backoff is not clamped")
    }
  }

  test("fault: chunked split response reassembles bit-for-bit") {
    import graft.operators.EmbedService
    import spark.implicits._
    val handler: HttpExchange => Unit = { ex =>
      val req = mapper.readTree(readBody(ex))
      val n = req.get("input").size()
      val body = (1 to n).map(i => s"[0.$i]")
        .mkString("""{"embeddings": [""", ",", "]}")
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0) // length 0 = chunked transfer encoding
      val out = ex.getResponseBody
      // three flushed fragments with pauses: the client must reassemble
      // the split chunks into one JSON document
      val (a, rest) = body.splitAt(7)
      val (b, c) = rest.splitAt(math.max(1, rest.length / 2))
      for (part <- Seq(a, b, c)) {
        out.write(part.getBytes(StandardCharsets.UTF_8))
        out.flush()
        Thread.sleep(60)
      }
      ex.close()
    }
    withServer("/api/embed" -> handler) { base =>
      val cfg = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base), batchSize = 8)
      val out = EmbedService.embedColumn(
          Seq("a", "bb", "ccc").toDF("text").coalesce(1), "text", "vector", cfg)
        .select("text", "vector").collect()
        .map(r => r.getString(0) -> r.getSeq[Double](1).head).toMap
      assert(out == Map("a" -> 0.1, "bb" -> 0.2, "ccc" -> 0.3))
    }
  }

  test("fault: connection reset mid-exchange fail-softs; dead backend fails the stage") {
    import graft.operators.EmbedService
    import spark.implicits._
    // a raw socket that accepts and immediately slams the connection shut
    // (SO_LINGER 0 → RST): the transport must surface an IO error the
    // fail-soft machinery can count — and a backend that does this every
    // time must trip the consecutive-failure threshold, not report
    // "success, zero rows"
    val ss = new java.net.ServerSocket(
      0, 4, java.net.InetAddress.getLoopbackAddress)
    val killer = new Thread(() =>
      try while (true) {
        val s = ss.accept(); s.setSoLinger(true, 0); s.close()
      } catch { case _: Throwable => () })
    killer.setDaemon(true)
    killer.start()
    try {
      val base = s"http://${ss.getInetAddress.getHostAddress}:${ss.getLocalPort}"
      val skipped = spark.sparkContext.longAccumulator("skipped")
      val soft = EmbedService.Config("stub-model", 1,
        EmbedService.HttpTransport(base, maxRetries = 0),
        batchSize = 2, maxConsecutiveFailures = 10)
      val out = EmbedService.embedColumn(
          Seq("a", "b", "c", "d").toDF("text").coalesce(1), "text", "vector",
          soft, Some(skipped))
        .count()
      assert(out == 0)
      assert(skipped.value == 4, "reset batches must be counted as skips")

      val hard = soft.copy(maxConsecutiveFailures = 2)
      val err = intercept[Exception] {
        EmbedService.embedColumn(
          Seq("a", "b", "c", "d", "e", "f").toDF("text").coalesce(1),
          "text", "vector", hard).count()
      }
      assert(err.getMessage.contains("consecutive batch failures") ||
        Option(err.getCause).exists(_.getMessage.contains("consecutive batch failures")),
        s"dead backend must fail the stage: ${err.getMessage}")
    } finally ss.close()
  }

  test("fault: media transport shares the 429 backoff path") {
    import graft.operators.MediaService
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val handler: HttpExchange => Unit = { ex =>
      if (hits.incrementAndGet() == 1) {
        ex.getResponseHeaders.set("Retry-After", "0")
        respond(ex, 503, """{"error": "warming up"}""")
      } else {
        val req = mapper.readTree(readBody(ex))
        val node = mapper.createObjectNode()
        val ts = node.putArray("texts")
        (0 until req.get("paths").size()).foreach(i =>
          ts.add(s"ok:${req.get("paths").get(i).asText()}"))
        respond(ex, 200, mapper.writeValueAsString(node))
      }
    }
    withServer("/stt" -> handler) { base =>
      val df = spark.createDataFrame(Seq(("audio/a.wav", Array[Byte](1))))
        .toDF("relpath", "content")
      val cfg = MediaService.Config(MediaService.Stt,
        MediaService.HttpTransport(base, "/stt", maxRetries = 2,
          retryBaseMillis = 10), batchSize = 8)
      val out = MediaService.annotate(df, "relpath", "content", "media_text", cfg)
        .collect().map(_.getAs[String]("media_text")).toSeq
      assert(out == Seq("ok:audio/a.wav"))
      assert(hits.get() == 2)
    }
  }

  test("media: base64 payloads round-trip over real HTTP; bad endpoint fail-softs") {
    import graft.operators.MediaService
    val sttHandler: HttpExchange => Unit = { ex =>
      val req = mapper.readTree(readBody(ex))
      val paths = (0 until req.get("paths").size()).map(req.get("paths").get(_).asText())
      val data = (0 until req.get("data").size()).map(i =>
        java.util.Base64.getDecoder.decode(req.get("data").get(i).asText()))
      val node = mapper.createObjectNode()
      val ts = node.putArray("texts")
      paths.zip(data).foreach { case (p, b) =>
        // echo basename + decoded byte count + first byte: proves the
        // binary payload survived base64 framing bit-for-bit
        ts.add(s"stt:${p.substring(p.lastIndexOf('/') + 1)}:${b.length}:${b.head}")
      }
      respond(ex, 200, mapper.writeValueAsString(node))
    }
    withServer("/stt" -> sttHandler) { base =>
      val rows = Seq(
        ("audio/a.wav", Array[Byte](7, 8, 9)),
        ("audio/b.mp3", Array[Byte](-1, 0, 1, 2)))
      val df = spark.createDataFrame(rows).toDF("relpath", "content")
      val cfg = MediaService.Config(MediaService.Stt,
        MediaService.HttpTransport(base, "/stt"), batchSize = 8)
      val out = MediaService.annotate(df, "relpath", "content", "media_text", cfg)
        .collect().map(r => r.getAs[String]("relpath") -> r.getAs[String]("media_text")).toMap
      assert(out == Map(
        "audio/a.wav" -> "stt:a.wav:3:7",
        "audio/b.mp3" -> "stt:b.mp3:4:-1"))

      // wrong endpoint → HTTP 404 → fail-soft skip, rows dropped + counted
      val failed = spark.sparkContext.longAccumulator("stt_failed")
      val badCfg = MediaService.Config(MediaService.Stt,
        MediaService.HttpTransport(base, "/nope"), batchSize = 8)
      val bad = MediaService.annotate(df, "relpath", "content", "media_text",
        badCfg, failed = Some(failed))
      assert(bad.count() == 0)
      assert(failed.value == 2)
    }
  }
}
