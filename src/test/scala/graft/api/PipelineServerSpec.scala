package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.LocalDate
import java.util.Locale

import graft.SparkSpec

/** Drives the HTTP surface end-to-end: POST an artifact-driven run,
  * poll status to completion, fetch results — the reference's own
  * service lifecycle (pipeline.py:18-41, pipeline_service.py:100-359)
  * minus the LLM/HTTP adapters.
  */
class PipelineServerSpec extends SparkSpec {

  private def f2(x: Double) = String.format(Locale.ROOT, "%.2f", Double.box(x))

  private def tsPayload: String = {
    val rows = (0 until 20).map { i =>
      val d = LocalDate.of(2026, 2, 1).plusDays(i.toLong)
      val o = (i % 5) + 1.25
      s""""$d": {"1. open": "${f2(o)}", "2. high": "${f2(o + 1)}", "3. low": "${f2(o - 1)}",
         | "4. close": "${f2(o + 0.25)}", "5. volume": "${900 + i}"}"""
        .stripMargin.replace("\n", "")
    }.mkString(", ")
    s"""{"Meta Data": {"2. Symbol": "SRV"}, "Time Series (Daily)": {$rows}}"""
  }

  test("run lifecycle over HTTP: submit, poll, results, history") {
    val service = new PipelineService(spark, Files.createTempDirectory("graft_api").toString)
    val server = new PipelineServer(service)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    def get(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val body =
        s"""{"plan": [{"api_name": "alpha_vantage", "endpoint_name": "TIME_SERIES_DAILY",
           |  "parameters": {"ticker": "SRV", "limit": 15}}],
           | "semantic_keywords": ["daily", "stock", "prices"],
           | "payloads": {"TIME_SERIES_DAILY": ${org.json4s.jackson.JsonMethods.compact(
          org.json4s.JsonDSL.string2jvalue(tsPayload))}},
           | "dsl_recipe": "{\\"features\\": [{\\"name\\": \\"sma\\", \\"params\\": {\\"on\\": \\"close\\", \\"window\\": 5}}]}",
           | "key_features": ["open", "close"],
           | "quality_profile": "balanced"}""".stripMargin
      val post = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/pipeline/run"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 200)
      val runId = post.body().split("\"")(3)

      // poll to completion (driver-side pipeline on 20 rows: seconds)
      var status = ""
      val deadline = System.currentTimeMillis() + 120000
      while (status != "completed" && status != "failed"
          && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        val st = get(s"/pipeline/status/$runId")
        assert(st.statusCode() == 200)
        status = "\"status\" : \"(\\w+)\"".r.findFirstMatchIn(st.body()).map(_.group(1)).getOrElse("")
      }
      assert(status == "completed", s"run did not complete: $status")

      val results = get(s"/pipeline/results/$runId")
      assert(results.statusCode() == 200)
      assert(results.body().contains("result_0.csv"))
      assert(results.body().contains("validation_report"))

      val history = get("/pipeline/history")
      assert(history.statusCode() == 200)
      assert(history.body().contains(runId))

      // download: byte-for-byte round-trip of a produced result file
      // (the reference's GET /pipeline/download/{run_id}/{filename},
      // pipeline.py:83-105)
      val dl = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/pipeline/download/$runId/result_0.csv"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(dl.statusCode() == 200)
      assert(dl.headers().firstValue("Content-Type").orElse("")
        == "application/octet-stream")
      // the engine's CSV sink is a single-part Spark directory; the
      // route serves the part file's bytes — compare against it
      val sinkDir = java.nio.file.Paths.get(
        service.getStatus(runId).get.runDir, "result_0.csv")
      val partFile = {
        val s = Files.list(sinkDir)
        try s.filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().orElseThrow()
        finally s.close()
      }
      assert(java.util.Arrays.equals(dl.body(), Files.readAllBytes(partFile)),
        "downloaded bytes must match the file on disk exactly")

      // unknown run / unknown file -> 404
      assert(get("/pipeline/download/nope/result_0.csv").statusCode() == 404)
      assert(get(s"/pipeline/download/$runId/missing.csv").statusCode() == 404)
      // path traversal (encoded and bare) -> 403, even though the
      // target exists outside the run dir
      val trav = get(s"/pipeline/download/$runId/..%2F..%2Fetc%2Fpasswd")
      assert(trav.statusCode() == 403, s"traversal must 403: ${trav.body()}")
      assert(get(s"/pipeline/download/$runId/%2e%2e").statusCode() == 403)
      // a symlink PLANTED INSIDE the run dir pointing outside it must
      // also 403: the lexical normalize passes, the toRealPath
      // containment check catches the alias (r18 advice closure)
      val outside = Files.createTempFile("graft_outside", ".txt")
      Files.write(outside, "secret".getBytes)
      val link = java.nio.file.Paths.get(
        service.getStatus(runId).get.runDir, "alias.txt")
      try {
        Files.createSymbolicLink(link, outside)
        val sym = get(s"/pipeline/download/$runId/alias.txt")
        assert(sym.statusCode() == 403,
          s"symlink escape must 403: ${sym.statusCode()} ${sym.body()}")
      } finally {
        Files.deleteIfExists(link)
        Files.deleteIfExists(outside)
      }

      assert(get("/pipeline/status/nope").statusCode() == 404)
      assert(get(s"/pipeline/results/nope").statusCode() == 404)
      assert(get("/pipeline/progress/nope").statusCode() == 404)
    } finally {
      server.stop()
      service.shutdown()
    }
  }

  private def runBody(payloads: String): String =
    s"""{"plan": [{"api_name": "alpha_vantage", "endpoint_name": "TIME_SERIES_DAILY",
       |  "parameters": {"ticker": "SRV", "limit": 15}}],
       | "payloads": $payloads,
       | "key_features": ["open", "close"],
       | "quality_profile": "balanced"}""".stripMargin

  test("SSE progress stream pushes the staged 10..100 event sequence") {
    val service = new PipelineService(spark, Files.createTempDirectory("graft_sse").toString)
    val server = new PipelineServer(service)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    try {
      val payloads = s"""{"TIME_SERIES_DAILY": ${org.json4s.jackson.JsonMethods.compact(
        org.json4s.JsonDSL.string2jvalue(tsPayload))}}"""
      val post = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/pipeline/run"))
          .POST(HttpRequest.BodyPublishers.ofString(runBody(payloads))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(post.statusCode() == 200)
      val runId = post.body().split("\"")(3)
      // SSE stream blocks until the run reaches a terminal status, then
      // closes; the body then holds the full replayed event log
      val stream = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/pipeline/progress/$runId"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(stream.statusCode() == 200)
      assert(stream.headers().firstValue("Content-Type").orElse("") == "text/event-stream")
      val seq = "\"progress\":(\\d+)".r
        .findAllMatchIn(stream.body()).map(_.group(1).toInt).toSeq
      // pending snapshot + the reference's staged sequence
      // (pipeline_service.py:110-259)
      assert(seq == Seq(0, 10, 30, 40, 60, 70, 90, 100), s"got $seq")
      assert(stream.body().linesIterator.filter(_.nonEmpty).forall(_.startsWith("data: ")))
    } finally {
      server.stop()
      service.shutdown()
    }
  }

  test("an out-of-range integer parameter fails parsing, naming the parameter") {
    val body = runBody("{}").replace("\"limit\": 15", "\"limit\": 4294967301")
    val e = intercept[IllegalArgumentException](RunRequestJson.parse(body))
    assert(e.getMessage.contains("'limit'") && e.getMessage.contains("4294967301"))
    assert(RunRequestJson.parse(runBody("{}")).plan.rankedRequests.head.parameters("limit") == 15)
  }

  test("POST /pipeline/run answers 400 with the parse error for a bad body") {
    val service = new PipelineService(spark, Files.createTempDirectory("graft_bad").toString)
    val server = new PipelineServer(service)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    def post(body: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port/pipeline/run"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      val wide = post(runBody("{}").replace("\"limit\": 15", "\"limit\": 4294967301"))
      assert(wide.statusCode() == 400, wide.body())
      assert(wide.body().contains("'limit'"))
      val broken = post("""{"plan": [""")
      assert(broken.statusCode() == 400, broken.body())
      assert(broken.body().startsWith("{\"error\""))
      assert(service.history.isEmpty)
    } finally {
      server.stop()
      service.shutdown()
    }
  }

  test("failed run leaves unreached stage flags false") {
    val service = new PipelineService(spark, Files.createTempDirectory("graft_fail").toString)
    val server = new PipelineServer(service)
    val port = server.start()
    val client = HttpClient.newHttpClient()
    try {
      // no payloads -> zero frames -> validation stage throws
      val post = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/pipeline/run"))
          .POST(HttpRequest.BodyPublishers.ofString(runBody("{}"))).build(),
        HttpResponse.BodyHandlers.ofString())
      val runId = post.body().split("\"")(3)
      var st: Option[RunStatus] = None
      val deadline = System.currentTimeMillis() + 60000
      while (!st.exists(s => s.status == "failed" || s.status == "completed")
          && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        st = service.getStatus(runId)
      }
      val s = st.get
      assert(s.status == "failed")
      assert(s.stageFlags("ingestion"))          // ingest DID complete (zero frames)
      assert(!s.stageFlags("validation"))        // validation threw: flag stays false
      assert(!s.stageFlags("transformation"))
      assert(!s.stageFlags("completed"))
      assert(s.error.exists(_.nonEmpty))
    } finally {
      server.stop()
      service.shutdown()
    }
  }
}
