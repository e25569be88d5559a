package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.load.Reports

/** Minimal HTTP front-end mirroring the reference's run API
  * (backend/app/api/endpoints/pipeline.py + websocket.py +
  * pipeline_service.py):
  *
  *   POST /pipeline/run            artifact-driven run request -> {run_id}
  *                                 (400 with the parse error for a
  *                                 body that does not parse)
  *   GET  /pipeline/status/{id}    RunStatus JSON
  *   GET  /pipeline/progress/{id}  SSE stream of stage events (the
  *                                 reference's WebSocket push; replays
  *                                 history, then streams until the run
  *                                 completes or fails)
  *   GET  /pipeline/results/{id}   results contract (404 until complete)
  *   GET  /pipeline/history        all runs
  *   GET  /pipeline/download/{id}/{filename}
  *                                 result-file bytes (404 unknown
  *                                 run/file, 403 on path escape)
  *
  * Built on the JDK's HttpServer (zero extra dependencies — the engine
  * classpath is Spark-only); JSON via the shared snake_case report
  * serializer. Requests are served from a cached thread pool so a
  * long-lived progress stream never blocks status polling.
  */
class PipelineServer(service: PipelineService, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()

  def start(): Int = {
    server.createContext("/pipeline", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try route(ex)
        catch {
          case e: Exception => send(ex, 500, errorJson(e))
        } finally ex.close()
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  /** Exception messages routinely contain quotes/newlines (Spark plan
    * fragments): render through json4s so the body is always valid JSON.
    */
  private def errorJson(e: Exception): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      "error" -> Option(e.getMessage).getOrElse(e.toString)))
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    (ex.getRequestMethod, path.split("/").filter(_.nonEmpty).toList) match {
      case ("POST", List("pipeline", "run")) =>
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val request = try RunRequestJson.parse(body) catch {
          case e: Exception => return send(ex, 400, errorJson(e))
        }
        send(ex, 200, s"""{"run_id": "${service.createRun(request)}"}""")
      case ("GET", List("pipeline", "status", id)) =>
        service.getStatus(id) match {
          case Some(st) => send(ex, 200, Reports.toJson(st))
          case None => send(ex, 404, """{"error": "run not found"}""")
        }
      case ("GET", List("pipeline", "progress", id)) =>
        streamProgress(ex, id)
      case ("GET", List("pipeline", "results", id)) =>
        service.getResults(id) match {
          case Some(res) => send(ex, 200, Reports.toJson(res))
          case None => send(ex, 404, """{"error": "results not available"}""")
        }
      case ("GET", List("pipeline", "history")) =>
        send(ex, 200, Reports.toJson(service.history))
      case ("GET", "pipeline" :: "download" :: id :: tail) if tail.nonEmpty =>
        download(ex, id, tail.mkString("/"))
      case _ =>
        send(ex, 404, """{"error": "unknown route"}""")
    }
  }

  /** Artifact download from a run's directory — the reference's
    * `GET /pipeline/download/{run_id}/{filename}`
    * (backend/app/api/endpoints/pipeline.py:83-105): 404 for an
    * unknown run or a missing file, 403 when the resolved path
    * escapes the run directory. Containment is checked TWICE (r18
    * advice closure): a lexical normalize-and-prefix pass BEFORE the
    * existence probe (a traversal attempt can't even learn whether
    * its target exists), then — once the artifact is known to exist
    * — a `toRealPath` pass that follows symlinks, matching the
    * reference's `resolve()` semantics (a symlink planted inside the
    * run dir cannot alias bytes outside it). The body is STREAMED
    * with `Files.copy` at the exact `Files.size` content length, so
    * a multi-GB coalesced CSV part never sits in the driver heap.
    */
  private def download(ex: HttpExchange, id: String,
                       filename: String): Unit = {
    service.getStatus(id) match {
      case None => send(ex, 404, """{"error": "run not found"}""")
      case Some(st) =>
        val runDir = java.nio.file.Paths.get(st.runDir)
          .toAbsolutePath.normalize
        val target = runDir.resolve(filename).toAbsolutePath.normalize
        if (!target.startsWith(runDir) || target == runDir)
          send(ex, 403, """{"error": "access denied"}""")
        else resolveArtifact(target) match {
          case None =>
            send(ex, 404, """{"error": "file not found"}""")
          case Some(p) =>
            // symlink-proof containment: real (link-resolved) paths
            val realRun = runDir.toRealPath()
            val realTarget = p.toRealPath()
            if (!realTarget.startsWith(realRun)) {
              send(ex, 403, """{"error": "access denied"}""")
            } else {
              val len = java.nio.file.Files.size(realTarget)
              ex.getResponseHeaders.set("Content-Type",
                "application/octet-stream")
              ex.getResponseHeaders.set("Content-Disposition",
                s"""attachment; filename="${target.getFileName}"""")
              ex.sendResponseHeaders(200, len)
              java.nio.file.Files.copy(realTarget, ex.getResponseBody)
            }
        }
    }
  }

  /** The reference's pandas `to_csv` writes one plain file; this
    * engine's CSV sink ([[graft.load.Loader.writeCsv]]) is a Spark
    * directory containing a single coalesced `part-*` data file. The
    * download route serves the LOGICAL artifact the user named: a
    * regular file as-is, a single-part Spark sink directory as its
    * part file's bytes. Multi-part directories (singleFile=false
    * sinks) are not a single downloadable artifact — 404.
    */
  private def resolveArtifact(
      target: java.nio.file.Path): Option[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.isRegularFile(target)) Some(target)
    else if (java.nio.file.Files.isDirectory(target)) {
      val stream = java.nio.file.Files.list(target)
      try {
        val parts = stream.iterator().asScala.filter { p =>
          p.getFileName.toString.startsWith("part-") &&
            java.nio.file.Files.isRegularFile(p)
        }.toList
        parts match {
          case one :: Nil => Some(one)
          case _ => None
        }
      } finally stream.close()
    } else None
  }

  /** Server-sent-events progress push (the reference's staged
    * WebSocket events, pipeline_service.py:282-307): replays the run's
    * status log, then streams each new transition as a `data:` frame
    * (compact JSON — SSE frames are line-delimited) until the run
    * reaches completed/failed or the stream times out.
    */
  private def streamProgress(ex: HttpExchange, id: String,
                             timeoutMs: Long = 120000L): Unit = {
    if (service.getStatus(id).isEmpty) {
      send(ex, 404, """{"error": "run not found"}""")
      return
    }
    ex.getResponseHeaders.add("Content-Type", "text/event-stream")
    ex.getResponseHeaders.add("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0) // chunked
    val out = ex.getResponseBody
    val deadline = System.currentTimeMillis() + timeoutMs
    var sent = 0
    var terminal = false
    while (!terminal && System.currentTimeMillis() < deadline) {
      val log = service.events(id).getOrElse(Nil)
      while (sent < log.size) {
        val st = log(sent)
        out.write(s"data: ${Reports.toJsonCompact(st)}\n\n"
          .getBytes(StandardCharsets.UTF_8))
        out.flush()
        if (st.status == "completed" || st.status == "failed") terminal = true
        sent += 1
      }
      if (!terminal) Thread.sleep(50)
    }
  }

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}
