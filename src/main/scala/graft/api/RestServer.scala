package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Thin HTTP control surface (SURVEY.md §2.11 X2-X4) — the Spark
  * re-expression of the reference's Flask API (backend_api.py):
  *
  *   GET  /                — browser control page (frontend.html parity)
  *   GET  /stages          — list registered pipeline stages (X2 /scripts)
  *   POST /run {"stage"}   — run a stage on the shared SparkSession, return
  *                           {stdout-ish log, seconds, ok} (X3 /run)
  *   GET  /output-files    — list artifact files (X4)
  *   GET  /output/<name>   — fetch one artifact (X4)
  *
  * Differences by design: stages run as method calls on ONE SparkSession
  * (no subprocess per request), and concurrent runs are serialized on a
  * single-thread executor — the reference's racing-writes hazard (SURVEY.md
  * §3.2) is fixed rather than reproduced. Runs are capped at
  * `runTimeoutMs` like the reference's `subprocess.run(..., timeout=300)`
  * (backend_api.py:26); a timed-out run answers `{"timedOut":true}` and the
  * worker thread is interrupted — but interrupting the driver thread alone
  * would leave an already-submitted Spark job running, so each run gets a
  * unique id: `onRunStart(id)` fires ON THE WORKER THREAD as the run begins
  * (wire it to `sparkContext.setJobGroup(id, ...)`) and `onRunTimeout(id)`
  * fires when that run times out (wire it to `cancelJobGroup(id)`). A run
  * that times out while still QUEUED never started, so its group holds no
  * jobs and the cancel is a no-op — a blanket `cancelAllJobs` here would
  * race: with a stage that ignores interruption, each queued request times
  * out in line and the blanket cancel could kill a LATER run's jobs just as
  * the queue drains. HTTP dispatch uses a small thread pool so /stages and
  * /output stay responsive during a run; only /run is serialized. JDK
  * HttpServer: zero extra dependencies.
  */
class RestServer(port: Int, outputDir: String,
    stages: Map[String, () => String],
    runTimeoutMs: Long = 300000L,
    onRunStart: String => Unit = _ => (),
    onRunTimeout: String => Unit = _ => ()) {
  import RestServer.jsonStr

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private def daemonFactory(name: String) = new java.util.concurrent.ThreadFactory {
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$name-${n.incrementAndGet()}")
      t.setDaemon(true); t
    }
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // the serializer AND the cancellation point for /run
  private val runExec = java.util.concurrent.Executors.newSingleThreadExecutor(
    daemonFactory("graft-rest-run"))
  // HTTP dispatch pool: reads stay responsive while a run executes
  private val httpExec =
    java.util.concurrent.Executors.newFixedThreadPool(8, daemonFactory("graft-rest-http"))

  private def respond(ex: HttpExchange, code: Int, body: String,
      ctype: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def start(): Unit = {
    // "/" is also the fallback context for unmatched paths; only the exact
    // root serves the page (frontend.html parity), the rest 404 as JSON.
    server.createContext("/", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath == "/")
        respond(ex, 200, Ui.indexHtml, "text/html; charset=utf-8")
      else respond(ex, 404, """{"error":"not found"}"""))

    server.createContext("/stages", (ex: HttpExchange) =>
      respond(ex, 200, stages.keys.toSeq.sorted
        .map(jsonStr).mkString("[", ",", "]")))

    // reference-shape alias (backend_api.py:11-14 GET /scripts ->
    // {"scripts":[...]}): a client written for the Flask API reads the
    // same key here
    server.createContext("/scripts", (ex: HttpExchange) =>
      respond(ex, 200, "{\"scripts\":" + stages.keys.toSeq.sorted
        .map(jsonStr).mkString("[", ",", "]") + "}"))

    server.createContext("/run", (ex: HttpExchange) => {
      if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"POST only"}""")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(),
          StandardCharsets.UTF_8)
        // minimal parse: {"stage": "<name>"}
        val name = "\"stage\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(body).map(_.group(1))
        name.flatMap(n => stages.get(n).map(n -> _)) match {
          case None => respond(ex, 400, """{"error":"unknown stage"}""")
          case Some((n, f)) =>
            val t0 = System.nanoTime()
            val runId = s"graft-rest-run-${runSeq.incrementAndGet()}"
            val fut = runExec.submit(
              new java.util.concurrent.Callable[(Boolean, String)] {
                def call(): (Boolean, String) = {
                  // on the worker thread, so a setJobGroup here scopes every
                  // Spark job this stage submits to `runId`
                  onRunStart(runId)
                  try (true, f())
                  catch { case e: Throwable => (false, String.valueOf(e.getMessage)) }
                }
              })
            try {
              val (ok, log) = fut.get(runTimeoutMs,
                java.util.concurrent.TimeUnit.MILLISECONDS)
              val sec = (System.nanoTime() - t0) / 1e9
              // backend_api.py:27-31 shape parity: a COMPLETED stage
              // answers 200 with {stdout, stderr, returncode} — the
              // reference's subprocess contract, where a failing script is
              // a normal answer with returncode != 0, not an HTTP error.
              // The richer stage/ok/timedOut/seconds/log fields ride along.
              val (stdout, stderr, rc) =
                if (ok) (log, "", 0) else ("", log, 1)
              respond(ex, 200,
                s"""{"stage":${jsonStr(n)},"ok":$ok,"timedOut":false,"seconds":$sec,"log":${jsonStr(log)},"stdout":${jsonStr(stdout)},"stderr":${jsonStr(stderr)},"returncode":$rc}""")
            } catch {
              case _: java.util.concurrent.TimeoutException =>
                fut.cancel(true)    // interrupt the worker (backend_api.py:26 parity)
                onRunTimeout(runId) // cancel THIS run's distributed jobs only;
                                    // a no-op if the run was still queued
                val sec = (System.nanoTime() - t0) / 1e9
                val msg = s"timed out after ${runTimeoutMs / 1000.0} s"
                // backend_api.py:32-33: TimeoutExpired falls into the
                // except branch -> 500 {"error": ...}
                respond(ex, 500,
                  s"""{"stage":${jsonStr(n)},"ok":false,"timedOut":true,"seconds":$sec,"log":${jsonStr(msg)},"error":${jsonStr(msg)}}""")
            }
        }
      }
    })

    // backend_api.py:47-52 shape: {"files":[...]}
    server.createContext("/output-files", (ex: HttpExchange) => {
      val files = Option(new java.io.File(outputDir).listFiles())
        .getOrElse(Array.empty).filter(_.isFile).map(_.getName).sorted
      respond(ex, 200,
        "{\"files\":" + files.map(jsonStr).mkString("[", ",", "]") + "}")
    })

    // backend_api.py:35-45 shape: {"content":"..."} (JSON-wrapped text)
    server.createContext("/output/", (ex: HttpExchange) => {
      val name = ex.getRequestURI.getPath.stripPrefix("/output/")
      val f = new java.io.File(outputDir, name)
      // path-traversal guard (the reference had none)
      if (!f.getCanonicalPath.startsWith(
          new java.io.File(outputDir).getCanonicalPath) || !f.isFile)
        respond(ex, 404, """{"error":"File not found"}""")
      else respond(ex, 200,
        "{\"content\":" + jsonStr(
          new String(java.nio.file.Files.readAllBytes(f.toPath),
            StandardCharsets.UTF_8)) + "}")
    })

    server.setExecutor(httpExec)
    server.start()
  }

  def stop(): Unit = {
    server.stop(0)
    httpExec.shutdownNow()
    runExec.shutdownNow()
  }

  def boundPort: Int = server.getAddress.getPort
}

object RestServer {

  /** JSON string literal: quote, backslash and ALL control chars (< 0x20)
    * escaped — a tab or CR left raw makes a strict JSON reader fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
