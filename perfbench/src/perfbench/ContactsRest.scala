package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.RestServer
import graft.pipeline.{ContactsApp, JsonAudit, Pins, Pipeline, Roles, Tsv, Validate}

/** The contacts workloads served over REST: one closed-loop client sends
  * `POST /run {"stage": <stage>}` to an in-process [[RestServer]] wired as
  * graft.api.ApiMain wires it, each stage followed by ApiMain's run-end
  * cleanup. The latency is POST sent -> 200 received.
  *
  *  - stage "validate" (`contacts_validate`): ingest the master TSV and
  *    count its validation errors.
  *  - stage "pipeline" (`contacts_batch`): ContactsApp.run with single-file
  *    artifacts, which the client then fetches over `GET /output/<name>`.
  *
  * Traced requests run the stage as a composition of the layer calls the
  * stage makes, with a span around each; for the pipeline, run.py asserts
  * that their artifacts equal the untraced ones. */
final class ContactsRest(spark: SparkSession, work: String, trace: Trace,
    stage: String) extends Workload {

  private val dir = s"$work/contacts"
  private val master = s"$dir/master.tsv"
  private val sources = s"$dir/sources"
  private val out = s"$dir/out"
  new File(out).mkdirs()
  private val artifacts = ContactsApp.Artifacts(s"$out/cleaned_contacts.tsv",
    s"$out/fill_missing_log.json", s"$out/validation_errors.json")
  private val artifactNames =
    if (stage != "pipeline") Nil
    else Seq(artifacts.cleanedTsv, artifacts.changeLogJson,
      artifacts.validationJson).map(p => new File(p).getName)

  private def summary(r: Pipeline.RunResult): String =
    r.stages.map(s => f"${s.name}: ${s.seconds}%.2fs ${s.rows} rows")
      .mkString("; ") + s"; passed=${r.passed}"

  private val stageSeconds = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** ApiMain's validate stage; the spans are no-ops until tracing starts. */
  private val validateBody: () => String = () => {
    val m = trace.span("pipeline.ingest") {
      ContactsApp.withResolvedKeys(
        ContactsApp.withRowIds(Tsv.readAllString(spark, master)))
    }
    val n = trace.span("pipeline.validate")(Validate.errors(m).count())
    s"$n validation errors"
  }

  /** The pipeline stage as ContactsApp.run composes it, one span per layer
    * call. */
  private val tracedPipeline: () => String = () => {
    val (m, srcs) = trace.span("pipeline.ingest") {
      val m = ContactsApp.withResolvedKeys(
        ContactsApp.withRowIds(Tsv.readAllString(spark, master)))
      val srcs = Tsv.listTsv(sources).flatMap { path =>
        val src = ContactsApp.loadSource(spark, path)
        val fm = ContactsApp.fieldMap(m, src)
        if (!Roles.resolve(src).usable || fm.isEmpty) None
        else Some((new File(path).getName, src, fm))
      }
      (m, srcs)
    }
    val r = trace.span("pipeline.run") {
      Pipeline.run(spark, m, srcs, orderCols = Seq("row_id"))
    }
    trace.span("pipeline.sink") {
      Tsv.write(r.cleaned.drop("_name", "_email", "_phone"),
        artifacts.cleanedTsv, singleFile = true)
      JsonAudit.writeArray(r.changeLog.withColumnRenamed("row_id", "row"),
        artifacts.changeLogJson)
      JsonAudit.writeArray(Validate.referenceReport(r.cleaned),
        artifacts.validationJson)
      r.release()
    }
    stageSeconds += r.stages.map(s => s.name -> s.seconds).toMap
    summary(r)
  }

  private val plainBody: () => String =
    if (stage == "validate") validateBody
    else () => summary(ContactsApp.run(spark, master, sources, Some(artifacts)))
  @volatile private var body = plainBody
  @volatile private var callableNs = 0L
  @volatile private var pinsLeaked = 0

  // the run-end cleanup graft.api.ApiMain wires around every stage
  private def cleanedUp(f: () => String): String =
    try f() finally {
      Pins.flush()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

  private val server = new RestServer(0, out, Map(stage -> (() => {
      val t0 = System.nanoTime()
      try trace.span("api.stage")(cleanedUp(body))
      finally {
        callableNs = System.nanoTime() - t0
        pinsLeaked = Pins.activeCount + spark.sparkContext.getPersistentRDDs.size
      }
    })),
    onRunStart = id => spark.sparkContext.setJobGroup(id, s"REST run $id",
      interruptOnCancel = true),
    onRunTimeout = id => spark.sparkContext.cancelJobGroup(id))
  server.start()

  private def http(method: String, path: String,
      body: Option[String] = None): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:${server.boundPort}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setReadTimeout(300000)
    body.foreach { b =>
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      os.write(b.getBytes(UTF_8))
      os.close()
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    try (code, new String(in.readAllBytes(), UTF_8))
    finally { in.close(); c.disconnect() }
  }

  /** One client operation: the timed POST, then the artifact fetches,
    * saved under ops/<tag> for run.py's checks. */
  private def request(tag: String, traced: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    val (code, resp) = trace.span("api.request") {
      http("POST", "/run", Some(s"""{"stage":"$stage"}"""))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val j = Json.parse(resp)
    val ok = code == 200 && j.path("ok").asBoolean(false) &&
      j.path("returncode").asInt(1) == 0
    val opDir = new File(s"$work/ops/$tag")
    opDir.mkdirs()
    val listed = Json.parse(http("GET", "/output-files")._2).path("files")
    val fetched = artifactNames.forall { n =>
      val (c, b) = http("GET", s"/output/$n")
      if (c == 200) Files.write(new File(opDir, n).toPath,
        Json.parse(b).path("content").asText.getBytes(UTF_8))
      c == 200 && (0 until listed.size).exists(listed.get(_).asText == n)
    }
    Map("tag" -> tag, "wall_s" -> wall, "ok" -> (ok && fetched),
      "traced" -> traced, "overhead_s" -> (wall - callableNs / 1e9),
      "pins_leaked" -> pinsLeaked, "log" -> j.path("log").asText(""))
  }

  private val warm = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** The cold request; for validate also a fixed number of further
    * requests, as its JIT-compiled paths keep speeding up over the first
    * few. (The pipeline's cold request alone takes ~45 s.) */
  def warmup(): Unit = {
    val n = if (stage == "pipeline") 1 else 8
    while (warm.size < n) warm += request(s"warmup-${warm.size}", traced = false)
  }

  def measure(seconds: Double, traced: Boolean): Outcome = {
    val ops = mutable.ArrayBuffer.empty[(Boolean, Map[String, Any])]
    // a pipeline request outlasts any run length; validate requests are
    // short, so a run times at least three. A traced run alternates
    // untraced and traced requests: their difference is the tracing
    // overhead. Traced pipeline requests run the traced composition.
    val minOps = if (stage == "pipeline" && !traced) 1 else if (traced) 2 else 3
    val t0 = System.nanoTime()
    while (ops.size < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && ops.size % 2 == 1
      body = if (on && stage == "pipeline") tracedPipeline else plainBody
      val tag = s"${if (on) "traced" else "op"}-${ops.size}"
      ops += (on -> trace.around(on)(request(tag, on)))
    }
    server.stop()
    def wall(xs: Iterable[(Boolean, Map[String, Any])]): Seq[Double] =
      xs.map(_._2("wall_s").asInstanceOf[Double]).toSeq
    val measured = ops.filter(_._1 == traced)
    val lat = wall(measured)
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val req = Harness.spanMedians(trace, "api.request")
        def span(n: String) = Harness.spanMedians(trace, n).getOrElse("wall_s", 0.0)
        def stageS(n: String) = Harness.median(stageSeconds.map(_.getOrElse(n, 0.0)).toSeq)
        val inputBytes = (new File(master).length +:
          new File(sources).listFiles.toSeq.map(_.length)).sum
        val pipeline =
          if (stage != "pipeline") Map("pipeline.validate_s" -> span("pipeline.validate"))
          else Map(
            // Pipeline.run's eager per-source checkpoints precede its timed
            // fill stage: everything in the run span outside the other
            // stages is fill work
            "pipeline.fill_s" -> (span("pipeline.run") - stageS("clean") -
              stageS("dedup") - stageS("validate")),
            "pipeline.clean_s" -> stageS("clean"),
            "pipeline.dedup_s" -> stageS("dedup"),
            "pipeline.validate_s" -> stageS("validate"),
            "pipeline.sink_s" -> span("pipeline.sink"),
            "pipeline.shuffle_per_input_byte" ->
              req.getOrElse("spark.shuffle_write_mb", 0.0) * 1e6 / inputBytes)
        Harness.SparkMetrics.map(k => k -> req.getOrElse(k, 0.0)).toMap ++ pipeline ++ Map(
          "api.request_overhead_s" -> Harness.median(
            measured.map(_._2("overhead_s").asInstanceOf[Double]).toSeq),
          "pipeline.ingest_s" -> span("pipeline.ingest"),
          "pipeline.pins_leaked" ->
            measured.map(_._2("pins_leaked").asInstanceOf[Int]).max.toDouble,
          "trace.overhead_s" ->
            (Harness.median(lat) - Harness.median(wall(ops.filterNot(_._1)))))
      }
    Outcome(lat, measured.size, measured.count(_._2("ok") == false),
      (warm ++ ops.map(_._2)).toSeq,
      Map(s"${stage}_s" -> Harness.median(lat), "requests" -> lat.size), layers)
  }
}
