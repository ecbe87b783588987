package graft.api

import graft.pipeline.ContactsApp

/** Runnable REST control surface (the backend_api.py equivalent):
  *
  *   ApiMain <masterTsv> <sourcesDir> <outDir> [port]
  *
  * Exposes the pipeline stages over HTTP on ONE shared SparkSession:
  *   GET  /stages, POST /run {"stage":"pipeline"}, GET /output-files,
  *   GET  /output/<name>
  */
object ApiMain {
  def main(args: Array[String]): Unit = {
    val Array(masterPath, sourcesDir, outDir) = args.take(3)
    val port = args.lift(3).map(_.toInt).getOrElse(8097)
    val spark = graft.Engine.session("WARN")
    new java.io.File(outDir).mkdirs()

    def artifacts = ContactsApp.Artifacts(
      s"$outDir/cleaned_contacts.tsv",
      s"$outDir/fill_missing_log.json",
      s"$outDir/validation_errors.json")

    // each run ends in the run-end release; see its CONSTRAINT on why
    // that is safe only on this serialized run executor
    def cleanedUp(f: () => String): () => String =
      () => try f() finally graft.Engine.release(spark)

    val stages: Map[String, () => String] = Map(
      "pipeline" -> cleanedUp(() => {
        val r = ContactsApp.run(spark, masterPath, sourcesDir, Some(artifacts))
        r.stages.map(s => f"${s.name}: ${s.seconds}%.2fs ${s.rows} rows")
          .mkString("; ") + s"; passed=${r.passed}"
      }),
      "validate" -> cleanedUp(() => {
        val master = ContactsApp.withResolvedKeys(ContactsApp.withRowIds(
          graft.pipeline.Tsv.readAllString(spark, masterPath)))
        val errs = graft.pipeline.Validate.errors(master)
        s"${errs.count()} validation errors"
      }))

    // on timeout, cancel the distributed work too — interrupting the REST
    // worker thread alone would leave the submitted Spark job running. Each
    // run's jobs are scoped to its run-id job group (set on the worker
    // thread), so the timeout cancels exactly that run: a run that timed out
    // while still queued has an empty group and the cancel is a no-op,
    // never touching a later run's jobs.
    val srv = new RestServer(port, outDir, stages,
      onRunStart = id => spark.sparkContext.setJobGroup(id,
        s"REST run $id", interruptOnCancel = true),
      onRunTimeout = id => spark.sparkContext.cancelJobGroup(id))
    srv.start()
    println(s"[api] listening on :${srv.boundPort} " +
      s"(stages: ${stages.keys.mkString(", ")})")
    Thread.currentThread().join() // serve until killed
  }
}

/** Shape-parity harness main (tools/rest_parity.py): a [[RestServer]]
  * with canned stages and NO SparkSession, so the lane compares pure
  * HTTP/JSON contracts — status codes, key sets, the
  * stdout/stderr/returncode run answer — against the reference's
  * backend_api.py executed in-process by the Python harness (Flask test
  * client). Usage: runMain graft.api.RestParityMain <outDir> [port] */
object RestParityMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val port = args.lift(1).map(_.toInt).getOrElse(0)
    val srv = new RestServer(port, outDir, Map(
      "ok_stage" -> (() => "stage completed fine"),
      "fail_stage" -> (() => sys.error("stage failed"))))
    srv.start()
    println(s"[restparity] listening on :${srv.boundPort}")
    Thread.currentThread().join() // serve until killed by the harness
  }
}
