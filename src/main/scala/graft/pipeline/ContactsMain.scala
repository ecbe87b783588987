package graft.pipeline

/** CLI for the full contacts pipeline (the `python cleaning/run.py`
  * equivalent): ContactsMain <masterTsv> <sourcesDir> <outDir>
  *
  * Writes cleaned_contacts.tsv, fill_missing_log.json and
  * validation_errors.json into outDir, prints per-stage timings and the
  * validation exit policy, exits non-zero on critical errors
  * (SURVEY.md §3.1, validate_fields.py:144-162). The `[result]` counts are
  * the dedup and validate stages' rows: the run has released its frames
  * by then, so counting them again would re-run the pipeline. */
object ContactsMain {
  def main(args: Array[String]): Unit = {
    val Array(masterPath, sourcesDir, outDir) = args.take(3)
    val spark = graft.Engine.session("WARN")
    new java.io.File(outDir).mkdirs()

    val r = ContactsApp.run(spark, masterPath, sourcesDir,
      Some(ContactsApp.Artifacts(
        s"$outDir/cleaned_contacts.tsv",
        s"$outDir/fill_missing_log.json",
        s"$outDir/validation_errors.json")))

    r.stages.foreach(s =>
      println(f"[stage] ${s.name}%-10s ${s.seconds}%8.2f s  ${s.rows}%8d rows"))
    val rows = r.stages.map(s => s.name -> s.rows).toMap
    println(s"[result] cleaned=${rows("dedup")} rows, " +
      s"errors=${rows("validate")}, passed=${r.passed}")
    spark.stop()
    if (!r.passed) sys.exit(1)
  }
}
