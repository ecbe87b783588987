package graft

import org.apache.spark.sql.SparkSession

// Parity-lane engine dumps (tools/parity.py). Each lane's body lives in
// a `run(spark, ...)` method ending in the run-end [[Engine.release]]; the
// per-lane mains remain for ad-hoc use, and [[ParityAll]] executes a whole
// MANIFEST of lanes in ONE SparkSession — the parity harness used to pay
// full sbt + Spark startup (~70s) per lane, ~8 launches per run; one JVM
// cuts the lane wall time to roughly the sum of the actual stage work.

/** Clean + golden-record + validation dump over one master TSV, so the
  * Python harness can diff them field-by-field against the output of the
  * reference's own `clean_contacts.py` executed on the same fixture — the
  * executable pin of DIVERGENCES.md (every mismatch must fall into a
  * documented divergence class; anything else fails the lane).
  *
  * Usage: runMain graft.ParityDump <masterTsv> <outPrefix>
  * Writes <outPrefix>.clean.tsv (post-Clean, pre-dedup, original row set)
  * and <outPrefix>.golden.tsv (post golden-record merge). */
object ParityDump {
  def run(spark: SparkSession, inTsv: String, outPrefix: String): Unit = {
    val master = pipeline.ContactsApp.withRowIds(
      pipeline.Tsv.read(spark, inTsv))
    val cleaned = pipeline.Clean(master)
    pipeline.Tsv.write(cleaned.drop("row_id"), s"$outPrefix.clean.tsv",
      singleFile = true)
    val golden = pipeline.GoldenRecord.dedupe(cleaned, rowIdCol = "row_id",
      lastUpdatedCol = pipeline.Roles.exact(cleaned, "LAST_UPDATED"))
    pipeline.Tsv.write(golden.drop("row_id"), s"$outPrefix.golden.tsv",
      singleFile = true)
    // validation lane: validate the golden TSV read BACK from disk — the
    // byte-identical file the reference's validate_fields.py reads — with
    // file-order row ids (== the reference's positional idx+1)
    val goldenBack = pipeline.ContactsApp.withRowIds(
      pipeline.Tsv.read(spark, s"$outPrefix.golden.tsv"))
    pipeline.JsonAudit.writeArray(
      pipeline.Validate.referenceReport(goldenBack),
      s"$outPrefix.validation.json")
    Engine.release(spark)
  }

  def main(args: Array[String]): Unit = {
    val Array(inTsv, outPrefix) = args
    val spark = Engine.session("WARN")
    run(spark, inTsv, outPrefix)
    spark.stop()
  }
}

/** Fill-stage twin of [[ParityDump]] for the parity lane's fill
  * comparison: the engine's J2 multi-source record-linkage fill over one
  * master TSV + a source directory, exporting the filled master (with its
  * file-order `row_id` — the positional join key; the reference logs
  * `row` = position + 1 over the same file order) and the provenance
  * change log.
  *
  * Usage: runMain graft.ParityFillDump <masterTsv> <sourcesDir> <outPrefix>
  * Writes <outPrefix>.filled.tsv and <outPrefix>.filllog.tsv. */
object ParityFillDump {
  def run(spark: SparkSession, masterTsv: String, sourcesDir: String,
      outPrefix: String): Unit = {
    val master = pipeline.ContactsApp.withResolvedKeys(
      pipeline.ContactsApp.withRowIds(
        pipeline.Tsv.readAllString(spark, masterTsv)))
    val r = pipeline.Fill.fillFromSources(master,
      pipeline.ContactsApp.loadSources(spark, master, sourcesDir))
    pipeline.Tsv.write(r.filled.drop("_name", "_email", "_phone"),
      s"$outPrefix.filled.tsv", singleFile = true)
    pipeline.Tsv.write(r.changeLog, s"$outPrefix.filllog.tsv",
      singleFile = true)
    Engine.release(spark)
  }

  def main(args: Array[String]): Unit = {
    val Array(masterTsv, sourcesDir, outPrefix) = args
    val spark = Engine.session("WARN")
    run(spark, masterTsv, sourcesDir, outPrefix)
    spark.stop()
  }
}

/** Whole-pipeline twin for the parity lane's run.py-ordering comparison:
  * [[graft.pipeline.ContactsApp.run]] — fill (J2, sorted sources) ->
  * clean -> golden dedup -> validate, the same stage sequence and
  * artifact handoff as the reference's cleaning/run.py — over one master
  * TSV + a sources dir, writing the reference-shaped artifacts
  * (cleaned_contacts.tsv, fill_missing_log.json, validation_errors.json).
  *
  * Usage: runMain graft.ParityRunDump <masterTsv> <sourcesDir> <outDir> */
object ParityRunDump {
  def run(spark: SparkSession, masterTsv: String, sourcesDir: String,
      outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    pipeline.ContactsApp.run(spark, masterTsv, sourcesDir,
      Some(pipeline.ContactsApp.Artifacts(
        s"$outDir/cleaned_contacts.tsv",
        s"$outDir/fill_missing_log.json",
        s"$outDir/validation_errors.json")))
    Engine.release(spark)
  }

  def main(args: Array[String]): Unit = {
    val Array(masterTsv, sourcesDir, outDir) = args
    val spark = Engine.session("WARN")
    run(spark, masterTsv, sourcesDir, outDir)
    spark.stop()
  }
}

/** J1 twin of [[ParityFillDump]] for the parity lane's Mailchimp
  * comparison: [[graft.pipeline.ContactsApp.applyMailchimp]] (the
  * merge_contacts_kindaworks.py equivalent — fill missing email by exact
  * (name, phone) match, missing phone by (name, email), first source row
  * wins) over one master TSV + one Mailchimp-export TSV. The filled
  * master is exported WITH its file-order `row_id` (the positional join
  * key: the reference preserves pandas row order, so row_id-1 is its
  * positional index).
  *
  * Usage: runMain graft.ParityMailchimpDump <masterTsv> <mailchimpTsv> <outPrefix>
  * Writes <outPrefix>.mcfilled.tsv. */
object ParityMailchimpDump {
  def run(spark: SparkSession, masterTsv: String, mailchimpTsv: String,
      outPrefix: String): Unit = {
    val master = pipeline.ContactsApp.withResolvedKeys(
      pipeline.ContactsApp.withRowIds(
        pipeline.Tsv.readAllString(spark, masterTsv)))
    val mc = pipeline.Tsv.readAllString(spark, mailchimpTsv)
    val filled = pipeline.ContactsApp.applyMailchimp(master, mc)
    pipeline.Tsv.write(
      filled.drop("_name", "_email", "_phone")
        .orderBy(org.apache.spark.sql.functions.col("row_id").cast("long")),
      s"$outPrefix.mcfilled.tsv", singleFile = true)
    Engine.release(spark)
  }

  def main(args: Array[String]): Unit = {
    val Array(masterTsv, mailchimpTsv, outPrefix) = args
    val spark = Engine.session("WARN")
    run(spark, masterTsv, mailchimpTsv, outPrefix)
    spark.stop()
  }
}

/** ALL parity-lane engine dumps in one JVM / one SparkSession.
  *
  * Usage: runMain graft.ParityAll <manifestTsv>
  *
  * Each manifest line is tab-separated `kind<TAB>arg1<TAB>arg2[<TAB>arg3]`
  * with kind ∈ {dump, fill, run, mailchimp} and args exactly the
  * corresponding per-lane main's arguments. Lanes execute sequentially in
  * manifest order (they are independent — the harness prepares every
  * sandbox before invoking this); a lane failure aborts with a non-zero
  * exit naming the lane, so the harness's error surface is unchanged. */
object ParityAll {
  def main(args: Array[String]): Unit = {
    val Array(manifest) = args
    val lines = scala.io.Source.fromFile(manifest, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    val spark = Engine.session("WARN")
    for (line <- lines) {
      val parts = line.split('\t')
      System.err.println(s"[parity-all] ${parts.mkString(" ")}")
      try parts.toList match {
        case "dump" :: in :: out :: Nil => ParityDump.run(spark, in, out)
        case "fill" :: in :: src :: out :: Nil =>
          ParityFillDump.run(spark, in, src, out)
        case "run" :: in :: src :: out :: Nil =>
          ParityRunDump.run(spark, in, src, out)
        case "mailchimp" :: in :: mc :: out :: Nil =>
          ParityMailchimpDump.run(spark, in, mc, out)
        case other =>
          sys.error(s"bad manifest line: ${other.mkString("\t")}")
      } catch {
        case e: Exception =>
          System.err.println(s"[parity-all] FAILED: $line — $e")
          spark.stop()
          sys.exit(1)
      }
    }
    spark.stop()
  }
}
