package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Cleaning

/** The complete contacts pipeline wired from file paths — what a user of the
  * reference runs via `python cleaning/run.py` (SURVEY.md §3.1), as one
  * library call on one SparkSession:
  *
  *   fill (J2 over the data_files TSVs, sorted order) ->
  *   mailchimp fill (J1, optional) -> clean (P1/C1-C9/F1) ->
  *   golden-record dedup (A1) -> validate (F4/F5) -> artifacts (S6/S8)
  *
  * Role resolution is case-insensitive (intended semantics; the observed
  * reference run silently no-ops on lowercase headers — SURVEY.md §1.4
  * divergence ledger).
  */
object ContactsApp {

  case class Artifacts(cleanedTsv: String, changeLogJson: String,
      validationJson: String)

  /** Stable dense row ids in file order (P7): CSV scans enumerate splits in
    * file-offset order, so partition-order ids ARE file-order ids. Two-phase
    * partition-offset assignment ([[RowIds.denseInPartitionOrder]]) — no
    * single-partition window, scale-safe at 100 TB. */
  def withRowIds(df: DataFrame): DataFrame =
    RowIds.denseInPartitionOrder(df, "row_id")

  /** Attach `_name/_email/_phone` match keys using case-insensitively
    * resolved roles; missing roles key to "". */
  def withResolvedKeys(df: DataFrame): DataFrame = {
    def c(candidates: Seq[String]): Column =
      Roles.byCandidates(df, candidates).map(col).getOrElse(lit(""))
    val first = c(Roles.FirstNameCandidates)
    val last = c(Roles.LastNameCandidates)
    val full = c(Roles.FullNameCandidates)
    val name = Cleaning.fullName(first, last, full, full)
    Fill.withMatchKeys(df, name, c(Roles.EmailCandidates), c(Roles.PhoneCandidates))
  }

  /** Field map: master column <- source column for each fillable role
    * present on both sides (fill_missing_contacts.py:205-220). */
  def fieldMap(master: DataFrame, source: DataFrame): Map[String, String] = {
    val roles = Seq(
      Roles.FirstNameCandidates, Roles.LastNameCandidates,
      Roles.FullNameCandidates, Roles.EmailCandidates, Roles.PhoneCandidates)
    roles.flatMap { cands =>
      for {
        m <- Roles.byCandidates(master, cands)
        s <- Roles.byCandidates(source, cands)
      } yield m -> s
    }.toMap
  }

  /** Load one source file: all-string TSV + match keys + `src_order`, the
    * scan's own `monotonically_increasing_id()`. That id is (partition,
    * position) order, which is file order; `src_order` is only ever
    * compared for order, so it needs no dense renumbering and the plan no
    * extra job. */
  def loadSource(spark: SparkSession, path: String): DataFrame =
    withResolvedKeys(Tsv.readAllString(spark, path))
      .withColumn("src_order", monotonically_increasing_id())

  /** The merge_contacts_kindaworks entry point (SURVEY.md §3.3, J1): fill
    * the master's missing emails from a Mailchimp-style export by exact
    * (name, phone) match and missing phones by (name, email), first source
    * row in scan order wins, broadcast build side. Headers are normalized
    * (P2), roles coalesced (P4), keys normalized (P5) — all
    * case-insensitively. */
  def applyMailchimp(master: DataFrame, mailchimpRaw: DataFrame): DataFrame = {
    val lower = mailchimpRaw.toDF(mailchimpRaw.columns.map(_.trim.toLowerCase): _*)
    val keyed = withResolvedKeys(lower)
    val srcEmail = Roles.byCandidates(lower, Roles.EmailCandidates)
      .map(col).getOrElse(lit(""))
    val srcPhone = Roles.byCandidates(lower, Roles.PhoneCandidates)
      .map(col).getOrElse(lit(""))
    val mc = keyed.select(monotonically_increasing_id().as("src_order"),
      col("_name"), col("_email"), col("_phone"),
      srcEmail.as("email"), srcPhone.as("mobile"))

    // the operator works on canonical email/mobile names; rename the
    // master's resolved role columns in and back out
    val me = Roles.byCandidates(master, Roles.EmailCandidates)
      .getOrElse(sys.error("master has no email role"))
    val mp = Roles.byCandidates(master, Roles.PhoneCandidates)
      .getOrElse(sys.error("master has no phone role"))
    val canon = master
      .withColumnRenamed(me, "__graft_email")
      .withColumnRenamed(mp, "__graft_mobile")
      .withColumnRenamed("__graft_email", "email")
      .withColumnRenamed("__graft_mobile", "mobile")
    val filled = Fill.mailchimpFill(canon, mc)
    filled
      .withColumnRenamed("email", me)
      .withColumnRenamed("mobile", mp)
  }

  /** Full run. `sourcesDir` is scanned for *.tsv in sorted order (S4 with
    * the explicit-determinism fix). Returns the pipeline result; artifacts
    * are written only when `out` is provided.
    *
    * Persist lifecycle: with `out` set, every artifact is materialized
    * here and Fill's internal persist pins are dropped before returning.
    * With `out = None` the returned frames stay LAZY and their pins stay
    * live so the caller's actions don't recompute the fill — the caller
    * owns the release: call `result.release()` (idempotent) when done, or
    * the pins hold executor storage for the session.
    *
    * `singleFileArtifacts = true` (default) honors the reference's
    * artifact contract — ONE TSV file (coalesce(1) + driver rename) and
    * ONE pretty JSON array per audit — the documented scalability
    * exception for small exports. `false` is the 100-TB posture: every
    * sink writes a normal distributed directory of part files
    * ([[Tsv.write]] with no coalesce, [[JsonAudit.writeDistributed]]) —
    * no stage in the run narrows to one task. */
  def run(spark: SparkSession, masterPath: String, sourcesDir: String,
      out: Option[Artifacts] = None,
      singleFileArtifacts: Boolean = true): Pipeline.RunResult = {
    val master = withResolvedKeys(withRowIds(Tsv.readAllString(spark, masterPath)))

    val sources = Tsv.listTsv(sourcesDir).flatMap { path =>
      val src = loadSource(spark, path)
      val fm = fieldMap(master, src)
      val roles = Roles.resolve(src)
      // F6 guard: a file with no usable roles (or nothing to map) is skipped
      if (!roles.usable || fm.isEmpty) None
      else Some((new java.io.File(path).getName, src, fm))
    }

    val result = Pipeline.run(spark, master, sources,
      orderCols = Seq("row_id"))

    out.foreach { a =>
      Tsv.write(result.cleaned.drop("_name", "_email", "_phone"),
        a.cleanedTsv, singleFile = singleFileArtifacts)
      val log = result.changeLog.withColumnRenamed("row_id", "row")
      // artifact parity: the reference's grouped {row, name, errors[]} shape
      val report = Validate.referenceReport(result.cleaned)
      if (singleFileArtifacts) {
        JsonAudit.writeArray(log, a.changeLogJson)
        JsonAudit.writeArray(report, a.validationJson)
      } else {
        JsonAudit.writeDistributed(log, a.changeLogJson)
        JsonAudit.writeDistributed(report, a.validationJson)
      }
      // every output consumed -> drop Fill's internal persist pins
      result.release()
    }
    result
  }
}
