package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Cleaning

/** Rule-based post-hoc validation — exact reference semantics
  * (cleaning/validate_fields.py:40-116; SURVEY.md §2.3 F4/F5, §2.5 A7):
  *
  *  - roles resolved case-insensitively; phone = the present subset of
  *    MOBILE / DIRECTPHONE / HOMEPHONE
  *  - skip rows where every identity field is ''/nan OR the composed full
  *    name is ''/nan/'nan nan' (F4)
  *  - "Missing X" fires on null/'' (NOT on 'nan' — the reference checks
  *    isna/strip-empty only); the skip check DOES treat 'nan' as missing
  *  - per-field "Invalid phone in <col>" for present-but-invalid values;
  *    one "Missing phone number (...)" when no phone value is present
  *  - critical errors (Invalid email format / Missing EMAIL column) fail
  *    the pipeline; data-quality errors only warn (validate:144-162)
  *
  * Plan shape: one projection building an array of conditional error
  * structs, then `explode` — no UDFs, one pass over the scan. The grouped
  * {row, name, errors[]} artifact shape is [[referenceReport]].
  */
object Validate {

  val MissingFirstName = "Missing FIRSTNAME"
  val MissingLastName = "Missing LASTNAME"
  val MissingEmail = "Missing EMAIL"
  val MissingEmailColumn = "Missing EMAIL column"
  val InvalidEmail = "Invalid email format"
  def invalidPhoneIn(colName: String) = s"Invalid phone in $colName"
  val MissingPhone = "Missing phone number (MOBILE, DIRECTPHONE, or HOMEPHONE)"

  /** Critical errors fail the pipeline (validate_fields.py:144-157). */
  val CriticalErrors: Set[String] = Set(InvalidEmail, MissingEmailColumn)

  private val PhoneRoles = Seq("MOBILE", "DIRECTPHONE", "HOMEPHONE")

  /** ''/nan missingness used by the reference's skip check (lowercased
    * 'nan' only — unlike the fill stage's wider sentinel zoo). */
  private def refMissing(c: Column): Column =
    c.isNull || trim(c) === "" || lower(trim(c)) === "nan"

  /** null/'' missingness used by the reference's Missing-X rules. */
  private def blankMissing(c: Column): Column = c.isNull || trim(c) === ""

  /** Flat error rows (row_id, __name, __idx, field, error, value) — the
    * relational core; `__idx` is the reference's rule-append order. */
  private def errorCore(df: DataFrame): DataFrame = {
    def resolve(role: String) = Roles.exact(df, role)
    def c(o: Option[String]): Column =
      o.map(n => col(n).cast("string")).getOrElse(lit(null).cast("string"))
    val firstOpt = resolve("FIRSTNAME"); val lastOpt = resolve("LASTNAME")
    val emailOpt = resolve("EMAIL")
    val phoneCols = PhoneRoles.flatMap(resolve)
    val first = c(firstOpt); val last = c(lastOpt); val email = c(emailOpt)
    val phones = phoneCols.map(n => col(n).cast("string"))

    // full name composition, reference precedence (validate:62-71)
    val fullName =
      if (firstOpt.isDefined && lastOpt.isDefined)
        trim(concat_ws(" ",
          trim(coalesce(first, lit(""))), trim(coalesce(last, lit("")))))
      else c(resolve("FULLNAME").orElse(resolve("NAME")))

    val allMissing = (Seq(first, last, email) ++ phones).map(refMissing)
      .reduce(_ && _)
    val nullName = fullName.isNull || trim(fullName) === "" ||
      lower(trim(fullName)).isin("nan nan", "nan")
    val skip = allMissing || nullName

    def err(idx: Int, cond: Column, field: String, error: String,
        value: Column): Column =
      when(cond, struct(lit(idx).as("idx"), lit(field).as("field"),
        lit(error).as("error"),
        coalesce(value.cast("string"), lit("")).as("value")))

    val phonePresent =
      if (phones.isEmpty) lit(false)
      else phones.map(p => trim(p) =!= "" && lower(trim(p)) =!= "nan")
        .map(x => coalesce(x, lit(false))).reduce(_ || _)

    val checks: Seq[Column] =
      firstOpt.toSeq.map(_ => err(0, blankMissing(first),
        "FIRSTNAME", MissingFirstName, first)) ++
      lastOpt.toSeq.map(_ => err(1, blankMissing(last),
        "LASTNAME", MissingLastName, last)) ++
      Seq(
        if (emailOpt.isDefined)
          err(2, blankMissing(email), "EMAIL", MissingEmail, email)
        else err(2, lit(true), "EMAIL", MissingEmailColumn, lit(""))) ++
      emailOpt.toSeq.map(_ => err(3,
        !blankMissing(email) && !Cleaning.validEmail(email),
        "EMAIL", InvalidEmail, email)) ++
      phoneCols.zip(phones).zipWithIndex.map { case ((name, p), i) =>
        err(4 + i,
          trim(p) =!= "" && lower(trim(p)) =!= "nan" && !Cleaning.validPhone(p),
          name, invalidPhoneIn(name), p)
      } ++
      Seq(err(10, !phonePresent, "PHONE", MissingPhone, lit("")))

    df.filter(!skip)
      .select(col("row_id"), fullName.as("__name"),
        explode(filter(array(checks: _*), x => x.isNotNull)).as("e"))
      .select(col("row_id"), col("__name"), col("e.idx").as("__idx"),
        col("e.field").as("field"), col("e.error").as("error"),
        col("e.value").as("value"))
  }

  /** Flat validation errors: one row per (record, error). */
  def errors(df: DataFrame): DataFrame =
    errorCore(df).select("row_id", "field", "error", "value")

  /** The reference's artifact shape (validation_errors.json:
    * {row, name, errors:[...]}, rule order preserved). */
  def referenceReport(df: DataFrame): DataFrame =
    errorCore(df)
      .groupBy(col("row_id"), col("__name"))
      .agg(sort_array(collect_list(struct(col("__idx"), col("error"))))
        .as("__es"))
      .select(col("row_id").as("row"), col("__name").as("name"),
        transform(col("__es"), e => e.getField("error")).as("errors"))
      .orderBy(col("row"))

  /** Error-type rollup, top-N (A7; run.py:135-146). */
  def summary(errs: DataFrame, topN: Int = 5): DataFrame =
    errs.groupBy("error").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("error").asc).limit(topN)

  /** The rows of `errs` and the exit policy (true = pass: no critical
    * error), from one aggregate. */
  def verdict(errs: DataFrame): (Long, Boolean) = {
    val r = errs.agg(count(lit(1)),
      count_if(col("error").isin(CriticalErrors.toSeq: _*))).head()
    (r.getLong(0), r.getLong(1) == 0)
  }
}
