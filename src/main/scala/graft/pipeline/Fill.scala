package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cleaning

/** Cross-source record-linkage fill (reference fill_missing_contacts.py:47-138
  * J2, fill_missing_contacts_large.py J3, merge_contacts_kindaworks.py:77-96
  * J1; SURVEY.md §2.4).
  *
  * The reference builds three per-field hash indexes (name, email, phone)
  * and probes them row by row, keeping a candidate that matches exactly on
  * >=2 of the 3 keys (F7). Under that rule every verified candidate matches
  * on name or email: with neither, only phone can match, which is 1 of 3.
  * So phone is a verification key but never a join key, and the candidate
  * set is ONE equi-join on exploded (key kind, key value) pairs of each
  * side's present name and email keys — the kind tag keeps a name from
  * matching an equal email string, and an equi-join keeps the plan off
  * BroadcastNestedLoopJoin (a disjunctive `OR` condition would land there,
  * SURVEY.md §4). Candidates are ranked by source row order (first match
  * wins, J4, made deterministic with an explicit window), and the winner's
  * fields are coalesced into the master's missing cells. Provenance is a
  * *derived dataset*, not a side-effecting append: every filled cell yields
  * a ChangeLogEntry (X6).
  *
  * Several sources are one plan, not a loop. The reference fills file k
  * before it matches file k+1, but its match keys are built once, before
  * that loop, and a fill never rewrites them: file k changes for file k+1
  * only which cells are still missing. So the first source, in input
  * order, whose winner offers a value for a cell fills it, and every
  * source is matched against the same master in one candidate join (the
  * build sides unioned, each row tagged with its source position). No
  * source's plan contains another's, so there is no lineage to cut and
  * no per-source checkpoint.
  */
object Fill {

  /** One filled cell, = the reference change-log record
    * (fill_missing_contacts.py:124-131). */
  case class ChangeLogEntry(row_id: Long, field: String, old_value: String,
      new_value: String, source_file: String, matched_on: String)

  /** Both frames are lazy and read through the one `fills` pin, which the
    * caller's next [[Pins.flush]] releases — flush only once both have
    * been consumed. */
  case class FillResult(filled: DataFrame, changeLog: DataFrame)

  /** The >=k-of-3 verification threshold (F7; the reference's 2). The one
    * candidate join on name and email finds every verified candidate only
    * for k >= 2. */
  private val MinMatches = 2

  /** Normalized match keys (P5): _name/_email/_phone shadow columns. */
  def withMatchKeys(df: DataFrame, name: Column, email: Column,
      phone: Column): DataFrame =
    df.withColumn("_name", Cleaning.normName(name))
      .withColumn("_email", Cleaning.normEmail(email))
      .withColumn("_phone", Cleaning.normPhone(phone))

  /** Fill missing `fieldMap` fields of `master` from one `source`; the
    * change log is unsorted.
    *
    * @param master must carry unique `row_id`, match keys `_name/_email/_phone`
    * @param source must carry `src_order` (stable row order), the same match
    *               keys, and the source-side columns named in `fieldMap`
    * @param fieldMap master field -> source field
    * @param sourceFile provenance tag for the change log
    */
  def fillFromSource(master: DataFrame, source: DataFrame,
      fieldMap: Map[String, String], sourceFile: String): FillResult =
    fill(master, Seq((sourceFile, source, fieldMap)), sorted = false)

  /** Multi-source fill (SURVEY.md §7.4.5) as one plan (see above): a cell
    * is filled by the first source whose winner offers a value for it.
    * The log is sorted by (source position, `row_id`, field position in
    * the source's `fieldMap`): an explicit order, where the join plan's
    * own output order would move with the core count. No sources: the
    * master itself and an empty log. */
  def fillFromSources(master: DataFrame,
      sources: Seq[(String, DataFrame, Map[String, String])]): FillResult =
    if (sources.isEmpty) FillResult(master, master.sparkSession.emptyDataFrame)
    else fill(master, sources, sorted = true)

  private def fill(master: DataFrame,
      sources: Seq[(String, DataFrame, Map[String, String])],
      sorted: Boolean): FillResult = {
    val targetCols = sources.flatMap(_._3.keys).distinct
    val keys = Seq("_name", "_email", "_phone")

    // F3: predicate pushdown — only master rows missing something can change.
    val needsFill = targetCols.map(c => Cleaning.isMissing(col(c))).reduce(_ || _)
    val probe = master.filter(needsFill).select(Seq(col("row_id")) ++
      keys.map(k => col(k).as(s"m$k")) ++
      targetCols.map(c => col(c).as(s"mt_$c")): _*)
    // Every source's rows, tagged with the source position; each present
    // value sits under the master field it fills (sv_*), null elsewhere.
    val build = sources.zipWithIndex.map { case ((_, src, fieldMap), i) =>
      src.select(Seq(lit(i).as("__src"), col("src_order")) ++
        keys.map(k => col(k).as(s"s$k")) ++
        targetCols.map { mf =>
          fieldMap.get(mf).fold(lit(null).cast("string")) { sf =>
            when(Cleaning.isPresent(col(sf)), col(sf).cast("string"))
          }.as(s"sv_$mf")
        }: _*)
    }.reduce(_ union _)

    // One row per present name/email key, tagged with its kind. A
    // candidate matching on both keys joins twice into two rows identical
    // in every kept column; the window below keeps one of them.
    def byKey(df: DataFrame, side: String): DataFrame =
      df.withColumn("__key", explode(array(
          struct(lit(0).as("kind"), col(s"${side}_name").as("value")),
          struct(lit(1).as("kind"), col(s"${side}_email").as("value")))))
        .filter(Cleaning.isPresent(col("__key.value")))

    val verified = byKey(probe, "m").join(byKey(build, "s"), Seq("__key"))
      .filter(Cleaning.matchesAtLeast(MinMatches,
        (col("m_name"), col("s_name")),
        (col("m_email"), col("s_email")),
        (col("m_phone"), col("s_phone"))))

    // J4: first-match-wins, deterministic. One window partitioning on
    // row_id, ordered by (source, source row): a source's first row per
    // master row is its winner, and each cell takes the first winner, in
    // source order, that offers a value.
    val w = Window.partitionBy(col("row_id")).orderBy(col("__src"), col("src_order"))
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val matchedOn = concat_ws("+",
      when(col("m_name") =!= "" && col("m_name") === col("s_name"), "name"),
      when(col("m_email") =!= "" && col("m_email") === col("s_email"), "email"),
      when(col("m_phone") =!= "" && col("m_phone") === col("s_phone"), "phone"))
    val winners = verified.withColumn("__prev", lag(col("__src"), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col("__src"))

    // One row per master row with a winner: its old values (mt_*), and per
    // cell the fill (__new_*: source, what it matched on, value). The only
    // pin: `filled` and the change log both read it, so the candidates
    // are computed once.
    val fills = Pins.pin(winners.select(Seq(col("row_id").as("__fill_row_id"),
        col("__prev")) ++
      targetCols.map(c => col(s"mt_$c")) ++
      targetCols.map { mf =>
        when(Cleaning.isMissing(col(s"mt_$mf")), first(
          when(col(s"sv_$mf").isNotNull, struct(col("__src").as("src"),
            matchedOn.as("matched_on"), col(s"sv_$mf").as("value"))),
          ignoreNulls = true).over(all)).as(s"__new_$mf")
      }: _*).filter(col("__prev").isNull).drop("__prev"))

    val filled = master.as("t")
      .join(fills, col("t.row_id") === col("__fill_row_id"), "left")
      .select(master.columns.toSeq.map { c =>
        if (targetCols.contains(c))
          // present -> keep; missing + fill available -> fill; else keep the
          // original (possibly ""/sentinel) value untouched
          coalesce(when(Cleaning.isPresent(col(s"t.$c")), col(s"t.$c")),
            col(s"__new_$c").getField("value"), col(s"t.$c")).as(c)
        else col(s"t.$c").as(c)
      }: _*)

    // A projection of `fills`, no master join: the old value is mt_*; the
    // source's name and the field's position in the source's fieldMap are
    // looked up by source position.
    val log = fills.select(col("__fill_row_id").as("row_id"),
        explode(array(targetCols.map { mf =>
          val cell = col(s"__new_$mf")
          val src = cell.getField("src") + 1
          when(cell.isNotNull, struct(lit(mf).as("field"),
            coalesce(col(s"mt_$mf").cast("string"), lit("")).as("old_value"),
            cell.getField("value").as("new_value"),
            element_at(typedLit(sources.map(_._1)), src).as("source_file"),
            cell.getField("matched_on").as("matched_on"),
            cell.getField("src").as("__src"),
            element_at(typedLit(sources.map(_._3.keys.toSeq.indexOf(mf))), src)
              .as("__field_pos")))
        }: _*)).as("__c"))
      .filter(col("__c").isNotNull)
      .select("row_id", "__c.*")
    FillResult(filled, (if (sorted) log.orderBy("__src", "row_id", "__field_pos")
      else log).drop("__src", "__field_pos"))
  }

  /** J1 — the Mailchimp correlated-lookup special case
    * (merge_contacts_kindaworks.py:77-96): fill missing email by exact
    * (name, phone) match and missing phone by exact (name, email) match,
    * first source row wins. The build side is small -> broadcast hash join. */
  def mailchimpFill(master: DataFrame, mailchimp: DataFrame): DataFrame = {
    def firstPer(df: DataFrame, keys: Seq[String], value: String): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("src_order").asc)
      df.filter(keys.map(k => col(k) =!= "").reduce(_ && _) &&
          Cleaning.isPresent(col(value)))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(keys.map(col) :+ col(value).as(s"__mc_$value"): _*)
    }
    val byNamePhone = firstPer(mailchimp, Seq("_name", "_phone"), "email")
    val byNameEmail = firstPer(mailchimp, Seq("_name", "_email"), "mobile")

    master
      .join(broadcast(byNamePhone), Seq("_name", "_phone"), "left")
      .join(broadcast(byNameEmail), Seq("_name", "_email"), "left")
      .withColumn("email",
        when(Cleaning.isMissing(col("email")),
          // no match -> keep the original (possibly ""/sentinel) value
          // untouched, exactly like fillFromSource — not null
          coalesce(col("__mc_email"), col("email")))
          .otherwise(col("email")))
      .withColumn("mobile",
        when(Cleaning.isMissing(col("mobile")),
          coalesce(col("__mc_mobile"), col("mobile")))
          .otherwise(col("mobile")))
      .drop("__mc_email", "__mc_mobile")
  }
}
