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
  */
object Fill {

  /** One filled cell, = the reference change-log record
    * (fill_missing_contacts.py:124-131). */
  case class ChangeLogEntry(row_id: Long, field: String, old_value: String,
      new_value: String, source_file: String, matched_on: String)

  /** Both frames are lazy and read through the per-source `fills` pin,
    * which the caller's next [[Pins.flush]] releases — flush only once
    * both have been consumed. */
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

  /** Fill missing `fieldMap` fields of `master` from one `source`.
    *
    * @param master must carry unique `row_id`, match keys `_name/_email/_phone`
    * @param source must carry `src_order` (stable row order), the same match
    *               keys, and the source-side columns named in `fieldMap`
    * @param fieldMap master field -> source field
    * @param sourceFile provenance tag for the change log
    */
  def fillFromSource(master: DataFrame, source: DataFrame,
      fieldMap: Map[String, String], sourceFile: String): FillResult = {
    val (filled, log) = fill(master, source, fieldMap, sourceFile)
    FillResult(filled, log.drop("__field_pos"))
  }

  /** [[fillFromSource]] with the change log's `__field_pos` (the field's
    * position in `fieldMap`) kept for [[fillFromSources]]' sort. */
  private def fill(master: DataFrame, source: DataFrame,
      fieldMap: Map[String, String],
      sourceFile: String): (DataFrame, DataFrame) = {
    val targetCols = fieldMap.keys.toSeq
    val keys = Seq("_name", "_email", "_phone")

    // F3: predicate pushdown — only master rows missing something can change.
    val needsFill = targetCols.map(c => Cleaning.isMissing(col(c))).reduce(_ || _)
    val probe = master.filter(needsFill).select(Seq(col("row_id")) ++
      keys.map(k => col(k).as(s"m$k")) ++
      targetCols.map(c => col(c).as(s"mt_$c")): _*)
    val build = source.select(Seq(col("src_order")) ++
      keys.map(k => col(k).as(s"s$k")) ++
      fieldMap.values.toSeq.distinct.map(c => col(c).as(s"sv_$c")): _*)

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

    // J4: first-match-wins, deterministic: earliest source row per master row.
    val winner = verified
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("row_id")).orderBy(col("src_order").asc)))
      .filter(col("__rank") === 1)

    // One row per master row with a winning candidate: its old values
    // (mt_*), its fills (__new_*) and what it matched on. The only pin:
    // `filled` and the change log both read it, so the candidates are
    // computed once.
    val fills = Pins.pin(winner.select(Seq(col("row_id").as("__fill_row_id"),
        concat_ws("+",
          when(col("m_name") =!= "" && col("m_name") === col("s_name"), "name"),
          when(col("m_email") =!= "" && col("m_email") === col("s_email"), "email"),
          when(col("m_phone") =!= "" && col("m_phone") === col("s_phone"), "phone"))
          .as("__matched_on")) ++
      targetCols.map(c => col(s"mt_$c")) ++
      targetCols.map { mf =>
        when(Cleaning.isMissing(col(s"mt_$mf")) &&
            Cleaning.isPresent(col(s"sv_${fieldMap(mf)}")),
          col(s"sv_${fieldMap(mf)}").cast("string")).as(s"__new_$mf")
      }: _*))

    val filled = master.as("t")
      .join(fills, col("t.row_id") === col("__fill_row_id"), "left")
      .select(master.columns.toSeq.map { c =>
        if (fieldMap.contains(c))
          // present -> keep; missing + fill available -> fill; else keep the
          // original (possibly ""/sentinel) value untouched
          coalesce(when(Cleaning.isPresent(col(s"t.$c")), col(s"t.$c")),
            col(s"__new_$c"), col(s"t.$c")).as(c)
        else col(s"t.$c").as(c)
      }: _*)

    // A projection of `fills`, no master join: the old value is mt_*.
    val changeLog = fills
      .select(col("__fill_row_id").as("row_id"), col("__matched_on"),
        posexplode(array(targetCols.map { mf =>
          when(col(s"__new_$mf").isNotNull,
            struct(lit(mf).as("field"),
              coalesce(col(s"mt_$mf").cast("string"), lit("")).as("old_value"),
              col(s"__new_$mf").as("new_value")))
        }: _*)).as(Seq("__field_pos", "__c")))
      .filter(col("__c").isNotNull)
      .select(col("row_id"), col("__c.field").as("field"),
        col("__c.old_value").as("old_value"), col("__c.new_value").as("new_value"),
        lit(sourceFile).as("source_file"), col("__matched_on").as("matched_on"),
        col("__field_pos"))

    (filled, changeLog)
  }

  /** Sequential multi-source fill (SURVEY.md §7.4.5): fills from file k are
    * visible when matching file k+1, so this is an iterative driver loop of
    * join+coalesce per source — checkpointed (localCheckpoint) between
    * iterations to keep lineage bounded — not one big union. The
    * checkpoint also fills each source's `fills` pin, so the change log
    * reads the pins and never recomputes a candidate join. The log is
    * sorted by (source position, `row_id`, field position in the source's
    * `fieldMap`): an explicit order, where the join plan's own output order
    * would move with the core count. */
  def fillFromSources(master: DataFrame,
      sources: Seq[(String, DataFrame, Map[String, String])]): FillResult = {
    var current = master
    var logs = Vector.empty[DataFrame]
    for (((name, src, fieldMap), i) <- sources.zipWithIndex) {
      val (filled, log) = fill(current, src, fieldMap, name)
      current = filled.localCheckpoint(eager = true)
      logs :+= log.withColumn("__source_pos", lit(i))
    }
    val log = logs.reduceOption(_ unionByName _)
      .map(_.orderBy("__source_pos", "row_id", "__field_pos")
        .drop("__source_pos", "__field_pos"))
      .getOrElse(master.sparkSession.emptyDataFrame)
    FillResult(current, log)
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
