package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Cleaning

/** Cross-source record-linkage fill (reference fill_missing_contacts.py:47-138
  * J2, fill_missing_contacts_large.py J3, merge_contacts_kindaworks.py:77-96
  * J1; SURVEY.md §2.4).
  *
  * The reference builds three per-field hash indexes and probes them row by
  * row; relationally that is a disjunctive multi-key equi-join, which we
  * decompose BY CONSTRUCTION into a union of three equi-joins (a pure `OR`
  * join condition would degrade to BroadcastNestedLoopJoin — SURVEY.md §4).
  * Candidates are verified with the >=2-of-3 exact-match rule (F7), ranked by
  * source row order (first-match-wins, J4 — made deterministic with an
  * explicit window), and the winning candidate's fields are coalesced into
  * the master's missing cells. Provenance is a *derived dataset*, not a
  * side-effecting append: every filled cell yields a ChangeLogEntry (X6).
  */
object Fill {

  /** One filled cell, = the reference change-log record
    * (fill_missing_contacts.py:124-131). */
  case class ChangeLogEntry(row_id: Long, field: String, old_value: String,
      new_value: String, source_file: String, matched_on: String)

  /** Both frames are lazy and read through the operator's probe/build
    * pins, which the caller's next [[Pins.flush]] releases — flush only
    * once both have been consumed. */
  case class FillResult(filled: DataFrame, changeLog: DataFrame)

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
    * @param minMatches the >=k-of-3 verification threshold (reference: 2)
    */
  def fillFromSource(master: DataFrame, source: DataFrame,
      fieldMap: Map[String, String], sourceFile: String,
      minMatches: Int = 2): FillResult = {

    val targetCols = fieldMap.keys.toSeq

    // F3: predicate pushdown — only master rows missing something can change.
    // Both projections are PERSIST-PINNED: each feeds all three key-join
    // branches below, and without the pin Spark recomputes the upstream
    // master/source plan once per branch (the r5 bench showed q69 paying
    // three master scans). MEMORY_AND_DISK (the Pins default) because the
    // probe is data-sized; released at the caller's run boundary.
    val needsFill = targetCols.map(c => Cleaning.isMissing(col(c))).reduce(_ || _)
    val probe = Pins.pin(master.filter(needsFill)
      .select((Seq("row_id", "_name", "_email", "_phone") ++ targetCols)
        .map(col): _*))

    val build = Pins.pin(source
      .select((Seq("src_order", "_name", "_email", "_phone") ++
        fieldMap.values.toSeq.distinct).map(col): _*))

    // Union of three equi-joins = the reference's three hash indexes (J2).
    // Spark plans each as a shuffled/broadcast hash join; the union is the
    // candidate set (§2.7), deduped on (row_id, src_order). Both sides carry
    // the same helper-column names, so each join output is re-projected to
    // disambiguated names before the union.
    val mCols = Seq(col("m.row_id").as("row_id")) ++
      Seq("_name", "_email", "_phone").map(k => col(s"m.$k").as(s"m$k")) ++
      targetCols.map(c => col(s"m.$c").as(s"mt_$c"))
    val sCols = Seq(col("s.src_order").as("src_order")) ++
      Seq("_name", "_email", "_phone").map(k => col(s"s.$k").as(s"s$k")) ++
      fieldMap.values.toSeq.distinct.map(c => col(s"s.$c").as(s"sv_$c"))

    def joinOn(key: String): DataFrame =
      probe.as("m").join(build.as("s"),
          col(s"m.$key") =!= "" && col(s"m.$key") === col(s"s.$key"))
        .select(mCols ++ sCols: _*)

    val candidates = Seq("_name", "_email", "_phone").map(joinOn)
      .reduce(_ unionByName _)
      .dropDuplicates("row_id", "src_order")

    // F7: >=2-of-3 verification as a residual filter.
    val verified = candidates.filter(Cleaning.matchesAtLeast(minMatches,
      (col("m_name"), col("s_name")),
      (col("m_email"), col("s_email")),
      (col("m_phone"), col("s_phone"))))

    // J4: first-match-wins, deterministic: earliest source row per master row.
    val winner = verified
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("row_id")).orderBy(col("src_order").asc)))
      .filter(col("__rank") === 1)

    // Per-field fill expressions + change-log rows from the same join output.
    val fills = winner.select(Seq(col("row_id").as("__fill_row_id")) ++
      Seq(col("src_order"),
        concat_ws("+",
          when(col("m_name") =!= "" && col("m_name") === col("s_name"), "name"),
          when(col("m_email") =!= "" && col("m_email") === col("s_email"), "email"),
          when(col("m_phone") =!= "" && col("m_phone") === col("s_phone"), "phone"))
          .as("__matched_on")) ++
      fieldMap.map { case (mf, sf) =>
        when(Cleaning.isMissing(col(s"mt_$mf")) && Cleaning.isPresent(col(s"sv_$sf")),
          col(s"sv_$sf").cast("string")).as(s"__new_$mf")
      }.toSeq: _*)

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

    val changeLog = master.as("t")
      .join(fills, col("t.row_id") === col("__fill_row_id"))
      .select(col("t.row_id").as("row_id"), col("__matched_on"),
        array(fieldMap.keys.toSeq.map { mf =>
          when(col(s"__new_$mf").isNotNull,
            struct(lit(mf).as("field"),
              coalesce(col(s"t.$mf").cast("string"), lit("")).as("old_value"),
              col(s"__new_$mf").as("new_value")))
        }: _*).as("__changes"))
      .select(col("row_id"), col("__matched_on"),
        explode(filter(col("__changes"), c => c.isNotNull)).as("__c"))
      .select(col("row_id"), col("__c.field").as("field"),
        col("__c.old_value").as("old_value"), col("__c.new_value").as("new_value"),
        lit(sourceFile).as("source_file"), col("__matched_on").as("matched_on"))

    FillResult(filled, changeLog)
  }

  /** Sequential multi-source fill (SURVEY.md §7.4.5): fills from file k are
    * visible when matching file k+1, so this is an iterative driver loop of
    * join+coalesce per source — checkpointed (localCheckpoint) between
    * iterations to keep lineage bounded — not one big union. */
  def fillFromSources(master: DataFrame,
      sources: Seq[(String, DataFrame, Map[String, String])],
      minMatches: Int = 2): FillResult = {
    var current = master
    var logs = Vector.empty[DataFrame]
    for ((name, src, fieldMap) <- sources) {
      val r = fillFromSource(current, src, fieldMap, name, minMatches)
      current = r.filled.localCheckpoint(eager = true)
      logs :+= r.changeLog
    }
    val log = logs.reduceOption(_ unionByName _)
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
