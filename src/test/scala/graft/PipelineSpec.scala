package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Cleaning
import graft.pipeline._

/** Pipeline-stage tests: golden-record merge semantics, record-linkage fill
  * invariants, validation rules, TSV round-trips, JDBC (Derby) staging, and
  * the end-to-end orchestrator. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ----------------------------------------------------------- GoldenRecord

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("mostComplete: longest valid value wins; sentinels excluded") {
    val df = Seq(
      ("g1", "short", ts("2020-01-01 00:00:00"), 1L),
      ("g1", "the longest value", ts("2019-01-01 00:00:00"), 2L),
      ("g1", "nan", ts("2024-01-01 00:00:00"), 3L),
      ("g2", "", ts("2020-01-01 00:00:00"), 4L),
      ("g2", "nan", ts("2020-01-01 00:00:00"), 5L),
      // Spark's trim strips spaces only: a tab is a value, and the
      // earlier row wins the length tie
      ("g3", "\t", ts("2020-01-01 00:00:00"), 6L),
      ("g3", "a", ts("2020-01-01 00:00:00"), 7L))
      .toDF("g", "v", "ts", "id")
    val out = df.groupBy("g")
      .agg(GoldenRecord.mostComplete(col("v"), col("ts"), col("id")).as("best"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("g1", "the longest value"), ("g2", null), ("g3", "\t")))
  }

  test("mostComplete tie-breaks: equal length -> latest ts -> earliest row") {
    val df = Seq(
      ("g1", "aaaa", ts("2020-01-01 00:00:00"), 1L),
      ("g1", "bbbb", ts("2021-01-01 00:00:00"), 2L), // same len, newer -> wins
      ("g2", "cccc", ts("2020-01-01 00:00:00"), 9L),
      ("g2", "dddd", ts("2020-01-01 00:00:00"), 3L)) // same len+ts, lower id wins
      .toDF("g", "v", "ts", "id")
    val out = df.groupBy("g")
      .agg(GoldenRecord.mostComplete(col("v"), col("ts"), col("id")).as("best"))
      .orderBy("g").collect().map(_.getString(1)).toSeq
    assert(out == Seq("bbbb", "dddd"))
  }

  test("dedupe: one row per key, values drawn from within the group") {
    val df = Seq(
      (1L, "a@x.com", "Jo", "111"),
      (2L, "A@X.COM", "Joanna", ""),
      (3L, "b@y.com", "Bo", "222"))
      .toDF("row_id", "EMAIL", "FULLNAME", "MOBILE")
    val out = GoldenRecord.dedupe(df, "row_id")
    assert(out.count() == 2)
    val joanna = out.filter(lower(col("EMAIL")) === "a@x.com").head()
    assert(joanna.getAs[String]("FULLNAME") == "Joanna") // longest
    assert(joanna.getAs[String]("MOBILE") == "111") // "" excluded
  }

  /** The per-column `max_by` formulation of the merge: an ordering struct
    * (length, ts, -row id) that is null for a missing value. The reference
    * the row-wide aggregate is checked against. */
  private def maxByReference(value: Column, lastUpdated: Column,
      rowId: Column): Column =
    max_by(value, when(Cleaning.isPresent(value.cast("string")), struct(
      length(value.cast("string")).as("len"),
      coalesce(lastUpdated.try_cast("timestamp"),
        lit("1970-01-01 00:00:00").cast("timestamp")).as("ts"),
      (-rowId).as("neg_row"))))

  test("mostComplete agrees with the max_by reference") {
    val rnd = new scala.util.Random(11)
    val sentinels = Seq(null, "", "nan", "None", "NaN", " ")
    val rows = (1 to 400).map { i =>
      val g = s"g${i % 23}"
      val v = if (rnd.nextDouble() < 0.3) sentinels(rnd.nextInt(sentinels.size))
        else rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val tsv = ts(f"2020-01-${rnd.nextInt(28) + 1}%02d 00:00:00")
      (g, v, tsv, i.toLong)
    }
    val df = rows.toDF("g", "v", "ts", "id")
    val fast = df.groupBy("g")
      .agg(GoldenRecord.mostComplete(col("v"), col("ts"), col("id")).as("best"))
    val exact = df.groupBy("g")
      .agg(maxByReference(col("v"), col("ts"), col("id")).as("best"))
    val d1 = fast.exceptAll(exact); val d2 = exact.exceptAll(fast)
    assert(d1.isEmpty && d2.isEmpty,
      s"mostComplete and max_by disagree: ${d1.collect().toSeq} ${d2.collect().toSeq}")
  }

  test("dedupe == per-column max_by on random groups, through partial, " +
      "merge, serialize and sort fallback") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val rnd = new scala.util.Random(29)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    // short values so lengths tie often; every sentinel, padded too; blank
    // cells that trim() keeps (tab, NBSP); supplementary code points, whose
    // length is 1 code point but 2 UTF-16 units
    val blanks = Cleaning.MissingSentinels.flatMap(m => Seq(m, s"  $m ")) ++
      Seq(null, "   ", "\t", "\u00a0", " \t\n ")
    val odd = Seq("\uD83D\uDE00", "a\uD83D\uDE00", "\uD835\uDC9Cb", "ab", "é")
    def str(): String = rnd.nextInt(10) match {
      case 0 | 1 | 2 => pick(blanks)
      case 3 => pick(odd)
      case _ => rnd.alphanumeric.take(1 + rnd.nextInt(3)).mkString
    }
    // few distinct timestamps: ts ties; null and unparseable -> epoch
    val lus = Seq(null, "garbage", "2020-01-01 00:00:00", "2021-06-01 12:00:00",
      "2021-06-01 12:00:00")
    val stamps = Seq(null, ts("2020-01-01 00:00:00"), ts("2020-01-01 00:00:01"),
      ts("1999-12-31 23:59:59"))
    val groups = 600
    val seen = scala.collection.mutable.Set.empty[Int]
    val rows = (1 to 3000).map { i =>
      val g = rnd.nextInt(groups)
      // at most one null row id per group: two null ids with equal length
      // and ts are a full tie, which both forms resolve by input order
      val id: java.lang.Long =
        if (seen.add(g) && rnd.nextDouble() < 0.3) null else Long.box(i.toLong)
      (s"g$g", s"g$g", id, pick(lus), str(), pick(stamps),
        if (rnd.nextInt(5) == 0) null else Long.box(rnd.nextInt(2001) - 1000L),
        if (rnd.nextInt(5) == 0) null
        else Double.box(pick(Seq(1.5, -2.25, 10.0, Double.NaN,
          Double.PositiveInfinity, rnd.nextInt(100) / 4.0))))
    }
    // 3 partitions, every one holding more than 128 of the 600 keys: the
    // partial and the final aggregate both fall back to sorting
    val df = rows.toDF("g", "gk", "id", "lu", "v", "t", "l", "d").repartition(3)
    val dataCols = df.columns.toSeq.filterNot(_ == "g")
    val golden = GoldenRecord.dedupe(df, "id", Some("lu"), keyCol = "g")
    val want = df.groupBy("g")
      .agg(maxByReference(col(dataCols.head), col("lu"), col("id")).as(dataCols.head),
        dataCols.tail.map(c => maxByReference(col(c), col("lu"), col("id")).as(c)): _*)
      .select(dataCols.map(col): _*)
    def byKey(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => r.getString(0) -> r.toSeq).toMap
    val got = byKey(golden.collect())
    val exp = byKey(want.collect())
    assert(got.size == exp.size && got.size == rows.map(_._1).distinct.size)
    val diff = exp.keys.filter(k => got(k) != exp(k)).toSeq.sorted
    assert(diff.isEmpty,
      s"${diff.size} groups differ, e.g. ${diff.take(3).map(k => (got(k), exp(k)))}")
    val aggs = new AdaptiveSparkPlanHelper {}.collect(
      golden.queryExecution.executedPlan) { case a: ObjectHashAggregateExec => a }
    assert(aggs.size == 2 &&
      aggs.forall(_.metrics("numTasksFallBacked").value > 0),
      s"both aggregate phases should fall back to sorting: " +
        aggs.map(_.metrics("numTasksFallBacked").value))
  }

  test("incremental upsert == full re-dedupe") {
    val rnd = new scala.util.Random(17)
    def mk(ids: Range) = ids.map { i =>
      val email = if (i % 4 == 0) "" else s"g${i % 31}@x.com"
      (i.toLong, email, s"Person${rnd.alphanumeric.take(i % 9).mkString}",
        s"55512${i % 100}%02d")
    }.toDF("row_id", "EMAIL", "FULLNAME", "MOBILE")
    val existingRaw = mk(1 to 200)
    val golden = GoldenRecord.dedupe(existingRaw, "row_id")
    val incoming = mk(1000 to 1040)
    val incremental = GoldenRecord.upsertIncremental(golden, incoming, "row_id")
    val full = GoldenRecord.dedupe(
      golden.unionByName(incoming), "row_id")
    val d1 = incremental.exceptAll(full); val d2 = full.exceptAll(incremental)
    assert(d1.isEmpty && d2.isEmpty,
      s"incremental != full: ${d1.take(3).toSeq} ${d2.take(3).toSeq}")
  }

  /** The touched-groups formulation of the upsert: re-merge only the golden
    * groups whose key the batch carries (left-semi on the broadcast touched
    * keys) and pass every other golden row through (left-anti). The oracle
    * for `upsertIncremental`'s one-aggregate formulation. */
  private def touchedGroupsUpsert(existing: DataFrame, incoming: DataFrame,
      rowIdCol: String, lastUpdatedCol: Option[String]): DataFrame = {
    val keyCol = "dedup_key"
    val exKeyed = GoldenRecord.withDedupKey(existing, keyCol)
    val inKeyed = GoldenRecord.withDedupKey(incoming, keyCol)
    val touchedKeys = inKeyed.select(col(keyCol)).distinct()
    val touched = exKeyed.join(broadcast(touchedKeys), Seq(keyCol), "left_semi")
    val untouched = exKeyed.join(broadcast(touchedKeys), Seq(keyCol), "left_anti")
    val merged = GoldenRecord.dedupe(touched.unionByName(inKeyed), rowIdCol,
      lastUpdatedCol, keyCol)
    untouched.drop(keyCol).unionByName(merged)
  }

  /** Contact rows over a small identity pool, so keys collide: email
    * case/space variants, blank, whitespace-only and sentinel emails,
    * fallback-key rows (name plus mobile, some mobiles longer than 10
    * digits) and identity-less rows (key "-"). */
  private def contactRows(rnd: scala.util.Random, ids: Range): DataFrame = {
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    val missing = Seq(null, "", "   ", "N/A", "NULL", " N/A ")
    ids.map { i =>
      val k = rnd.nextInt(40)
      val email = rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => pick(missing)
        case 4 => "\t"
        case _ => pick(Seq(s"p$k@x.com", s"P$k@X.com", s" p$k@x.com ",
          s"p$k@x.COM  "))
      }
      val name = rnd.nextInt(6) match {
        case 0 => pick(missing)
        case _ => pick(Seq(s"Name $k", s"name  $k", s" NAME $k "))
      }
      val mobile = rnd.nextInt(6) match {
        case 0 => pick(missing)
        case _ => pick(Seq(f"555${k % 8}%07d", f"+1 (555) ${k % 8}%07d",
          f"0044555${k % 8}%07d"))
      }
      val lu = pick(Seq(null, "garbage", "2020-01-01 00:00:00",
        "2021-06-01 12:00:00"))
      val note = if (rnd.nextInt(4) == 0) pick(missing)
        else rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
      (i.toLong, email, name, mobile, lu, note)
    }.toDF("row_id", "EMAIL", "FULLNAME", "MOBILE", "LAST_UPDATED", "NOTE")
  }

  test("upsertIncremental == touched-groups oracle; untouched rows unchanged") {
    def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.getLong(0))
    for (seed <- Seq(3, 5, 8); parts <- Seq(1, 7)) {
      val rnd = new scala.util.Random(seed)
      val golden = GoldenRecord.dedupe(contactRows(rnd, 1 to 400), "row_id",
        Some("LAST_UPDATED")).repartition(parts)
      val incoming = contactRows(rnd, 1000 to 1060)
      val got = GoldenRecord.upsertIncremental(golden, incoming, "row_id",
        Some("LAST_UPDATED"))
      val want = touchedGroupsUpsert(golden, incoming, "row_id",
        Some("LAST_UPDATED"))
      val d1 = got.exceptAll(want); val d2 = want.exceptAll(got)
      assert(d1.isEmpty && d2.isEmpty, s"seed $seed, $parts partitions: " +
        s"${d1.take(3).toSeq} ${d2.take(3).toSeq}")

      val keyed = GoldenRecord.withDedupKey(golden)
      val inKeys = GoldenRecord.withDedupKey(incoming).select("dedup_key")
      val untouched = keyed.join(inKeys, Seq("dedup_key"), "left_anti")
        .drop("dedup_key")
      val keys = keyed.select("dedup_key").as[String].collect().toSet
      assert(keys.contains("-") && keys.exists(_.startsWith("name ")) &&
        untouched.count() > 0 && untouched.count() < golden.count(),
        s"seed $seed: identity-less, fallback, touched and untouched groups")
      val back = GoldenRecord.withDedupKey(got)
        .join(inKeys, Seq("dedup_key"), "left_anti").drop("dedup_key")
      assert(sorted(back) == sorted(untouched),
        s"seed $seed, $parts partitions: an untouched golden row changed")
    }
  }

  test("upsertIncremental over a parquet snapshot plans one shuffle, no broadcast") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
      ShuffleExchangeLike}
    val rnd = new scala.util.Random(11)
    val dir = Files.createTempDirectory("upsert-plan").resolve("v=0").toString
    GoldenRecord.dedupe(contactRows(rnd, 1 to 200), "row_id")
      .write.parquet(dir)
    val out = GoldenRecord.upsertIncremental(spark.read.parquet(dir),
      contactRows(rnd, 1000 to 1030), "row_id")
    out.collect()
    val plan = out.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = helper.collect(plan) { case s: ShuffleExchangeLike => s }
    val broadcasts = helper.collect(plan) { case b: BroadcastExchangeLike => b }
    assert(shuffles.size == 1 && broadcasts.isEmpty,
      s"${shuffles.size} shuffles, ${broadcasts.size} broadcasts:\n$plan")
  }

  // ------------------------------------------------------------------ Fill

  private def master(rows: (Long, String, String, String)*) =
    Fill.withMatchKeys(
      rows.toDF("row_id", "name", "email", "phone"),
      col("name"), col("email"), col("phone"))

  private def source(rows: (Long, String, String, String)*) =
    Fill.withMatchKeys(
      rows.toDF("src_order", "name", "email", "phone"),
      col("name"), col("email"), col("phone"))

  test("fill: >=2-of-3 match fills only missing fields; provenance logged") {
    val m = master((1L, "Jo Do", "", "5551234567"), (2L, "No Match", "", ""))
    val s = source((1L, "jo do", "jo@x.com", "5551234567"))
    val r = Fill.fillFromSource(m, s, Map("email" -> "email"), "src1")
    val filled = r.filled.orderBy("row_id").collect()
    assert(filled(0).getAs[String]("email") == "jo@x.com")
    assert(filled(1).getAs[String]("email") == "") // 0 matches -> untouched
    val log = r.changeLog.collect()
    assert(log.length == 1)
    val e = log.head
    assert(e.getAs[Long]("row_id") == 1L)
    assert(e.getAs[String]("field") == "email")
    assert(e.getAs[String]("new_value") == "jo@x.com")
    assert(e.getAs[String]("source_file") == "src1")
    assert(e.getAs[String]("matched_on") == "name+phone")
  }

  test("fill never overwrites a present value") {
    val m = master((1L, "Jo Do", "keep@x.com", "5551234567"))
    val s = source((1L, "jo do", "new@x.com", "5551234567"))
    val r = Fill.fillFromSource(m, s, Map("email" -> "email"), "src1")
    assert(r.filled.head().getAs[String]("email") == "keep@x.com")
    assert(r.changeLog.isEmpty)
  }

  test("fill: first-match-wins is deterministic by source order") {
    val m = master((1L, "Jo Do", "", "5551234567"))
    val s = source(
      (2L, "jo do", "second@x.com", "5551234567"),
      (1L, "jo do", "first@x.com", "5551234567"))
    val r = Fill.fillFromSource(m, s, Map("email" -> "email"), "src1")
    assert(r.filled.head().getAs[String]("email") == "first@x.com")
  }

  test("fill: only 1-of-3 matching is rejected (F7)") {
    val m = master((1L, "Jo Do", "", "111"))
    val s = source((1L, "jo do", "x@y.com", "999")) // name matches, phone differs
    val r = Fill.fillFromSource(m, s, Map("email" -> "email"), "src1")
    assert(r.filled.head().getAs[String]("email") == "")
  }

  test("sequential multi-source fill: file k fills visible to file k+1") {
    val m = master((1L, "Jo Do", "", ""))
    // src1 fills the email (matching on name+phone impossible: phone empty;
    // but name+email also impossible... so give phone first via 2 keys)
    val s1 = source((1L, "jo do", "jo@x.com", "")) // only name matches: rejected
    val s2 = source((1L, "jo do", "jo@x.com", "5551234567"))
    // after s2 fails (1 key), nothing filled; now a 2-key source:
    val r = Fill.fillFromSources(master((1L, "Jo Do", "jo@x.com", "")),
      Seq(
        ("s2", s2, Map("phone" -> "phone")), // name+email match -> fills phone
        ("s3", source((42L, "jo do", "", "5551234567")),
          Map("email" -> "email")))) // would need the phone filled by s2
    val row = r.filled.head()
    assert(row.getAs[String]("phone") == "5551234567")
    // match keys are static (computed before fill), so s3 sees original keys;
    // the change log records the s2 fill
    assert(r.changeLog.count() == 1)
  }

  // -------------------------------------------- Fill against its reference

  /** The fill as the reference's three hash indexes spell it: one
    * equi-join per key (name, email, phone), their union deduplicated on
    * (row_id, src_order), >=2-of-3 verification, first match wins, and the
    * change log from a second join with the master. */
  private def referenceFill(master: DataFrame, source: DataFrame,
      fieldMap: Map[String, String],
      sourceFile: String): (DataFrame, DataFrame) = {
    val targetCols = fieldMap.keys.toSeq
    val keys = Seq("_name", "_email", "_phone")
    val probe = master
      .filter(targetCols.map(c => Cleaning.isMissing(col(c))).reduce(_ || _))
      .select((Seq("row_id") ++ keys ++ targetCols).map(col): _*)
    val build = source.select((Seq("src_order") ++ keys ++
      fieldMap.values.toSeq.distinct).map(col): _*)
    val mCols = Seq(col("m.row_id").as("row_id")) ++
      keys.map(k => col(s"m.$k").as(s"m$k")) ++
      targetCols.map(c => col(s"m.$c").as(s"mt_$c"))
    val sCols = Seq(col("s.src_order").as("src_order")) ++
      keys.map(k => col(s"s.$k").as(s"s$k")) ++
      fieldMap.values.toSeq.distinct.map(c => col(s"s.$c").as(s"sv_$c"))
    val winner = keys.map { k =>
        probe.as("m").join(build.as("s"),
            col(s"m.$k") =!= "" && col(s"m.$k") === col(s"s.$k"))
          .select(mCols ++ sCols: _*)
      }.reduce(_ unionByName _)
      .dropDuplicates("row_id", "src_order")
      .filter(Cleaning.matchesAtLeast(2, (col("m_name"), col("s_name")),
        (col("m_email"), col("s_email")), (col("m_phone"), col("s_phone"))))
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("row_id"))
          .orderBy(col("src_order"))))
      .filter(col("__rank") === 1)
    def on(k: String) =
      when(col(s"m_$k") =!= "" && col(s"m_$k") === col(s"s_$k"), k)
    val fills = winner.select(Seq(col("row_id").as("__fill_row_id"),
        concat_ws("+", on("name"), on("email"), on("phone")).as("__matched_on")) ++
      fieldMap.map { case (mf, sf) =>
        when(Cleaning.isMissing(col(s"mt_$mf")) && Cleaning.isPresent(col(s"sv_$sf")),
          col(s"sv_$sf").cast("string")).as(s"__new_$mf")
      }: _*)
    val filled = master.as("t")
      .join(fills, col("t.row_id") === col("__fill_row_id"), "left")
      .select(master.columns.toSeq.map { c =>
        if (fieldMap.contains(c))
          coalesce(when(Cleaning.isPresent(col(s"t.$c")), col(s"t.$c")),
            col(s"__new_$c"), col(s"t.$c")).as(c)
        else col(s"t.$c").as(c)
      }: _*)
    val changeLog = master.as("t")
      .join(fills, col("t.row_id") === col("__fill_row_id"))
      .select(col("t.row_id").as("row_id"), col("__matched_on"),
        explode(array(targetCols.map { mf =>
          when(col(s"__new_$mf").isNotNull,
            struct(lit(mf).as("field"),
              coalesce(col(s"t.$mf").cast("string"), lit("")).as("old_value"),
              col(s"__new_$mf").as("new_value")))
        }: _*)).as("__c"))
      .filter(col("__c").isNotNull)
      .select(col("row_id"), col("__c.field").as("field"),
        col("__c.old_value").as("old_value"), col("__c.new_value").as("new_value"),
        lit(sourceFile).as("source_file"), col("__matched_on").as("matched_on"))
    (filled, changeLog)
  }

  /** Seeded fill fixtures drawn from small pools, so keys collide often:
    * empty and sentinel keys, a name ("x@y.com") equal to an email, and
    * sources matching one master row several times and several master
    * rows at once. Three sources, each with its own field map. */
  private def fillFixture(seed: Int)
      : (DataFrame, Seq[(String, DataFrame, Map[String, String])]) = {
    val rnd = new scala.util.Random(seed)
    def pick(xs: String*) = xs(rnd.nextInt(xs.size))
    def row() = (pick("Jo Do", "jo  do", "Al Bo", "Cy Ek", "x@y.com", "", "nan", "n/a"),
      pick("jo@x.com", "al@x.com", "x@y.com", "cy@x.com", "", "nan", "N/A"),
      pick("5551234567", "555-123-4567", "111", "9998887777", "", "nan"),
      pick("Oslo", "Rome", "", "nan"))
    def keyed(df: DataFrame) =
      Fill.withMatchKeys(df, col("name"), col("email"), col("phone"))
    val m = keyed((1L to 30L).map { i => val (n, e, p, t) = row(); (i, n, e, p, t) }
      .toDF("row_id", "name", "email", "phone", "town"))
    def src(n: Int) = {
      val order = rnd.shuffle((1L to n.toLong).toList)
      keyed(order.map { o => val (a, e, p, t) = row(); (o, a, e, p, t) }
        .toDF("src_order", "name", "email", "phone", "town"))
    }
    (m, Seq(
      ("a.tsv", src(20), Map("email" -> "email")),
      ("b.tsv", src(25), Map("phone" -> "phone", "email" -> "email", "town" -> "town")),
      ("c.tsv", src(15), Map("town" -> "town", "phone" -> "phone"))))
  }

  private val fillSeeds = Seq(1, 2, 3, 4, 5, 6)

  /** The reference's multi-source fill: the filled master, and the log
    * ordered by (source position, row_id, field position in the source's
    * field map). */
  private def referenceFills(master: DataFrame,
      sources: Seq[(String, DataFrame, Map[String, String])])
      : (DataFrame, Seq[Row]) = {
    var current = master
    val log = sources.zipWithIndex.flatMap { case ((name, src, fm), i) =>
      val (filled, log) = referenceFill(current, src, fm, name)
      current = filled.localCheckpoint(eager = true)
      log.collect().toSeq.map(r =>
        ((i, r.getLong(0), fm.keys.toSeq.indexOf(r.getString(1))), r))
    }.sortBy(_._1).map(_._2)
    (current, log)
  }

  test("fill == the three-join reference: filled, change log and log order") {
    // the fixtures hold 1-, 2- and 3-key pairs, many-to-one and
    // one-to-many verified matches, and a name key equal to an email key
    def hit(k: String) = when(Cleaning.isPresent(col(s"m.$k")) &&
      Cleaning.isPresent(col(s"s.$k")) && col(s"m.$k") === col(s"s.$k"), 1).otherwise(0)
    val pairs = fillSeeds.flatMap { seed =>
      val (m, sources) = fillFixture(seed)
      sources.flatMap { case (name, s, _) =>
        m.as("m").crossJoin(s.as("s"))
          .select(col("m.row_id"), col("s.src_order"),
            hit("_name") + hit("_email") + hit("_phone"),
            Cleaning.isPresent(col("m._name")) && col("m._name") === col("s._email"))
          .collect().map(r => (seed, name, r.getLong(0), r.getLong(1), r.getInt(2),
            r.getBoolean(3)))
      }
    }
    assert(Set(1, 2, 3).subsetOf(pairs.map(_._5).toSet))
    val verified = pairs.filter(_._5 >= 2)
    assert(verified.groupBy(p => (p._1, p._2, p._3)).exists(_._2.size >= 2),
      "no master row with two verified source rows")
    assert(verified.groupBy(p => (p._1, p._2, p._4)).exists(_._2.size >= 2),
      "no source row verified against two master rows")
    assert(pairs.exists(_._6), "no name key equal to an email key")
    for (seed <- fillSeeds) {
      val (m, sources) = fillFixture(seed)
      for ((name, s, fm) <- sources) {
        val r = Fill.fillFromSource(m, s, fm, name)
        val (refFilled, refLog) = referenceFill(m, s, fm, name)
        for ((got, want, what) <- Seq((r.filled, refFilled, "filled"),
            (r.changeLog, refLog, "changeLog"))) {
          assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
            s"seed $seed, $name: $what differs from the reference")
        }
      }
      val r = Fill.fillFromSources(m, sources)
      val (refFilled, refLog) = referenceFills(m, sources)
      assert(r.filled.exceptAll(refFilled).isEmpty &&
        refFilled.exceptAll(r.filled).isEmpty, s"seed $seed: filled differs")
      // the order any correct fill keeps: sources in input order, each
      // row's fields in field-map order (the row order within a source is
      // pinned by the (source, row_id, field) test below)
      val got = r.changeLog.collect().toSeq
      val srcPos = sources.map(_._1).zipWithIndex.toMap
      val gotPos = got.map(e => srcPos(e.getString(4)))
      assert(gotPos == gotPos.sorted, s"seed $seed: sources out of order")
      assert(got.sortBy(e => (srcPos(e.getString(4)), e.getLong(0))) == refLog,
        s"seed $seed: change log differs in content or field order")
      Pins.flush()
    }
  }

  test("fill plan: one candidate join, no dedup pass, log read from the fills pin") {
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
      InMemoryTableScanExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
      CartesianProductExec}
    val (m, sources) = fillFixture(1)
    val (name, s, fm) = sources(1)
    val r = Fill.fillFromSource(m, s, fm, name)
    // the whole fill, the pinned `fills` frame spelled out (no cache
    // substitution): the candidate join and the left join, both equi-joins
    val whole = spark.sessionState.optimizer.execute(r.filled.queryExecution.analyzed)
    val joins = whole.collect { case j: Join => j }
    assert(joins.size == 2 && joins.forall(j => ExtractEquiJoinKeys.unapply(j).isDefined),
      s"expected 2 equi-joins:\n$whole")
    assert(whole.collect { case a: Aggregate => a }.isEmpty, s"an Aggregate:\n$whole")
    r.filled.collect()
    def physical(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
      case q: QueryStageExec => physical(q.plan)
      case t: InMemoryTableScanExec => t +: physical(t.relation.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(physical)
    }
    val ops = physical(r.filled.queryExecution.executedPlan)
    assert(!ops.exists(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      p.isInstanceOf[CartesianProductExec]), ops.mkString("\n"))
    // the change log is a projection of the pinned frame: no join at all
    val log = r.changeLog.queryExecution.optimizedPlan
    assert(log.collect { case j: Join => j }.isEmpty, s"a join in the log:\n$log")
    assert(log.collect { case i: InMemoryRelation => i }.size == 1, log.toString)
    Pins.flush()
  }

  test("multi-source fill plan: one candidate join for any source count, no checkpoint, one pin") {
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
      InMemoryTableScanExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
      CartesianProductExec}
    val (m, sources) = fillFixture(1)
    Pins.flush()
    for (n <- 1 to sources.size) {
      val pinsBefore = Pins.activeCount
      val r = Fill.fillFromSources(m, sources.take(n))
      assert(Pins.activeCount - pinsBefore == 1, s"$n sources: one pin per fill")
      // the pinned `fills` frame spelled out: the candidate join and the
      // left join, both equi-joins, whatever the source count
      val whole = spark.sessionState.optimizer.execute(r.filled.queryExecution.analyzed)
      val joins = whole.collect { case j: Join => j }
      assert(joins.size == 2 && joins.forall(j => ExtractEquiJoinKeys.unapply(j).isDefined),
        s"$n sources: expected 2 equi-joins:\n$whole")
      assert(whole.collect { case a: Aggregate => a }.isEmpty, s"an Aggregate:\n$whole")
      assert(whole.collect { case l: LogicalRDD => l }.isEmpty, s"a checkpoint:\n$whole")
      val log = r.changeLog.queryExecution.optimizedPlan
      assert(log.collect { case j: Join => j }.isEmpty, s"a join in the log:\n$log")
      assert(log.collect { case i: InMemoryRelation => i }.size == 1, log.toString)
      if (n == sources.size) {
        r.filled.collect()
        def physical(p: SparkPlan): Seq[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
          case q: QueryStageExec => physical(q.plan)
          case t: InMemoryTableScanExec => t +: physical(t.relation.cachedPlan)
          case other => other +: (other.children ++ other.subqueries).flatMap(physical)
        }
        val ops = physical(r.filled.queryExecution.executedPlan)
        assert(!ops.exists(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
          p.isInstanceOf[CartesianProductExec]), ops.mkString("\n"))
      }
      Pins.flush()
    }
  }

  test("fill from zero usable sources: the master, an empty log, an empty audit array") {
    val (m, _) = fillFixture(1)
    val r = Fill.fillFromSources(m, Seq.empty)
    assert(r.filled.exceptAll(m).isEmpty && m.exceptAll(r.filled).isEmpty)
    assert(r.changeLog.isEmpty)
    val out = Files.createTempDirectory("nosources")
    JsonAudit.writeArray(r.changeLog, s"$out/log.json")
    assert(Files.readString(out.resolve("log.json")) == "[]")

    // a sources directory whose every file the F6 guard skips (no usable
    // role) runs as an empty one: same cleaned rows, an empty log
    Files.writeString(out.resolve("master.tsv"),
      "FIRSTNAME\tLASTNAME\tFULLNAME\tEMAIL\tMOBILE\tLAST_UPDATED\n" +
      "Jo\tDo\tJo Do\t\t5551234567\t2020-01-01 00:00:00\n" +
      "Bo\tBi\tBo Bi\tbo@y.com\t5550000000\t2020-06-01 00:00:00\n")
    val empty = Files.createDirectories(out.resolve("empty"))
    val skipped = Files.createDirectories(out.resolve("skipped"))
    Files.writeString(skipped.resolve("notes.tsv"), "colour\tsize\nred\t9\n")
    def run(dir: java.nio.file.Path) = {
      val a = ContactsApp.Artifacts(s"$dir.tsv", s"$dir.log.json", s"$dir.errors.json")
      ContactsApp.run(spark, s"$out/master.tsv", dir.toString, Some(a))
      (Files.readString(java.nio.file.Paths.get(a.cleanedTsv)),
        Files.readString(java.nio.file.Paths.get(a.changeLogJson)))
    }
    val (cleanedEmpty, logEmpty) = run(empty)
    val (cleanedSkipped, logSkipped) = run(skipped)
    assert(logEmpty == "[]" && logSkipped == "[]")
    assert(cleanedSkipped == cleanedEmpty && cleanedEmpty.linesIterator.size == 3)
  }

  test("JsonAudit.writeArray over a sorted frame: no top-k in the plan, rows and bytes as collected") {
    // RDD-backed, like a change log read through a pin: no row bound the
    // optimizer could use to drop a limit
    val df = spark.sparkContext
      .parallelize((1 to 40).map(i => (i % 7, i, if (i % 5 == 0) null else s"v$i")), 3)
      .toDF("k", "i", "s").orderBy(col("k").desc, col("i"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val path = Files.createTempDirectory("audit").resolve("a.json")
    spark.listenerManager.register(listener)
    try JsonAudit.writeArray(df, path.toString)
    finally {
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(!plans.isEmpty && !plans.toArray.exists(_.toString.contains("TakeOrdered")),
      plans.toArray.mkString("\n"))
    val want = df.select(to_json(struct(col("k"), col("i"), col("s")),
        Map("ignoreNullFields" -> "false")))
      .collect().map("  " + _.getString(0)).mkString("[\n", ",\n", "\n]")
    assert(want.contains("\"s\":null"))
    assert(Files.readString(path) == want)
  }

  test("fill: multi-source change log in (source, row_id, field) order at 1 and 5 partitions") {
    val (m, sources) = fillFixture(2)
    val want = referenceFills(m, sources)._2
    assert(want.map(_.getString(4)).distinct.size >= 2 &&
      want.groupBy(e => (e.getString(4), e.getLong(0))).exists(_._2.size >= 2),
      "the fixture logs two sources and a row with two fields")
    for (n <- Seq("1", "5")) SparkTestSession.withConf(
        "spark.sql.shuffle.partitions" -> n) {
      assert(Fill.fillFromSources(m, sources).changeLog.collect().toSeq == want,
        s"order at $n shuffle partitions")
      Pins.flush()
    }
  }

  test("mailchimpFill: 2-key broadcast fill, first source row wins") {
    val m = Seq((1L, "jo do", "", "5551234567"))
      .toDF("row_id", "_name", "email", "mobile")
      .withColumn("_email", Cleaning.normEmail(col("email")))
      .withColumn("_phone", Cleaning.normPhone(col("mobile")))
    val mc = Seq(
      (2L, "jo do", "late@mc.com", ""),
      (1L, "jo do", "early@mc.com", ""))
      .toDF("src_order", "_name", "email", "mobile")
      .withColumn("_email", Cleaning.normEmail(col("email")))
      .withColumn("_phone", Cleaning.normPhone(lit("5551234567")))
    val out = Fill.mailchimpFill(m, mc)
    assert(out.head().getAs[String]("email") == "early@mc.com")
  }

  test("mailchimpFill: no match keeps the original sentinel value, not null") {
    val m = Seq((1L, "no match", "nan", "555"))
      .toDF("row_id", "_name", "email", "mobile")
      .withColumn("_email", Cleaning.normEmail(col("email")))
      .withColumn("_phone", Cleaning.normPhone(col("mobile")))
    val mc = Seq((1L, "someone else", "x@mc.com", "123"))
      .toDF("src_order", "_name", "email", "mobile")
      .withColumn("_email", Cleaning.normEmail(col("email")))
      .withColumn("_phone", Cleaning.normPhone(col("mobile")))
    val r = Fill.mailchimpFill(m, mc).head()
    // the "nan" sentinel survives unchanged (fillFromSource parity) — the
    // old behavior overwrote it with the null from the unmatched left join
    assert(r.getAs[String]("email") == "nan")
  }

  // -------------------------------------------------------------- Validate

  test("validation rules + skip-all-missing (F4/F5)") {
    val df = Seq(
      (1L, "Jo", "Do", "jo@x.com", "5551234567"),   // clean
      (2L, "", "Do", "bad-email", "123"),            // missing first, bad email, bad phone
      (3L, "nan", "nan", "nan", "nan"))              // all missing -> skipped
      .toDF("row_id", "FIRSTNAME", "LASTNAME", "EMAIL", "MOBILE")
    val errs = Validate.errors(df)
    val byRow = errs.groupBy("row_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!byRow.contains(1L))
    assert(byRow(2L) == 3L)
    assert(!byRow.contains(3L))
    assert(Validate.verdict(errs) == (3L, false)) // invalid email is critical
    val ok = Validate.errors(df.filter(col("row_id") === 1L))
    assert(Validate.verdict(ok) == (0L, true))
  }

  // ------------------------------------------------------------------- Tsv

  test("TSV single-file round-trip preserves data") {
    val dir = Files.createTempDirectory("tsv").toFile
    val path = new java.io.File(dir, "out.tsv").getAbsolutePath
    val df = Seq((1L, "plain", "with\ttab?"), (2L, "quote\"d", "ok"))
      .toDF("id", "a", "b")
    Tsv.write(df, path, singleFile = true)
    assert(new java.io.File(path).isFile)
    val back = Tsv.read(spark, path).orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getAs[String]("b") == "with\ttab?")
    assert(back(1).getAs[String]("a") == "quote\"d")
  }

  test("CSV fidelity on the real reference fixture (SURVEY §7.4.7)") {
    val path = "/root/reference/data_files/2.tsv"
    assume(new java.io.File(path).isFile)
    val df = Tsv.readAllString(spark, path)
    // doubled-quote field """EXO""" must parse to the literal "EXO" (quotes kept)
    val tim = df.filter(col("Email Address") === "timothyadams76@gmail.com").head()
    assert(tim.getAs[String]("TAGS") == "\"EXO\"", s"got: ${tim.getAs[String]("TAGS")}")
    // leading-apostrophe numerics stay verbatim strings in all-string mode
    assert(tim.getAs[String]("LATITUDE") == "'-27.4500000")
    // 1,240 physical lines but 1,223 logical rows: quoted notes fields span
    // lines; pandas (the reference reader) honors them -> multiLine parity
    assert(df.count() == 1223)
  }

  // ------------------------------------------------------------------ Jdbc

  test("JDBC staging round-trip (embedded Derby) with pushdown read") {
    val url = s"jdbc:derby:memory:graftdb;create=true"
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "val")
    Jdbc.write(df, url, "staged")
    val back = Jdbc.read(spark, url, "staged").filter(col("val") > 15.0)
    assert(back.count() == 2)
    val part = Jdbc.readPartitioned(spark, url, "staged", "id", 1L, 3L, 2)
    assert(part.rdd.getNumPartitions == 2)
    assert(part.count() == 3)
  }

  // -------------------------------------------------------------- Pipeline

  /** The end-to-end test's master (three rows, two of them one contact once
    * filled) and its one source. */
  private def e2eInputs: (DataFrame, Seq[(String, DataFrame, Map[String, String])]) = {
    val m = Seq(
      ("Jo", "Do", "jo do", "", "5551234567", "2020-01-01 00:00:00", "y"),
      ("JO", "DO", "jo do", "jo@x.com", "5551234567", "2021-01-01 00:00:00", "Y"),
      ("Bo", "Bi", "bo bi", "bo@y.com", "5550000000", "2020-06-01 00:00:00", "n"))
      .toDF("FIRSTNAME", "LASTNAME", "FULLNAME", "EMAIL", "MOBILE",
        "LAST_UPDATED", "ISACTIVE")
    val src = Fill.withMatchKeys(
      Seq((1L, "jo do", "jo@x.com", "5551234567"))
        .toDF("src_order", "name", "email", "phone"),
      col("name"), col("email"), col("phone"))
    (Fill.withMatchKeys(m, col("FULLNAME"), col("EMAIL"), col("MOBILE")),
      Seq(("s1", src, Map("EMAIL" -> "email"))))
  }

  private def runE2E(mk: DataFrame,
      srcs: Seq[(String, DataFrame, Map[String, String])]): Pipeline.RunResult =
    Pipeline.run(spark, mk, srcs, orderCols = Seq("FULLNAME", "MOBILE", "EMAIL"))

  test("end-to-end pipeline: fill -> clean -> dedup -> validate") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val (mk, srcs) = e2eInputs
    val sc = spark.sparkContext
    val group = "pipeline-e2e-executions"
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          executions.incrementAndGet()
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    val r = try {
      sc.setJobGroup(group, "Pipeline.run SQL executions", interruptOnCancel = false)
      try runE2E(mk, srcs) finally sc.clearJobGroup()
    } finally {
      org.apache.spark.graft.Listeners.drain(sc)
      sc.removeSparkListener(listener)
    }
    // the golden table's count and the validation aggregate, nothing more
    assert(executions.get == 2, s"Pipeline.run started ${executions.get} SQL executions")
    // both jo rows got email jo@x.com -> dedup key collapses them
    assert(r.cleaned.count() == 2)
    assert(r.stages.map(s => s.name -> s.rows) == Seq("fill" -> 3L, "clean" -> 3L,
      "dedup" -> 2L, "validate" -> r.validationErrors.count()))
    assert(r.passed)
    val jo = r.cleaned.filter(col("EMAIL") === "jo@x.com").head()
    assert(jo.getAs[String]("ISACTIVE") == "Y")
    r.release()
  }

  test("a second run over the same frames, unreleased, observes its own rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val (mk, srcs) = e2eInputs
    // the second run's plans meet the first run's live pins: a count served
    // from them would leave its observations unfilled and block forever
    // (pins are per thread: the runs release in the thread that pinned)
    val (a, b, errors) = Await.result(Future {
      val runs = Seq(runE2E(mk, srcs), runE2E(mk, srcs))
      val Seq(a, b) = runs.map(r => (r.stages.map(_.rows), r.passed))
      val errors = runs.head.validationErrors.count()
      runs.foreach(_.release())
      (a, b, errors)
    }, 2.minutes)
    assert(a == b && a == (Seq(3L, 3L, 2L, errors), true), (a, b))
  }
}
