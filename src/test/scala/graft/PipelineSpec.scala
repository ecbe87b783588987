package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
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
          Map("email" -> "email"))), // would need the phone filled by s2
      minMatches = 2)
    val row = r.filled.head()
    assert(row.getAs[String]("phone") == "5551234567")
    // match keys are static (computed before fill), so s3 sees original keys;
    // the change log records the s2 fill
    assert(r.changeLog.count() == 1)
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
    assert(!Validate.passes(errs)) // invalid email is critical
    val ok = Validate.errors(df.filter(col("row_id") === 1L))
    assert(Validate.passes(ok))
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

  test("latestTsv picks newest file by mtime (S5)") {
    val dir = Files.createTempDirectory("latest").toFile
    val a = new java.io.File(dir, "a.tsv"); val b = new java.io.File(dir, "b.tsv")
    Files.writeString(a.toPath, "x\n1")
    Files.writeString(b.toPath, "x\n2")
    a.setLastModified(1000000L); b.setLastModified(2000000L)
    assert(Tsv.latestTsv(dir.getAbsolutePath).map(new java.io.File(_).getName)
      .contains("b.tsv"))
    assert(Tsv.latestTsv(Files.createTempDirectory("empty").toString).isEmpty)
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

  test("end-to-end pipeline: fill -> clean -> dedup -> validate") {
    val m = Seq(
      ("Jo", "Do", "jo do", "", "5551234567", "2020-01-01 00:00:00", "y"),
      ("JO", "DO", "jo do", "jo@x.com", "5551234567", "2021-01-01 00:00:00", "Y"),
      ("Bo", "Bi", "bo bi", "bo@y.com", "5550000000", "2020-06-01 00:00:00", "n"))
      .toDF("FIRSTNAME", "LASTNAME", "FULLNAME", "EMAIL", "MOBILE",
        "LAST_UPDATED", "ISACTIVE")
    val mk = Fill.withMatchKeys(m, col("FULLNAME"), col("EMAIL"), col("MOBILE"))
    val src = Fill.withMatchKeys(
      Seq((1L, "jo do", "jo@x.com", "5551234567"))
        .toDF("src_order", "name", "email", "phone"),
      col("name"), col("email"), col("phone"))
    val r = Pipeline.run(spark, mk,
      Seq(("s1", src, Map("EMAIL" -> "email"))),
      orderCols = Seq("FULLNAME", "MOBILE", "EMAIL"))
    // both jo rows got email jo@x.com -> dedup key collapses them
    assert(r.cleaned.count() == 2)
    assert(r.stages.map(_.name) == Seq("fill", "clean", "dedup", "validate"))
    assert(r.passed)
    val jo = r.cleaned.filter(col("EMAIL") === "jo@x.com").head()
    assert(jo.getAs[String]("ISACTIVE") == "Y")
  }
}
