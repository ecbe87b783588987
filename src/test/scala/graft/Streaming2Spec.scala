package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StatefulTotals
import graft.streaming.StatefulTotals.{Event, UserTotal}

object Streaming2Spec {
  /** events-shaped row for MemoryStream-driven join tests. */
  case class PE(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
}

/** mapGroupsWithState custom state: totals must accumulate ACROSS
  * micro-batches (state survives), driven by a MemoryStream. */
class Streaming2Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("mapGroupsWithState running totals accumulate across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StatefulTotals.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("totals")
      .outputMode(StatefulTotals.RequiredOutputMode)
      .start()
    try {
      input.addData(Event(1L, 10.0), Event(1L, 5.0), Event(2L, 1.0))
      q.processAllAvailable()
      input.addData(Event(1L, 2.0), Event(3L, 7.0))
      q.processAllAvailable()
      // Update mode appends one row per updated key per batch; the row with
      // the highest count per user carries the accumulated state
      val last = spark.table("totals").as[UserTotal].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n) }
      assert(last(1L).n == 3 && last(1L).total == 17.0)
      assert(last(2L).n == 1 && last(2L).total == 1.0)
      assert(last(3L).n == 1 && last(3L).total == 7.0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits closed sessions after watermark + gap") {
    import graft.streaming.SessionEmitter
    import graft.streaming.SessionEmitter.{ClosedSession, Ev}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[Ev]
    val q = SessionEmitter.closedSessions(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
        Ev(1L, ts("2024-01-01 10:10:00"), 2.0),
        Ev(2L, ts("2024-01-01 10:05:00"), 5.0))
      q.processAllAvailable()
      assert(spark.table("closed_sessions").isEmpty) // nothing closed yet
      // far-future event advances the watermark past both sessions' gaps
      input.addData(Ev(3L, ts("2024-01-01 14:00:00"), 0.0))
      q.processAllAvailable()
      input.addData(Ev(3L, ts("2024-01-01 14:00:01"), 0.0))
      q.processAllAvailable() // extra batch lets timeouts fire post-watermark
      val closed = spark.table("closed_sessions").as[ClosedSession]
        .collect().map(c => c.user_id -> ((c.n_events, c.total_value))).toMap
      assert(closed(1L) == ((2L, 3.0)), s"user1: $closed")
      assert(closed(2L) == ((1L, 5.0)), s"user2: $closed")
      assert(!closed.contains(3L)) // still open
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER attribution: null row only after watermark eviction") {
    import graft.streaming.EventStream
    import Streaming2Spec.PE
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[PE]
    val q = EventStream.purchaseAttributionOuter(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("attr_outer")
      .outputMode("append").start()
    try {
      // P1: purchase with NO qualifying click; P2: purchase with a click
      // 5 minutes before it (inside the 10-minute lookback)
      input.addData(
        PE(1L, ts("2024-01-01 10:00:00"), 1L, "purchase", 9.0),
        PE(2L, ts("2024-01-01 10:00:00"), 2L, "purchase", 5.0),
        PE(3L, ts("2024-01-01 09:55:00"), 2L, "click", 0.0))
      q.processAllAvailable()
      val matched = spark.table("attr_outer").collect()
      assert(matched.map(_.getLong(0)).toSeq == Seq(2L),
        s"only the matched purchase may emit before the watermark: ${matched.toSeq}")
      assert(matched.head.getLong(2) == 3L && matched.head.getLong(3) == 300L)

      // far-future rows on BOTH sides advance the global watermark (each
      // side's watermark is computed after its event_type filter, so both
      // a purchase and a click are needed) past P1's lookback horizon:
      // only then may the state store evict P1 and emit its null-click row
      input.addData(
        PE(100L, ts("2024-01-01 14:00:00"), 50L, "purchase", 1.0),
        PE(101L, ts("2024-01-01 14:00:00"), 60L, "click", 0.0))
      q.processAllAvailable()
      input.addData(
        PE(102L, ts("2024-01-01 14:00:01"), 70L, "purchase", 1.0),
        PE(103L, ts("2024-01-01 14:00:01"), 80L, "click", 0.0))
      q.processAllAvailable() // extra batch lets the eviction fire

      val rows = spark.table("attr_outer").collect()
        .map(r => r.getLong(0) -> Option(r.get(2))).toMap
      assert(rows(1L).isEmpty, s"P1 must emit with a null click after eviction: $rows")
      assert(rows(2L).contains(3L))
      // the far-future purchases are still inside the watermark -> held
      assert(!rows.contains(100L) && !rows.contains(102L), s"$rows")
    } finally q.stop()
  }

  test("foreachBatch contacts ingest cleans micro-batches like the batch stage") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("ingest-in")
    val out = Files.createTempDirectory("ingest-out").toString + "/staged"
    val ckpt = Files.createTempDirectory("ingest-ckpt").toString
    val tsv = "FIRSTNAME\tEMAIL\tISACTIVE\n" +
      "  jo  \tJO@X.COM junk\ty\n" +
      "bo\tnot-an-email\tn\n"
    Files.writeString(in.resolve("batch1.tsv"), tsv)

    val schema = graft.streaming.ContactsStream.schemaOf(
      spark, in.resolve("batch1.tsv").toString)
    graft.streaming.ContactsStream.cleanIngest(
      spark, in.toString, schema, out, ckpt)

    val staged = spark.read.parquet(out)
      .orderBy("FIRSTNAME").collect()
    assert(staged.length == 2)
    // Clean applied: title-cased name, validated+normalized email, Y/N flag
    assert(staged(1).getAs[String]("FIRSTNAME") == "Jo")
    assert(staged(1).getAs[String]("EMAIL") == "jo@x.com junk")
    assert(staged(1).getAs[String]("ISACTIVE") == "Y")
    assert(staged(0).getAs[String]("EMAIL") == null) // invalid -> null
    assert(staged(0).getAs[String]("ISACTIVE") == "N")
  }

  test("incremental landings across restarts == one-shot batch clean") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("land-in")
    val out = Files.createTempDirectory("land-out").toString + "/staged"
    val ckpt = Files.createTempDirectory("land-ckpt").toString
    val header = "FIRSTNAME\tEMAIL\tISACTIVE\n"
    Files.writeString(in.resolve("day1.tsv"),
      header + "ann\tann@x.com\tyes\nbob\tbob@x.com\t0\n")

    val schema = graft.streaming.ContactsStream.schemaOf(
      spark, in.resolve("day1.tsv").toString)
    graft.streaming.ContactsStream.cleanIngest(
      spark, in.toString, schema, out, ckpt)

    // a later drop + a RESTARTED ingest with the same checkpoint: the file
    // source must process ONLY the new file (no day1 reprocessing, no dupes)
    Files.writeString(in.resolve("day2.tsv"),
      header + "ann maria\tann@x.com\tyes\ncid\t\t1\n")
    graft.streaming.ContactsStream.cleanIngest(
      spark, in.toString, schema, out, ckpt)

    val staged = spark.read.parquet(out)
      .select("FIRSTNAME", "EMAIL", "ISACTIVE")
    assert(staged.count() == 4, "each row lands exactly once across restarts")

    // the landed table equals the one-shot batch clean over both files —
    // the compaction input is identical, so every downstream golden merge
    // (PipelineSpec's upsert==full-re-dedupe) carries over unchanged
    val batch = Seq("day1.tsv", "day2.tsv")
      .map(f => graft.pipeline.Clean(
        graft.pipeline.Tsv.readAllString(spark, in.resolve(f).toString)))
      .reduce(_ unionByName _)
      .select("FIRSTNAME", "EMAIL", "ISACTIVE")
    assert(staged.exceptAll(batch).isEmpty && batch.exceptAll(staged).isEmpty)
  }

  test("streaming golden-record upsert across restarts == one-shot batch dedupe") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("gold-in")
    val golden = Files.createTempDirectory("gold-out").toString + "/golden"
    val ckpt = Files.createTempDirectory("gold-ckpt").toString
    val header = "ROW_ID\tFULLNAME\tEMAIL\tMOBILE\n"
    Files.writeString(in.resolve("day1.tsv"),
      header + "1\tann x\tann@x.com\t\n2\tbob y\tbob@x.com\t5551112222\n")

    val schema = graft.streaming.ContactsStream.schemaOf(
      spark, in.resolve("day1.tsv").toString)
    graft.streaming.ContactsStream.goldenUpsertStream(
      spark, in.toString, schema, golden, ckpt, "ROW_ID")

    // day-2 drop + a RESTARTED stream on the same checkpoint: row 3 shares
    // ann's dedup key (same email) and must re-merge ONLY that group,
    // filling her missing mobile; bob's golden row passes through untouched
    Files.writeString(in.resolve("day2.tsv"),
      header + "3\tann x\tann@x.com\t5559998888\n4\tcid z\t\t\n")
    graft.streaming.ContactsStream.goldenUpsertStream(
      spark, in.toString, schema, golden, ckpt, "ROW_ID")

    val got = graft.streaming.ContactsStream.currentGolden(spark, golden).get
    assert(got.count() == 3, "ann merged, bob untouched, cid new")
    // ann's merged row carries the day-2 mobile (her day-1 row had none)
    assert(got.filter(org.apache.spark.sql.functions.col("EMAIL")
        === "ann@x.com")
      .select("MOBILE").collect().head.getString(0) == "5559998888")
    // the streaming path must equal the one-shot batch golden merge over
    // ALL cleaned rows — the §2.10 stream==batch proof for the upsert
    val batchAll = graft.pipeline.GoldenRecord.dedupe(
      Seq("day1.tsv", "day2.tsv").map(f => graft.pipeline.Clean(
          graft.pipeline.Tsv.readAllString(spark, in.resolve(f).toString)))
        .reduce(_ unionByName _), "ROW_ID")
    assert(got.exceptAll(batchAll).isEmpty
        && batchAll.exceptAll(got).isEmpty,
      "streaming upsert diverged from the one-shot batch dedupe")
    // two committed snapshots, and the day-1 snapshot is still readable
    // (time travel) with bob-and-ann only
    assert(graft.streaming.ContactsStream
      .latestVersionBefore(spark, golden, Long.MaxValue).nonEmpty)
    // commit-marker filter: a crash-torn snapshot directory (v=99 with no
    // _SUCCESS) must never resolve as the latest golden state
    val torn = new java.io.File(golden, "v=99")
    torn.mkdirs()
    try {
      Files.writeString(torn.toPath.resolve("part-zzz.parquet"), "torn")
      assert(graft.streaming.ContactsStream
        .latestVersionBefore(spark, golden, Long.MaxValue).get < 99,
        "uncommitted snapshot (no _SUCCESS) resolved as latest")
    } finally {
      new java.io.File(torn, "part-zzz.parquet").delete()
      torn.delete()
    }
  }

  test("golden upsert under file-source backpressure: bounded batches, same result") {
    import java.nio.file.Files
    // maxFilesPerTrigger=1 forces a 4-file backlog through FOUR bounded
    // micro-batches instead of one unbounded drain — the 100-TB ingest
    // posture (a giant directory drop must not balloon one batch's merge).
    // Proof: one committed snapshot per batch, and the final golden equals
    // the one-shot batch dedupe over everything.
    val in = Files.createTempDirectory("bp-in")
    val golden = Files.createTempDirectory("bp-out").toString + "/golden"
    val ckpt = Files.createTempDirectory("bp-ckpt").toString
    val header = "ROW_ID\tFULLNAME\tEMAIL\tMOBILE\n"
    val days = Seq(
      "1\tann x\tann@x.com\t\n2\tbob y\tbob@x.com\t5551112222\n",
      "3\tann x\tann@x.com\t5559998888\n",
      "4\tcid z\tcid@x.com\t\n",
      "5\tbob y\tbob@x.com\t\n6\tdee w\t\t5550001111\n")
    days.zipWithIndex.foreach { case (body, i) =>
      Files.writeString(in.resolve(s"day$i.tsv"), header + body)
    }
    val schema = graft.streaming.ContactsStream.schemaOf(
      spark, in.resolve("day0.tsv").toString)
    graft.streaming.ContactsStream.goldenUpsertStream(
      spark, in.toString, schema, golden, ckpt, "ROW_ID",
      maxFilesPerTrigger = Some(1))
    // one committed (_SUCCESS-marked) snapshot per bounded batch
    val versions = Option(new java.io.File(golden).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v=")
        && new java.io.File(f, "_SUCCESS").isFile)
    assert(versions.length == days.length,
      s"expected ${days.length} bounded batches, got ${versions.length}")
    val got = graft.streaming.ContactsStream.currentGolden(spark, golden).get
    val batchAll = graft.pipeline.GoldenRecord.dedupe(
      days.indices.map(i => graft.pipeline.Clean(
          graft.pipeline.Tsv.readAllString(spark,
            in.resolve(s"day$i.tsv").toString)))
        .reduce(_ unionByName _), "ROW_ID")
    assert(got.exceptAll(batchAll).isEmpty
        && batchAll.exceptAll(got).isEmpty,
      "backpressured streaming upsert diverged from one-shot batch dedupe")
  }

  test("snapshot retention: prune keeps the replay anchor; restart resolves post-compaction") {
    import java.nio.file.Files
    import graft.streaming.ContactsStream
    val in = Files.createTempDirectory("ret-in")
    val golden = Files.createTempDirectory("ret-out").toString + "/golden"
    val ckpt = Files.createTempDirectory("ret-ckpt").toString
    val header = "ROW_ID\tFULLNAME\tEMAIL\tMOBILE\n"
    val days = Seq(
      "1\tann x\tann@x.com\t\n",
      "2\tbob y\tbob@x.com\t5551112222\n",
      "3\tann x\tann@x.com\t5559998888\n",
      "4\tcid z\tcid@x.com\t\n")
    days.zipWithIndex.foreach { case (body, i) =>
      Files.writeString(in.resolve(s"day$i.tsv"), header + body)
    }
    val schema = ContactsStream.schemaOf(
      spark, in.resolve("day0.tsv").toString)
    ContactsStream.goldenUpsertStream(spark, in.toString, schema, golden,
      ckpt, "ROW_ID", maxFilesPerTrigger = Some(1))

    intercept[IllegalArgumentException] {
      ContactsStream.pruneSnapshots(spark, golden, keepLast = 1)
    }
    val pruned = ContactsStream.pruneSnapshots(spark, golden, keepLast = 2)
    assert(pruned == Seq(0L, 1L), s"expected v=0,v=1 pruned, got $pruned")
    assert(!new java.io.File(golden, "v=0").exists())
    assert(ContactsStream.pruneSnapshots(spark, golden, 2).isEmpty,
      "a second prune at the same bound must be a no-op")
    // the latest committed snapshot still resolves after compaction
    assert(ContactsStream
      .latestVersionBefore(spark, golden, Long.MaxValue).contains(3L))

    // RESTART after compaction: the next batch resolves the kept latest
    // snapshot (not an empty frame) and the merged result still equals the
    // one-shot batch dedupe over everything ever ingested
    Files.writeString(in.resolve("day4.tsv"),
      header + "5\tbob y\tbob@x.com\t\n6\tdee w\t\t5550001111\n")
    ContactsStream.goldenUpsertStream(spark, in.toString, schema, golden,
      ckpt, "ROW_ID")
    val got = ContactsStream.currentGolden(spark, golden).get
    val batchAll = graft.pipeline.GoldenRecord.dedupe(
      (days.indices :+ 4).map(i => graft.pipeline.Clean(
          graft.pipeline.Tsv.readAllString(spark,
            in.resolve(s"day$i.tsv").toString)))
        .reduce(_ unionByName _), "ROW_ID")
    assert(got.exceptAll(batchAll).isEmpty && batchAll.exceptAll(got).isEmpty,
      "post-compaction restart diverged from the one-shot batch dedupe")
  }

  test("golden upsert raises, naming the column, on a snapshot that lacks one") {
    import java.nio.file.Files
    import graft.streaming.ContactsStream
    val in = Files.createTempDirectory("guard-in")
    val golden = Files.createTempDirectory("guard-out").toString + "/golden"
    val ckpt = Files.createTempDirectory("guard-ckpt").toString
    val header = "ROW_ID\tFULLNAME\tEMAIL\tMOBILE\n"
    Files.writeString(in.resolve("day0.tsv"),
      header + "1\tann x\tann@x.com\t5551112222\n")
    val schema = ContactsStream.schemaOf(spark, in.resolve("day0.tsv").toString)
    ContactsStream.goldenUpsertStream(spark, in.toString, schema, golden,
      ckpt, "ROW_ID")
    // replace the committed v=0 by a committed snapshot without MOBILE
    val v0 = new java.io.File(golden, "v=0")
    val stripped = Files.createTempDirectory("guard-v0").resolve("v0").toFile
    spark.read.parquet(v0.toString).drop("MOBILE").write.parquet(stripped.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(v0)
    assert(stripped.renameTo(v0))
    Files.writeString(v0.toPath.resolve(ContactsStream.CommitMarker), "")

    Files.writeString(in.resolve("day1.tsv"),
      header + "2\tbob y\tbob@x.com\t5553334444\n")
    val e = intercept[Exception] {
      ContactsStream.goldenUpsertStream(spark, in.toString, schema, golden,
        ckpt, "ROW_ID")
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("MOBILE"), messages)
    assert(!new java.io.File(golden, "v=1").exists(),
      "the drain wrote a snapshot over a mismatched predecessor")
  }

  test("a golden upsert micro-batch over an existing snapshot runs 2 Spark jobs") {
    import java.nio.file.Files
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.streaming.ContactsStream
    val in = Files.createTempDirectory("jobs-in")
    val golden = Files.createTempDirectory("jobs-out").toString + "/golden"
    val ckpt = Files.createTempDirectory("jobs-ckpt").toString
    val header = "ROW_ID\tFULLNAME\tEMAIL\tMOBILE\n"
    Files.writeString(in.resolve("day0.tsv"), header +
      "1\tann x\tann@x.com\t\n2\tbob y\tbob@x.com\t5551112222\n")
    val schema = ContactsStream.schemaOf(spark, in.resolve("day0.tsv").toString)
    ContactsStream.goldenUpsertStream(spark, in.toString, schema, golden,
      ckpt, "ROW_ID")

    Files.writeString(in.resolve("day1.tsv"), header +
      "3\tann x\tann@x.com\t5559998888\n4\tcid z\t\t5550001111\n")
    // a stream runs its micro-batches under its run id as the job group
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = ContactsStream.goldenUpsertStream(spark, in.toString, schema,
        golden, ckpt, "ROW_ID")
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    val jobs = groups.toArray.count(_ == q.runId.toString)
    assert(jobs == 2, s"one drain launched $jobs jobs; want the merge's " +
      "map stage and its result/write stage")
  }

  test("latestVersionBefore raises on marker-less snapshots; None only when empty") {
    import java.nio.file.Files
    import graft.streaming.ContactsStream
    val golden = Files.createTempDirectory("raise-out").toString + "/golden"
    // truly missing dir -> None (the legitimate first-batch state)
    assert(ContactsStream
      .latestVersionBefore(spark, golden, Long.MaxValue).isEmpty)
    // v=* dirs exist but NONE carries a commit marker: the markers-off
    // (or foreign-directory) regime — must raise, never silently resolve
    // an empty golden state over existing snapshots
    val torn = new java.io.File(golden, "v=0")
    torn.mkdirs()
    Files.writeString(torn.toPath.resolve("part-abc.parquet"), "data")
    val e = intercept[IllegalStateException] {
      ContactsStream.latestVersionBefore(spark, golden, Long.MaxValue)
    }
    assert(e.getMessage.contains("commit marker"))
    // the stream's own sentinel commits it (no _SUCCESS needed)
    Files.writeString(
      torn.toPath.resolve(ContactsStream.CommitMarker), "")
    assert(ContactsStream
      .latestVersionBefore(spark, golden, Long.MaxValue).contains(0L))
    // non-numeric v=* junk (a partial rename, a v=tmp scratch dir) must be
    // IGNORED, not NumberFormatException the micro-batch — in resolution
    // AND in retention
    new java.io.File(golden, "v=tmp").mkdirs()
    assert(ContactsStream
      .latestVersionBefore(spark, golden, Long.MaxValue).contains(0L))
    assert(ContactsStream.pruneSnapshots(spark, golden, 2).isEmpty)
  }

  test("streaming CMS + Bloom sketches == batch sketches across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, xxhash64}
    implicit val sqlCtx = spark.sqlContext
    // complete-mode global aggregate: the sketch state must merge across
    // micro-batches exactly as partial aggregation merges across partitions
    val input = MemoryStream[String]
    val q = input.toDS().toDF("k")
      .agg(graft.expressions.CountMin.agg(col("k"), 256, 4).as("m"),
        graft.expressions.Bloom.agg(xxhash64(col("k")), 1 << 12, 5).as("b"),
        graft.expressions.Kmv.column(
          graft.functions.Text.md5Long(col("k")), 8).as("kv"))
      .writeStream.format("memory").queryName("sketches")
      .outputMode("complete").start()
    try {
      val batch1 = (1 to 40).map(i => s"tok${i % 9}")
      val batch2 = (1 to 25).map(i => s"tok${i % 5}") :+ "rare"
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // complete mode: the memory sink holds exactly the latest result row
      val got = spark.table("sketches").collect().head
      val want = (batch1 ++ batch2).toDF("k")
        .agg(graft.expressions.CountMin.agg(col("k"), 256, 4).as("m"),
          graft.expressions.Bloom.agg(xxhash64(col("k")), 1 << 12, 5).as("b"),
          graft.expressions.Kmv.column(
            graft.functions.Text.md5Long(col("k")), 8).as("kv"))
        .head()
      assert(got.getSeq[Long](0) == want.getSeq[Long](0),
        "CMS matrix diverged from batch")
      assert(got.getSeq[Long](1) == want.getSeq[Long](1),
        "Bloom words diverged from batch")
      assert(got.getSeq[Long](2) == want.getSeq[Long](2),
        "KMV sketch diverged from batch")
    } finally q.stop()
  }

  test("streaming NB scoring == batch nbTrainScore on every rounded score") {
    import graft.streaming.ClassifyStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val train = Seq(("p1", "good good fine", "good"),
      ("p2", "good fine", "good"), ("n1", "bad bad awful", "junk"),
      ("n2", "bad", "junk")).toDF("id", "text", "label")
    val docs = Seq((1L, "good bad"), (2L, "good good fine"),
      (3L, "zombie unseen tokens"), (4L, "  "))
    val m = ClassifyStream.trainModel(train, "text", "label", "good", "junk")
    val input = MemoryStream[(Long, String)]
    val q = ClassifyStream.scoreDocs(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", m)
      .writeStream.format("memory").queryName("nbscores")
      .start()  // append mode: the scoring plan must be stateless
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("nbscores").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).sortBy(_._1).toSeq
      val want = graft.operators.Classify.nbTrainScore(train,
          docs.toDF("doc_id", "text"), "doc_id", "text", "label",
          "good", "junk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getString(3))).sortBy(_._1).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming NB trainModel rejects single-class training") {
    import graft.streaming.ClassifyStream
    import spark.implicits._
    val train = Seq(("p1", "good", "good")).toDF("id", "text", "label")
    val e = intercept[IllegalArgumentException] {
      ClassifyStream.trainModel(train, "text", "label", "good", "junk")
    }
    assert(e.getMessage.contains("both classes"))
  }

  test("streaming PSI over windows == batch Drift.psi; shift alarms") {
    import graft.streaming.DriftStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 10:${m % 30}%02d:00")
    val baseDf = (for (k <- Seq("a", "b"); i <- 1 to 50)
      yield (k, (i % 20).toDouble)).toDF("k", "v")
    val base = DriftStream.psiBaseline(baseDf, "k", "v", bins = 10)
    // current: 'a' unshifted, 'b' location-shifted +15
    val cur = for (k <- Seq("a", "b"); i <- 1 to 50)
      yield (k, ts(i), (i % 20).toDouble
        + (if (k == "b") 15.0 else 0.0))
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val q = DriftStream.psiOverWindows(
        input.toDS().toDF("k", "ts", "v"), "k", "ts", "v", base,
        "1 hour")
      .writeStream.format("memory").queryName("psidrift")
      .outputMode("complete").start()
    try {
      input.addData(cur.take(40): _*)
      q.processAllAvailable()
      input.addData(cur.drop(40): _*)
      q.processAllAvailable()
      val got = spark.table("psidrift").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3),
          r.getBoolean(4))).sortBy(_._1).toSeq
      assert(got.map(_._1) == Seq("a", "b"))
      assert(got.forall(_._2 == 50L)) // both windows saw all 50 rows
      // batch twin: Drift.psi on the same baseline/current rows (it
      // rounds per-bin contribs before summing; the stream rounds the
      // fold once — equal to a couple of ulps at the 6th decimal)
      val want = graft.operators.Drift.psi(baseDf,
          cur.map(c => (c._1, c._3)).toDF("k", "v"), "k", "v", 10)
        .groupBy("k").agg(org.apache.spark.sql.functions.max("psi")
          .as("psi"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      got.foreach { case (k, _, psi, _) =>
        assert(math.abs(psi - want(k)) <= 2e-5,
          s"stream psi $psi != batch ${want(k)} for $k")
      }
      val alarms = got.map(g => g._1 -> g._4).toMap
      assert(!alarms("a") && alarms("b"))
    } finally q.stop()
  }
}
