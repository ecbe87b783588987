package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Structured Streaming: the AvailableNow drain of the events directory must
  * compute exactly the batch rollup (stream/batch equivalence). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streaming hourly rollup == batch rollup (AvailableNow drain)") {
    val dir = "/root/testdata/sf0.001"
    // file-stream sources require a directory: stage the file into one
    val streamDir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    EventStream.drainToMemory(spark, streamDir.toString, "stream_hourly")
    val streamed = spark.table("stream_hourly")
      .orderBy("hour", "event_type").collect().map(_.toSeq).toSeq

    val batch = EventStream.hourlyRollup(
      graft.queries.Tables(spark, dir, "events"))
      .orderBy("hour", "event_type").collect().map(_.toSeq).toSeq

    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-static dimension enrichment == batch join (broadcast, no state)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("events-enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    // static user->segment dimension that misses some users (the left join
    // must keep their events under a null segment, not drop them)
    val dim = spark.range(0, 1000, 3)
      .select(col("id").as("user_id"),
        concat(lit("seg"), col("id") % 4).as("segment"))
    EventStream.drainEnrichedToMemory(spark, streamDir.toString, dim,
      "stream_enriched")
    val streamed = spark.table("stream_enriched")
      .orderBy("hour", "segment").collect().map(_.toSeq).toSeq

    val batch = EventStream.enrichedRollup(
      graft.queries.Tables(spark, dir, "events"), dim)
      .orderBy("hour", "segment").collect().map(_.toSeq).toSeq

    assert(streamed.nonEmpty)
    assert(streamed.exists(_(1) == null), "unmatched users must survive")
    assert(streamed == batch)
  }

  test("streaming incremental dedup flags == batch band join (stream-static)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // the ingest batch: q100's perturbed docs, staged as a stream directory
    val batch = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val streamDir = java.nio.file.Files.createTempDirectory("docs-stream")
    batch.coalesce(1).write.mode("overwrite").parquet(streamDir.toString)

    graft.streaming.DocStream.drainCandidatesToMemory(spark,
      streamDir.toString, docs, "doc_id", "text", "stream_dedup")
    val streamed = spark.table("stream_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the same operator on the same frame in BATCH mode: per-row signatures
    // are a projection, so stream and batch plans compute identical flags
    val batchSide = graft.streaming.DocStream
      .dedupCandidates(batch, docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty && streamed == batchSide)
    // recall: every planted doc must flag its source (j >= 0.8, 16 bands)
    val planted = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.forall(id => streamed.contains((id, id - 10000))),
      "a planted near-dup was not flagged against the index")
  }

  test("streaming incremental dedup survives restarts without re-flagging") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "totally different corpus content here")).toDF("doc_id", "text")
    val in = Files.createTempDirectory("docs-restart-in")
    val out = Files.createTempDirectory("docs-restart-out").toString + "/flags"
    val ckpt = Files.createTempDirectory("docs-restart-ckpt").toString
    def drop(name: String, rows: (Long, String)*): Unit =
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(in.resolve(name).toString)
    // batch 1: one near-dup of index doc 1
    drop("b1", 101L -> "beta gamma delta epsilon zeta")
    graft.streaming.DocStream.flagToParquet(spark,
      in.toString + "/*", index, "doc_id", "text", out, ckpt)
    // batch 2 after a restart: doc 101 REDELIVERED plus a new near-dup of 2
    drop("b2", 101L -> "beta gamma delta epsilon zeta",
      102L -> "one two three four five six")
    graft.streaming.DocStream.flagToParquet(spark,
      in.toString + "/*", index, "doc_id", "text", out, ckpt)
    val flags = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // each pair exactly once: batch 1 not reprocessed, the redelivered doc
    // suppressed by the checkpointed dropDuplicates state
    assert(flags.sorted.toSeq == Seq((101L, 1L), (102L, 2L)), flags.toSeq)
  }

  test("streaming ingest loop over the persisted LSH index: probe + absorb") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Dedup
    // synthetic corpus with derivable near-dups (LshIndexSpec's family)
    val corpus = (0L until 30L).map { i =>
      (i, (0 until 12).map(k => s"w${(i * 7 + k * 3) % 50}").mkString(" "))
    }.toDF("doc_id", "text")
    def dropFirst(df: org.apache.spark.sql.DataFrame, shift: Long) =
      df.select((col("doc_id") + shift).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val b1 = dropFirst(corpus.filter(col("doc_id") % 4 === 0), 1000)
    // b2 near-dups BOTH the corpus (ids 2000+) and b1 (ids 3000+): the
    // second micro-batch must flag against what the first one ABSORBED
    val b2 = dropFirst(corpus.filter(col("doc_id") % 4 === 1), 2000)
      .unionByName(b1.select((col("doc_id") + 2000).as("doc_id"),
        regexp_replace(col("text"), "\\s+\\S+$", "").as("text")))

    val idxPath = Files.createTempDirectory("lsh-stream-idx").toString
    val idx = Dedup.writeLshIndex(corpus, "doc_id", "text", idxPath,
      "lsh_stream_idx", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    val in = Files.createTempDirectory("lsh-stream-in")
    val out = Files.createTempDirectory("lsh-stream-out").toString + "/pairs"
    val ckpt = Files.createTempDirectory("lsh-stream-ckpt").toString
    b1.coalesce(1).write.parquet(in.resolve("b1").toString)
    graft.streaming.DocStream.ingestDedupStream(spark,
      in.toString + "/*", idx, out, ckpt)
    b2.coalesce(1).write.parquet(in.resolve("b2").toString)
    graft.streaming.DocStream.ingestDedupStream(spark,
      in.toString + "/*", idx, out, ckpt)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // expected = probe(idx(corpus), b1) ∪ probe(idx(corpus ∪ b1), b2),
    // both rebuilt from scratch
    val fresh0 = Dedup.writeLshIndex(corpus, "doc_id", "text",
      Files.createTempDirectory("lsh-x0").toString, "lsh_stream_x0",
      shingleSize = 3, numHashes = 64, bands = 16, numBuckets = 4)
    val e1 = Dedup.probeLshIndex(fresh0, b1, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fresh1 = Dedup.writeLshIndex(corpus.unionByName(b1), "doc_id",
      "text", Files.createTempDirectory("lsh-x1").toString,
      "lsh_stream_x1", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    val e2 = Dedup.probeLshIndex(fresh1, b2, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    graft.pipeline.Pins.flush()
    assert(got == (e1 ++ e2).sorted.toSeq)
    // the absorb actually mattered: some b2 pair is against b1's range
    assert(got.exists(p => p._2 >= 3000L && p._1 >= 1000L && p._1 < 2000L),
      s"expected a b2-vs-absorbed-b1 pair: $got")
    // replay safety: both batchIds are marked; a re-absorb is a no-op
    assert(!graft.streaming.DocStream.absorbOnce(idx, b1, 0L))
    assert(!graft.streaming.DocStream.absorbOnce(idx, b2, 1L))
  }

  test("golden upsert stream reads the batch TSV dialect: multi-line and doubled-quote cells") {
    import java.nio.file.Files
    import graft.pipeline.{Clean, GoldenRecord, Tsv}
    import graft.streaming.ContactsStream
    // a quoted cell spanning two lines must stay ONE row (a split row
    // would land its second line as a row whose ROW_ID is the cell's
    // tail), and a doubled quote must unescape as the batch reader does
    val in = Files.createTempDirectory("gold-dialect-in")
    val golden = Files.createTempDirectory("gold-dialect-out").toString + "/golden"
    val ckpt = Files.createTempDirectory("gold-dialect-ckpt").toString
    val drop = in.resolve("drop.tsv")
    Files.writeString(drop, "ROW_ID\tFULLNAME\tEMAIL\tNOTES\n" +
      "1\tann x\tann@x.com\t\"met at the fair\nfollow up in May\"\n" +
      "2\tbob y\tbob@x.com\t\"goes by \"\"Bobby\"\"\"\n" +
      "3\tann x\tann@x.com\tprefers email\n")
    val schema = ContactsStream.schemaOf(spark, drop.toString)
    ContactsStream.goldenUpsertStream(
      spark, in.toString, schema, golden, ckpt, "ROW_ID")
    val got = ContactsStream.currentGolden(spark, golden).get
    val batch = GoldenRecord.dedupe(
      Clean(Tsv.readAllString(spark, drop.toString)), "ROW_ID")
    assert(batch.count() == 2, "ann's two rows merge, bob stands alone")
    assert(got.count() == batch.count()
        && got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streamed golden rows diverged from the batch read of the same file")
  }

  test("streaming dedup drops redelivered events (dropDuplicatesWithinWatermark)") {
    val dir = "/root/testdata/sf0.001"
    // simulate at-least-once upstream delivery: the same file lands twice
    val streamDir = java.nio.file.Files.createTempDirectory("events-dedup")
    for (name <- Seq("a.parquet", "b.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        streamDir.resolve(name))
    EventStream.drainDedupToMemory(spark, streamDir.toString, "stream_dedup")
    val streamed = spark.table("stream_dedup")
      .orderBy("event_id").collect().map(_.toSeq).toSeq

    val batch = graft.queries.Tables(spark, dir, "events")
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id").collect().map(_.toSeq).toSeq

    assert(streamed.nonEmpty)
    assert(streamed == batch) // each event exactly once despite double delivery
  }

  test("streaming session_window sessionization == batch gap sessions") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("events-sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    EventStream.drainSessionsToMemory(spark, streamDir.toString, "stream_sessions")
    val streamed = spark.table("stream_sessions")
      .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq

    val batch = graft.operators.Sessionize.sessionStats(
      graft.queries.Tables(spark, dir, "events"),
      col("user_id"), col("ts"), col("event_id"), col("value"),
      gapSeconds = 1800)
      .select(col("key").as("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start").collect().map(_.toSeq).toSeq

    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream interval join == batch join (purchase attribution)") {
    val dir = "/root/testdata/sf0.001"
    val streamDir = java.nio.file.Files.createTempDirectory("events-attr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    EventStream.drainAttributionToMemory(spark, streamDir.toString,
      "stream_attr")
    val streamed = spark.table("stream_attr")
      .orderBy("purchase_id", "click_id").collect().map(_.toSeq).toSeq

    val batch = EventStream.purchaseAttribution(
      graft.queries.Tables(spark, dir, "events"))
      .orderBy("purchase_id", "click_id").collect().map(_.toSeq).toSeq

    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }
}
