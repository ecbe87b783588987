package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.pipeline.Pins

/** Persisted LSH index (Dedup.writeLshIndex / readLshIndex /
  * probeLshIndex): output equivalence with the inline incremental path,
  * cross-session catalog re-registration from meta.json, and the plan
  * contract — the probe join's index side scans the bucketed table with
  * NO exchange (only the batch shuffles). */
class LshIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ~30 corpus docs, 8 of them with a near-dup variant in the batch (drop
  // the first word of 12 -> high Jaccard on 3-shingles), batch ids +1000
  private def corpus = (0L until 30L).map { i =>
    (i, (0 until 12).map(k => s"w${(i * 7 + k * 3) % 50}").mkString(" "))
  }.toDF("doc_id", "text")

  private def batch = corpus.filter(col("doc_id") % 4 === 0)
    .select((col("doc_id") + 1000).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))

  private def tmp() =
    java.nio.file.Files.createTempDirectory("lshidx").toString

  test("probe over the persisted index == inline incrementalLshPairs") {
    val path = tmp()
    val idx = Dedup.writeLshIndex(corpus, "doc_id", "text", path,
      "lshspec_eq", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    val viaIndex = Dedup.probeLshIndex(idx, batch, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6))).sorted.toSeq
    Pins.flush()
    val inline = Dedup.incrementalLshPairs(corpus, batch, "doc_id", "text",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6))).sorted.toSeq
    Pins.flush()
    assert(viaIndex.nonEmpty, "fixture must plant near-dup pairs")
    assert(viaIndex == inline)
    // every pair has a batch-side member (ids are disjoint by contract)
    assert(viaIndex.forall(_._2 >= 1000L))
  }

  test("readLshIndex re-registers the bucketed tables from meta.json (cross-session)") {
    val path = tmp()
    val written = Dedup.writeLshIndex(corpus, "doc_id", "text", path,
      "lshspec_xs", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4, maxDocFreq = Some(25L))
    val expected = Dedup.probeLshIndex(written, batch, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Pins.flush()
    // simulate a later session: the catalog entries are gone, only the
    // files + meta.json remain
    spark.sql(s"DROP TABLE ${written.bandsTable}")
    spark.sql(s"DROP TABLE ${written.postsTable}")
    val idx = Dedup.readLshIndex(spark, path, "lshspec_xs")
    assert(idx.meta == written.meta &&
      idx.meta.maxDocFreq.contains(25L), s"meta round-trip: ${idx.meta}")
    val got = Dedup.probeLshIndex(idx, batch, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Pins.flush()
    assert(got == expected)
    // the exact meta.json bytes, so an index written by an earlier build
    // opens here and vice versa
    val text = MetaJson.read(path)
    assert(text == """{"shingleSize":3,"numHashes":64,"bands":16,""" +
      """"numBuckets":4,"maxDocFreq":25}""")
    // a meta.json missing a field fails loudly, naming field and file
    MetaJson.write(path, text.replace("\"bands\":16,", ""))
    val e = intercept[IllegalArgumentException] {
      Dedup.readLshIndex(spark, path, "lshspec_xs")
    }
    assert(e.getMessage.contains("\"bands\"") &&
      e.getMessage.contains(s"$path/meta.json"), e.getMessage)
  }

  test("index under a file:-qualified URI: meta writes where probes read") {
    // writeMeta must resolve its FileSystem from the session conf
    // (IndexGen.fs) like readMeta and the table writers do — with a
    // default `new Configuration()` a Spark-conf-only fs.defaultFS would
    // send meta.json to a different filesystem than the probe reads.
    val path = "file:" + tmp()
    val written = Dedup.writeLshIndex(corpus, "doc_id", "text", path,
      "lshspec_uri", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    val expected = Dedup.probeLshIndex(written, batch, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Pins.flush()
    val idx = Dedup.readLshIndex(spark, path, "lshspec_uri")
    assert(idx.meta == written.meta, "meta.json round-trip under file: URI")
    val got = Dedup.probeLshIndex(idx, batch, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    Pins.flush()
    assert(got == expected && got.nonEmpty)
  }

  test("probe join: the index side contributes NO exchange (bucketed scan)") {
    val path = tmp()
    val idx = Dedup.writeLshIndex(corpus, "doc_id", "text", path,
      "lshspec_plan", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    // disable broadcast so the join must co-partition — the real shape at
    // index scale, where neither side broadcasts
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val bb = batch.select(col("doc_id").as("id"),
        (col("doc_id") % 16).cast("int").as("band"),
        xxhash64(col("text")).as("bucket"))
      val j = bb.as("a").join(spark.table(idx.bandsTable).as("b"),
        Seq("band", "bucket"))
      val plan = j.queryExecution.executedPlan.toString
      val nExchanges = "Exchange hashpartitioning".r
        .findAllMatchIn(plan).size
      assert(nExchanges == 1,
        s"expected exactly ONE exchange (the batch side only):\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"index side must read as a bucketed scan:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("probe after append == index rebuilt from scratch (ingest loop)") {
    // ingest loop: probe batch1 against the corpus index, ABSORB batch1,
    // then probe batch2 — the second probe must see corpus ∪ batch1
    // exactly as a from-scratch index over corpus ∪ batch1 would
    val batch1 = corpus.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val batch2 = corpus.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 2000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val idx = Dedup.writeLshIndex(corpus, "doc_id", "text", tmp(),
      "lshspec_app", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    Dedup.appendToLshIndex(idx, batch1, "doc_id", "text")
    val got = Dedup.probeLshIndex(idx, batch2, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6))).sorted.toSeq
    Pins.flush()
    val full = Dedup.writeLshIndex(corpus.unionByName(batch1), "doc_id",
      "text", tmp(), "lshspec_app_full", shingleSize = 3, numHashes = 64,
      bands = 16, numBuckets = 4)
    val want = Dedup.probeLshIndex(full, batch2, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6))).sorted.toSeq
    Pins.flush()
    assert(got.nonEmpty && got == want)
    // batch2 near-dups both the corpus originals AND batch1's variants
    assert(got.exists(_._1 < 1000L) && got.exists(p =>
      p._1 >= 1000L && p._1 < 2000L),
      s"expected pairs against corpus and against absorbed batch1: $got")
    // the appended table still joins BUCKETED (multiple files per bucket
    // group into one partition; no index-side exchange regression) —
    // asserted on a JOIN because a bare scan auto-disables bucketing
    // ("disabled by query planner") when nothing benefits
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val bb = batch2.select(col("doc_id").as("id"),
        (col("doc_id") % 16).cast("int").as("band"),
        xxhash64(col("text")).as("bucket"))
      val plan = bb.join(spark.table(idx.bandsTable), Seq("band", "bucket"))
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1
          && plan.contains("Bucketed: true"),
        s"append must preserve the exchange-free bucketed join:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  private def pairsOf(idx: Dedup.LshIndex,
      b: org.apache.spark.sql.DataFrame) = {
    val got = Dedup.probeLshIndex(idx, b, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6))).sorted.toSeq
    Pins.flush()
    got
  }

  private def parquetFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Seq.empty
    else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
  }

  test("compaction: probe unchanged, one file per bucket, exchange-free join") {
    val path = tmp()
    val idx = Dedup.writeLshIndex(corpus, "doc_id", "text", path,
      "lshspec_cpt", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    val batch1 = corpus.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val batch2 = corpus.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 2000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    Dedup.appendToLshIndex(idx, batch1, "doc_id", "text")
    Dedup.appendToLshIndex(idx, batch2, "doc_id", "text")
    val probe = corpus.filter(col("doc_id") % 4 === 2)
      .select((col("doc_id") + 3000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+\\s+", "").as("text"))
    val before = pairsOf(idx, probe)
    val filesBefore = parquetFiles(idx.bandsDir).size
    assert(filesBefore > 4,
      s"two appends must leave >numBuckets band files, got $filesBefore")

    val compacted = Dedup.compactLshIndex(spark, idx)
    assert(compacted.gen == 1 && compacted.bandsDir.endsWith("bands.c1"))
    // the small-files counter-move: at most one file per bucket now
    val filesAfter = parquetFiles(compacted.bandsDir).size
    assert(filesAfter <= 4 && filesAfter < filesBefore,
      s"compaction must rewrite to <=numBuckets files, got $filesAfter")
    assert(parquetFiles(compacted.postsDir).size <= 4)
    // generation-0 directories are retention-swept after the commit
    assert(parquetFiles(s"$path/bands").isEmpty)
    assert(pairsOf(compacted, probe) == before)
    // the re-pointed catalog tables keep the exchange-free bucketed join
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val bb = probe.select(col("doc_id").as("id"),
        (col("doc_id") % 16).cast("int").as("band"),
        xxhash64(col("text")).as("bucket"))
      val plan = bb.join(spark.table(compacted.bandsTable),
          Seq("band", "bucket"))
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 1
          && plan.contains("Bucketed: true"),
        s"compacted table must keep the exchange-free bucketed join:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    // a fresh session (catalog entries gone) resolves the committed
    // generation from the marker and probes identically
    spark.sql(s"DROP TABLE ${compacted.bandsTable}")
    spark.sql(s"DROP TABLE ${compacted.postsTable}")
    val reopened = Dedup.readLshIndex(spark, path, "lshspec_cpt")
    assert(reopened.gen == 1)
    assert(pairsOf(reopened, probe) == before)
    // and appends keep working against the compacted generation
    Dedup.appendToLshIndex(reopened, batch1.select(
      (col("doc_id") + 7000).as("doc_id"), col("text")), "doc_id", "text")
    assert(pairsOf(reopened, probe).size >= before.size)
  }

  test("retraction: probe == index rebuilt without the retracted docs") {
    val path = tmp()
    val idx = Dedup.writeLshIndex(corpus, "doc_id", "text", path,
      "lshspec_rtr", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    // retract the docs whose near-dup variants the batch contains for
    // ids % 3 == 0 — those pairs must disappear from the probe
    val gone = corpus.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"))
    Dedup.retractFromLshIndex(idx, gone, "doc_id")
    val got = pairsOf(idx, batch)
    val rebuilt = Dedup.writeLshIndex(
      corpus.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", tmp(),
      "lshspec_rtr_ref", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    val want = pairsOf(rebuilt, batch)
    assert(got == want)
    assert(got.nonEmpty, "fixture must keep some pairs after retraction")
    // the anti-join is broadcast: still exactly one shuffle exchange in
    // the full probe plan's index join (tombstones never repartition the
    // index side)
    val plan = Dedup.probeLshIndex(idx, batch, "doc_id", "text",
      threshold = 0.5).queryExecution.executedPlan.toString
    Pins.flush()
    assert(plan.contains("BroadcastExchange"),
      s"tombstone filter must be a broadcast anti-join:\n$plan")
    // compaction applies the tombstones physically and clears them
    val compacted = Dedup.compactLshIndex(spark, idx)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compaction must clear applied tombstones")
    assert(pairsOf(compacted, batch) == want)
    // a retracted id can be re-added AFTER compaction
    val readd = corpus.filter(col("doc_id") === 0)
    Dedup.appendToLshIndex(compacted, readd, "doc_id", "text")
    val after = pairsOf(compacted, batch)
    assert(after.size > want.size,
      s"re-added doc 0 must pair with its batch variant again: $after")
  }

  test("maybeCompactLshIndex triggers only past the files-per-bucket bar") {
    val path = tmp()
    val idx = Dedup.writeLshIndex(corpus, "doc_id", "text", path,
      "lshspec_mcpt", shingleSize = 3, numHashes = 64, bands = 16,
      numBuckets = 4)
    val before = pairsOf(idx, batch)
    // a fresh write is already packed: below any sane bar -> no-op
    assert(Dedup.maybeCompactLshIndex(spark, idx, 8) eq idx)
    Dedup.appendToLshIndex(idx, batch.select(
      (col("doc_id") + 5000).as("doc_id"), col("text")), "doc_id", "text")
    // one append adds one file per non-empty bucket: bar 8 still no-op,
    // bar 1 compacts and preserves the probe
    assert(Dedup.maybeCompactLshIndex(spark, idx, 8) eq idx)
    val compacted = Dedup.maybeCompactLshIndex(spark, idx, 1)
    assert(compacted.gen == 1)
    assert(pairsOf(compacted, batch).map(p => (p._1, p._2)).toSet
      .intersect(before.map(p => (p._1, p._2)).toSet)
      == before.map(p => (p._1, p._2)).toSet)
  }

  test("writeLshIndex refuses non-BIGINT ids (cross-session DDL contract)") {
    val bad = Seq((1, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.writeLshIndex(bad, "doc_id", "text", tmp(), "lshspec_bad")
    }
    assert(e.getMessage.contains("BIGINT"))
  }
}
