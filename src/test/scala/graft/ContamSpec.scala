package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Contam
import graft.pipeline.Pins

/** Persisted n-gram contamination index (Contam.writeNgramIndex /
  * readNgramIndex / probeNgramIndex + append/retract/compact): result
  * equivalence with an inline gram join, maintenance == rebuild, and the
  * plan contract — the probe join's index side scans the bucketed table
  * with NO exchange (only the batch shuffles). */
class ContamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 4 // small gram width so the tiny fixture overlaps

  // 6 benchmark docs; batch = 12 docs, 3 of which embed a benchmark
  // doc's text verbatim (planted contamination), ids +1000
  private def bench = (0L until 6L).map { i =>
    (i, (0 until 8).map(k => s"b${(i * 5 + k) % 40}").mkString(" "))
  }.toDF("doc_id", "text")

  private def batch = (0L until 12L).map { i =>
    val own = (0 until 6).map(k => s"p${(i * 3 + k) % 30}").mkString(" ")
    val text = if (i % 4 == 0)
      own + " " + (0 until 8).map(k => s"b${((i / 4) * 5 + k) % 40}")
        .mkString(" ")
    else own
    (i + 1000L, text)
  }.toDF("doc_id", "text")

  private def tmp() =
    java.nio.file.Files.createTempDirectory("ngramidx").toString

  /** Inline reference: distinct-gram join, no index. */
  private def inlineProbe(b: org.apache.spark.sql.DataFrame) = {
    val bg = Contam.gramDigests(batch, "doc_id", "text", N)
    val ig = Contam.gramDigests(b, "doc_id", "text", N)
      .select(col("gram"), col("id").as("src"))
    val hits = bg.join(ig, Seq("gram")).groupBy(col("id"))
      .agg(countDistinct(col("gram")).as("n_hits"),
        countDistinct(col("src")).as("n_sources"))
    bg.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_sources"), lit(0L)).as("n_sources"))
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  private def probeMap(idx: Contam.NgramIndex) =
    Contam.probeNgramIndex(idx, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("probe over the persisted index == inline gram join; hits planted") {
    val path = tmp()
    val idx = Contam.writeNgramIndex(bench, "doc_id", "text", path,
      "contam_eq", n = N, numBuckets = 4)
    val got = probeMap(idx)
    Pins.flush()
    val want = inlineProbe(bench)
    Pins.flush()
    assert(got == want)
    assert(got.count(_._2._2 > 0) == 3, "3 planted contaminated docs")
    assert(got.size == 12, "every batch doc answers, hit or not")
  }

  test("probe join: the index side contributes NO exchange") {
    val path = tmp()
    val idx = Contam.writeNgramIndex(bench, "doc_id", "text", path,
      "contam_plan", n = N, numBuckets = 4)
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val bg = Contam.gramDigests(batch, "doc_id", "text", N)
      val plan = bg.join(spark.table(idx.gramsTable), Seq("gram"))
        .queryExecution.executedPlan.toString
      // both exchanges belong to the BATCH side (its distinct groups by
      // (id, gram), then the join re-clusters it by gram); the index side
      // is the bucketed scan with nothing above it
      assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size == 2
          && plan.contains("Bucketed: true")
          && plan.contains("SelectedBucketsCount"),
        s"index side must join exchange-free off the bucketed scan:\n$plan")
      val indexSide = plan.substring(plan.lastIndexOf("+- Sort"))
      assert(!indexSide.contains("Exchange"),
        s"no exchange may sit between the join and the index scan:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      Pins.flush()
    }
  }

  test("index under a file:-qualified URI: meta writes where probes read") {
    // writeMeta resolves its FileSystem through the session conf
    // (IndexGen.fs), the same resolution readMeta and the table writers
    // use — a default `new Configuration()` would drop a Spark-conf-only
    // fs.defaultFS and write meta.json to a different filesystem. The
    // qualified URI pins the whole write/read/probe loop to one scheme.
    val path = "file:" + tmp()
    val idx = Contam.writeNgramIndex(bench, "doc_id", "text", path,
      "contam_uri", n = N, numBuckets = 4)
    val reopened = Contam.readNgramIndex(spark, path, "contam_uri")
    assert(reopened.meta == idx.meta, "meta.json round-trip under file: URI")
    val got = probeMap(reopened)
    Pins.flush()
    val want = inlineProbe(bench)
    Pins.flush()
    assert(got == want)
    // the exact meta.json bytes, so an index written by an earlier build
    // opens here and vice versa
    val text = MetaJson.read(path)
    assert(text == """{"n":4,"numBuckets":4}""")
    // a meta.json missing a field fails loudly, naming field and file
    MetaJson.write(path, text.replace("\"n\":4,", ""))
    val e = intercept[IllegalArgumentException] {
      Contam.readNgramIndex(spark, path, "contam_uri")
    }
    assert(e.getMessage.contains("\"n\"") &&
      e.getMessage.contains(s"$path/meta.json"), e.getMessage)
  }

  test("decontaminate: kept ∪ dropped partition the corpus, provenance right") {
    val path = tmp()
    val idx = Contam.writeNgramIndex(bench, "doc_id", "text", path,
      "contam_act", n = N, numBuckets = 4)
    // conservative screen: ANY shared gram drops the doc — exactly the 3
    // planted contaminated batch docs must fall
    val (kept, dropped) = Contam.decontaminate(idx, batch, "doc_id",
      "text", maxHitFrac = 0.0)
    val keptRows = kept.collect().map(r => (r.getLong(0), r.getString(1)))
    val dropRows = dropped.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    Pins.flush()
    val want = inlineProbe(bench)
    Pins.flush()
    assert(dropRows.keySet == want.filter(_._2._2 > 0).keySet,
      "dropped = exactly the docs with any benchmark hit")
    assert(dropRows.keySet.size == 3)
    for ((id, (ng, nh, ns)) <- dropRows)
      assert(want(id) == ((ng, nh, ns)), s"provenance for $id")
    // kept keeps ORIGINAL columns (text intact) and partitions the corpus
    val original = batch.collect().map(r => (r.getLong(0), r.getString(1)))
      .toMap
    assert(keptRows.toMap == (original -- dropRows.keySet))
    assert(keptRows.map(_._1).toSet.intersect(dropRows.keySet).isEmpty)
    assert(keptRows.size + dropRows.size == 12)
    // a permissive bar keeps everything and drops nothing
    val (k2, d2) = Contam.decontaminate(idx, batch, "doc_id", "text",
      maxHitFrac = 1.0)
    assert(d2.isEmpty && k2.count() == 12)
    Pins.flush()
  }

  test("append == rebuild; retraction == rebuild-without; compaction inert") {
    val path = tmp()
    val extra = bench.select((col("doc_id") + 100).as("doc_id"),
      concat(col("text"), lit(" tail")).as("text"))
    val idx = Contam.writeNgramIndex(bench, "doc_id", "text", path,
      "contam_maint", n = N, numBuckets = 4)
    Contam.appendToNgramIndex(idx, extra, "doc_id", "text")
    val afterAppend = probeMap(idx); Pins.flush()
    val rebuilt = Contam.writeNgramIndex(bench.unionByName(extra),
      "doc_id", "text", tmp(), "contam_maint_rb", n = N, numBuckets = 4)
    val fromScratch = probeMap(rebuilt); Pins.flush()
    assert(afterAppend == fromScratch, "append == rebuild")

    Contam.retractFromNgramIndex(idx, extra.select(col("doc_id")), "doc_id")
    val afterRetract = probeMap(idx); Pins.flush()
    val withoutExtra = Contam.writeNgramIndex(bench, "doc_id", "text",
      tmp(), "contam_maint_wo", n = N, numBuckets = 4)
    val scratchWithout = probeMap(withoutExtra); Pins.flush()
    assert(afterRetract == scratchWithout, "retraction == rebuild-without")

    val compacted = Contam.compactNgramIndex(spark, idx)
    val afterCompact = probeMap(compacted); Pins.flush()
    assert(afterCompact == scratchWithout,
      "compaction preserves the retracted view")
    // one file per bucket after compaction
    assert(parquetFiles(compacted.gramsDir).size <= 4)
    // a fresh session-read resolves the committed generation
    val reread = Contam.readNgramIndex(spark, path, "contam_maint")
    assert(reread.gen == compacted.gen)
    val rereadProbe = probeMap(reread); Pins.flush()
    assert(rereadProbe == scratchWithout)
  }

  test("maybeCompactNgramIndex triggers only past the files-per-bucket bar") {
    val path = tmp()
    var idx = Contam.writeNgramIndex(bench, "doc_id", "text", path,
      "contam_auto", n = N, numBuckets = 2)
    for (k <- 0 until 3)
      Contam.appendToNgramIndex(idx,
        bench.select((col("doc_id") + 200 + k * 10).as("doc_id"),
          concat(col("text"), lit(s" x$k")).as("text")),
        "doc_id", "text")
    val untouched = Contam.maybeCompactNgramIndex(spark, idx, 100)
    assert(untouched.gen == idx.gen, "under the bar: no compaction")
    val compacted = Contam.maybeCompactNgramIndex(spark, idx, 2)
    assert(compacted.gen > idx.gen, "past the bar: compaction ran")
    assert(parquetFiles(compacted.gramsDir).size <= 2)
  }

  test("streaming decontamination screen == batch probe over both batches") {
    import java.nio.file.Files
    val path = tmp()
    val idx = Contam.writeNgramIndex(bench, "doc_id", "text", path,
      "contam_stream", n = N, numBuckets = 4)
    val in = Files.createTempDirectory("contam-in")
    val out = Files.createTempDirectory("contam-out").toString + "/stats"
    val ckpt = Files.createTempDirectory("contam-ckpt").toString
    val b1 = batch.filter(col("doc_id") < 1006L)
    val b2 = batch.filter(col("doc_id") >= 1006L)
    b1.coalesce(1).write.parquet(in.resolve("b1").toString)
    graft.streaming.DocStream.screenContamStream(spark,
      in.toString + "/*", idx, out, ckpt)
    b2.coalesce(1).write.parquet(in.resolve("b2").toString)
    graft.streaming.DocStream.screenContamStream(spark,
      in.toString + "/*", idx, out, ckpt)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    Pins.flush()
    val want = probeMap(idx) // batch probe over the full batch frame
    Pins.flush()
    assert(got == want, "streamed stats must equal the batch probe")
    assert(got.size == 12, "second micro-batch processed exactly once")
  }

  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir.stripPrefix("file:")).listFiles)
      .map(_.toSeq).getOrElse(Nil)
      .filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("."))
}
