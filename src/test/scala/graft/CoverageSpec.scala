package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Text, Vec}
import graft.operators.Dedup
import graft.pipeline.Validate

/** Unit coverage for the remaining public kernels not exercised elsewhere. */
class CoverageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bench stdout line stays inside the driver's ~2000-char tail window") {
    // BENCH_r08 landed unparseable because the per-query map pushed the
    // JSON line past the driver's captured tail. Reconstruct the line
    // exactly as graft.Bench prints it, modeling digit growth from slow
    // queries: every query at 999 centiseconds (~10 s — 2.5x the slowest
    // real query) PLUS a 40-query allowance at 9999 (100 s — a severe
    // regression tier), and keep headroom below 1950 chars. An
    // all-4-digit registry would not fit, so a regression pushing MORE
    // than 40 queries past 10 s still blows the line — but that registry
    // total (>400 s vs ~130 s today) fails the bench-vs-baseline grade
    // long before the stdout budget is the problem. If this fails, the
    // registry grew past the stdout budget — shorten the encoding before
    // adding queries.
    val names = graft.queries.Queries.all.map(_.name)
    def qnum(n: String): Int = n.takeWhile(_ != '_').drop(1).toInt
    // the positional array encoding REQUIRES contiguous query numbers
    // 1..N — a gap or duplicate would silently misattribute every later
    // query's time to the wrong number
    assert(names.map(qnum).sorted == (1 to names.size),
      "query numbers must stay contiguous 1..N (Bench's positional "
        + "stdout array indexes by number; a gap falls back to the "
        + "full-name map and blows the line budget)")
    val qs = names.indices.map(i => if (i < 40) "9999" else "999")
      .mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":99999.999,"unit":"sec","nruns":3,"qunit":"centisec","fp":"0123456789ab","qmap":"BENCH_RUNS.json","qkeys":"1-${names.size}","queries":$qs,"sf":"/root/testdata/sf0.1"}"""
    assert(line.length < 1950,
      s"bench stdout line would be ${line.length} chars at ${names.size} "
        + "queries — past the driver's ~2000-char tail window")
  }

  test("dedup skew-cap telemetry: planted hot shingle / ubiquitous text counters") {
    // hot-shingle fixture: "alpha beta gamma" occurs in 3 of 4 docs
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta gamma zeta"),
      (4L, "unique text one here"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleDropStats(docs, "doc_id", "text",
        shingleSize = 3, maxDocFreq = 2)
      .as[(String, Long)].collect().toMap
    // distinct shingles: abg(df=3) bgd bge bgz uto toh (df=1 each) plus
    // doc 4's second shingle -> totals below; only abg crosses cap=2
    assert(sh("shingle_cap") == 2L)
    assert(sh("shingles_total") == 6L)
    assert(sh("shingles_dropped") == 1L)
    assert(sh("postings_total") == 8L)
    assert(sh("postings_dropped") == 3L)
    assert(sh("doc_freq_max") == 3L)

    // ubiquitous-text fixture: "promo" lives in 3 sources, cap=2
    val srcs = Seq(("s1", "promo"), ("s2", "promo"), ("s3", "promo"),
      ("s1", "solo"), ("s2", "other")).toDF("source", "text")
    val cs = Dedup.crossSourceDropStats(srcs, "source", "text",
        maxSourcesPerText = 2)
      .as[(String, Long)].collect().toMap
    assert(cs("text_cap") == 2L)
    assert(cs("texts_total") == 3L)
    assert(cs("texts_dropped") == 1L)
    assert(cs("pairs_suppressed") == 3L) // 3 sources -> 3 suppressed pairs
    assert(cs("sources_per_text_max") == 3L)
  }

  test("crossSourceDupMatrix: ubiquitous-text cap suppresses pairs, keeps denominators") {
    val docs = Seq(
      ("s1", "common boilerplate"), ("s2", "common boilerplate"),
      ("s3", "common boilerplate"),
      ("s1", "mirrored doc"), ("s2", "mirrored doc"),
      ("s1", "only in s1"), ("s3", "only in s3"))
      .toDF("source", "text")
    val full = Dedup.crossSourceDupMatrix(docs, "source", "text")
      .select("source_a", "source_b", "n_shared_texts")
      .as[(String, String, Long)].collect().toSet
    assert(full == Set(("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
    val capped = Dedup.crossSourceDupMatrix(docs, "source", "text",
      maxSourcesPerText = Some(2))
    val rows = capped.collect().map(r =>
      (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_shared_texts"), r.getAs[Long]("n_a"))).toSet
    // the 3-source boilerplate is suppressed from pair expansion, so only
    // the true mirror pair survives — but s1's denominator still counts
    // all 3 of its distinct texts
    assert(rows == Set(("s1", "s2", 1L, 3L)))
  }

  test("charShingles: sliding character windows, short-input fallback") {
    val sh = Seq("ab  cd").toDF("t")
      .select(Text.charShingles(col("t"), 3)).head().getSeq[String](0)
    assert(sh == Seq("ab ", "b c", " cd")) // whitespace-collapsed "ab cd"
    val short = Seq("ab").toDF("t")
      .select(Text.charShingles(col("t"), 3)).head().getSeq[String](0)
    assert(short == Seq("ab"))
  }

  test("l2sq: squared euclidean distance") {
    val d = Seq((Array(1.0f, 2.0f), Array(4.0f, 6.0f))).toDF("a", "b")
      .select(Vec.l2sq(col("a"), col("b"))).head().getDouble(0)
    assert(d == 25.0) // 3^2 + 4^2
  }

  test("shinglePostings maxDocFreq drops ubiquitous shingles") {
    // "common x" appears in every doc; unique tails don't
    val docs = (1L to 5L).map(i => (i, s"common x y tail$i end$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.shinglePostings(docs, "doc_id", "text", 3)
    val capped = Dedup.shinglePostings(docs, "doc_id", "text", 3,
      maxDocFreq = Some(3))
    val droppedShingles = uncapped.select("shingle").distinct().count() -
      capped.select("shingle").distinct().count()
    assert(droppedShingles >= 1, "the all-docs shingle should be dropped")
    assert(capped.count() < uncapped.count())
  }

  test("Validate.summary: error-type rollup top-N with total order") {
    val errs = Seq(
      (1L, "EMAIL", "Missing EMAIL", ""), (2L, "EMAIL", "Missing EMAIL", ""),
      (3L, "PHONE", Validate.MissingPhone, ""),
      (4L, "FIRSTNAME", "Missing FIRSTNAME", ""))
      .toDF("row_id", "field", "error", "value")
    val top = Validate.summary(errs, topN = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top.head == ("Missing EMAIL", 2L))
    assert(top.size == 2)
  }
}
