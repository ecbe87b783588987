package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.pipeline.GoldenRecord

/** Explicit-determinism guard (SURVEY.md §4 / §7.4.1): the reference relied
  * on single-threaded row order; every operator here must produce IDENTICAL
  * results regardless of partitioning. Each case runs the same op over
  * repartition(1) and repartition(13) and asserts set equality. */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def same(a: DataFrame, b: DataFrame): Unit = {
    val d1 = a.exceptAll(b); val d2 = b.exceptAll(a)
    assert(d1.isEmpty && d2.isEmpty,
      s"partitioning changed the result: ${d1.take(3).toSeq} ${d2.take(3).toSeq}")
  }

  private lazy val contacts = {
    val rnd = new scala.util.Random(5)
    (1 to 300).map { i =>
      val g = s"g${i % 40}"
      val v = if (rnd.nextDouble() < 0.25) "" else
        rnd.alphanumeric.take(rnd.nextInt(10)).mkString
      (g, v, java.sql.Timestamp.valueOf(
        f"2021-0${rnd.nextInt(9) + 1}%d-01 00:00:00"), i.toLong)
    }.toDF("g", "v", "ts", "id")
  }

  test("golden-record merge is partitioning-invariant") {
    def merge(df: DataFrame) = df.groupBy("g")
      .agg(GoldenRecord.mostComplete(col("v"), col("ts"), col("id")).as("best"))
    same(merge(contacts.repartition(1)), merge(contacts.repartition(13)))
    // the row-wide form: every column's winner from one aggregate
    def dedupe(df: DataFrame) = GoldenRecord.dedupe(
      df.withColumn("w", reverse(col("v"))), "id", Some("ts"), keyCol = "g")
    same(dedupe(contacts.repartition(1)), dedupe(contacts.repartition(13)))
  }

  test("exact dedup survivor is partitioning-invariant") {
    def d(df: DataFrame) = Dedup.exact(df, Seq(col("g")), col("id"))
      .select("g", "id")
    same(d(contacts.repartition(1)), d(contacts.repartition(13)))
  }

  test("minhash signatures are partitioning-invariant") {
    val docs = (1L to 60L).map(i =>
      (i, (0 until 30).map(j => s"w${(i * 7 + j) % 50}").mkString(" ")))
      .toDF("doc_id", "text")
    def sig(df: DataFrame) = Dedup.minhashSignatures(
      Dedup.shinglePostings(df, "doc_id", "text", 3), 32)
      .select(col("id"), col("sig").cast("array<long>").as("sig"))
    same(sig(docs.repartition(1)), sig(docs.repartition(13)))
  }

  test("fill winner is partitioning-invariant") {
    import graft.pipeline.Fill
    val m = Fill.withMatchKeys(
      (1L to 50L).map(i => (i, s"name$i", "", s"55500000${i % 10}"))
        .toDF("row_id", "name", "email", "phone"),
      col("name"), col("email"), col("phone"))
    val src = Fill.withMatchKeys(
      (1L to 200L).map(j => (j, s"name${j % 50 + 1}", s"e$j@x.com",
        s"55500000${(j % 50 + 1) % 10}"))
        .toDF("src_order", "name", "email", "phone"),
      col("name"), col("email"), col("phone"))
    def fill(mp: DataFrame, sp: DataFrame) =
      Fill.fillFromSource(mp, sp, Map("email" -> "email"), "s").filled
        .select("row_id", "email")
    same(fill(m.repartition(1), src.repartition(1)),
      fill(m.repartition(7), src.repartition(13)))
  }

  test("boilerplate strip is partitioning-invariant") {
    import graft.operators.Boilerplate
    val docs = (1L to 40L).map { i =>
      (i, Seq("HEADER", s"content $i", s"extra ${i % 3}", "FOOTER")
        .mkString("\n"))
    }.toDF("id", "text")
    def strip(df: DataFrame) = Boilerplate.strip(df, "id", "text", minDocs = 10)
    same(strip(docs.repartition(1)), strip(docs.repartition(13)))
  }

  test("distributed cumulative sum is partitioning-invariant") {
    import graft.operators.Budget
    val rows = (1L to 400L).map(i => (i, (i * 37 % 100).toDouble, i % 50 + 1))
      .toDF("id", "q", "tok")
    def cum(df: DataFrame) = Budget.cumulativeSum(df,
      Seq(col("q").desc, col("id")), col("tok"), "cum")
    same(cum(rows.repartition(1)), cum(rows.repartition(13)))
  }

  test("semDedup verdicts are partitioning-invariant") {
    val rnd = new scala.util.Random(9)
    val base = (1L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian())))
    val near = base.filter(_._1 % 4 == 0)
      .map { case (i, v) => (i + 100, v.map(_ + 0.015)) }
    val vecs = (base ++ near).toDF("id", "vec")
    def sd(df: DataFrame) = Dedup.semDedup(df, "id", "vec",
      nlist = 3, iters = 2, tau = 0.98)
    same(sd(vecs.repartition(1)), sd(vecs.repartition(13)))
  }

  test("BPE merges and token counts are partitioning-invariant") {
    import graft.operators.BpeTrain
    val docs = (1L to 80L).map(i =>
      (i, (0 until 12).map(j => s"w${(i * 5 + j) % 30}ab").mkString(" ")))
      .toDF("doc_id", "text")
    def enc(df: DataFrame) = {
      val r = BpeTrain.train(df, "text", numMerges = 3)
      BpeTrain.tokenCounts(df, "doc_id", "text", r.merges)
    }
    same(enc(docs.repartition(1)), enc(docs.repartition(13)))
  }

  test("LM scores are partitioning-invariant") {
    import graft.operators.LmScore
    val docs = (1L to 60L).map(i =>
      (i, (0 until 20).map(j => s"t${(i + j * 3) % 25}").mkString(" ")))
      .toDF("doc_id", "text")
    def lm(df: DataFrame) = LmScore.lmScore(df, "doc_id", "text")
    same(lm(docs.repartition(1)), lm(docs.repartition(13)))
  }

  test("sequence packing bins are partitioning-invariant") {
    import graft.operators.Budget
    val rows = (1L to 300L).map(i => (i, i * 13 % 40)).toDF("id", "n")
    def pack(df: DataFrame) = Budget.packSequences(df,
      Seq(md5(col("id").cast("string")), col("id")), col("n"), ctxLen = 64)
    same(pack(rows.repartition(1)), pack(rows.repartition(13)))
  }

  test("trajectory strings are partitioning-invariant (collect_list sorted)") {
    import graft.operators.Sessionize
    val rnd = new scala.util.Random(23)
    val events = (1L to 500L).map { i =>
      (i % 20, java.sql.Timestamp.valueOf(
        f"2021-01-01 0${rnd.nextInt(9)}%d:0${rnd.nextInt(6)}%d:00"),
        i, s"ev${i % 7}")
    }.toDF("user_id", "ts", "event_id", "event_type")
    def traj(df: DataFrame) = Sessionize.trajectories(df, col("user_id"),
      col("ts"), col("event_id"), col("event_type"), gapSeconds = 600)
    same(traj(events.repartition(1)), traj(events.repartition(13)))
  }

  test("sketch-verified heavy hitters are partitioning-invariant") {
    // the raw Misra-Gries CANDIDATE array legitimately varies with merge
    // order (non-heavy survivors differ) — what must be invariant is the
    // q72-shaped output: candidates verified against exact counts. Every
    // guaranteed-heavy key survives any merge order, and the exact filter
    // strips the partitioning-dependent tail.
    val rnd = new scala.util.Random(11)
    val words = (0 until 3000).map(_ =>
      Tuple1(s"w${math.min(60, math.abs(rnd.nextGaussian() * 9).toInt)}"))
      .toDF("word")
    def heavy(df: DataFrame): DataFrame = {
      val sketch = df.agg(
        graft.functions.Text.heavyHitterCandidates(col("word"), 16).as("c"),
        count(lit(1)).as("total"))
      val cands = sketch.select(explode(col("c")).as("word"), col("total"))
      df.join(broadcast(cands), "word")
        .groupBy(col("word"), col("total")).agg(count(lit(1)).as("n"))
        .filter(col("n") * 17 > col("total"))
        .select("word", "n")
    }
    same(heavy(words.repartition(1)), heavy(words.repartition(13)))
  }

  private lazy val r8docs = (1L to 80L).map(i =>
    (i, (0 until 24).map(j => s"t${(i * 7 + j * 3) % 21}").mkString(" "),
      s"d${i % 5}"))
    .toDF("doc_id", "text", "dom")

  test("NB classifier scores are partitioning-invariant") {
    import graft.operators.Classify
    val train = r8docs.withColumn("label",
      when(col("doc_id") % 2 === 0, "good").otherwise("junk"))
    def nb(df: DataFrame) = Classify.nbTrainScore(
      df, r8docs.select(col("doc_id"), col("text")),
      "doc_id", "text", "label", "good", "junk")
    same(nb(train.repartition(1)), nb(train.repartition(13)))
  }

  test("temperature mix weights and budgets are partitioning-invariant") {
    import graft.operators.Mix
    def mix(df: DataFrame) = Mix.temperatureWeights(df, "dom",
      graft.functions.Text.tokenCount(col("text")).cast("long"),
      alpha = 0.3, budget = 997L)
    same(mix(r8docs.repartition(1)), mix(r8docs.repartition(13)))
  }

  test("repetition metrics are partitioning-invariant") {
    import graft.operators.Repetition
    def rep(df: DataFrame) = Repetition.gopherRepetition(
      df, "doc_id", "text", lineSep = "t3")
    same(rep(r8docs.repartition(1)), rep(r8docs.repartition(13)))
  }

  test("perplexity buckets and DoReMi weights are partitioning-invariant") {
    import graft.operators.{Doremi, LmScore}
    def bk(df: DataFrame) = {
      val scored = LmScore.lmScore(df, "doc_id", "text")
      LmScore.perplexityBuckets(scored,
        LmScore.tercileCuts(scored, "lm_score", exact = true))
    }
    same(bk(r8docs.repartition(1)), bk(r8docs.repartition(13)))
    def dr(df: DataFrame) = {
      val scored = LmScore.lmScore(df, "doc_id", "text")
        .join(df.select(col("doc_id").as("id"), col("dom")), "id")
      Doremi.domainReweight(scored, "dom", -col("lm_score"), eta = 5.0)
    }
    same(dr(r8docs.repartition(1)), dr(r8docs.repartition(13)))
  }

  test("phrase search matches are partitioning-invariant") {
    import graft.operators.Retrieval
    val phrases = Seq((1L, "t3 t6"), (2L, "t0 t3 t6")).toDF(
      "phrase_id", "phrase")
    def ph(df: DataFrame) = Retrieval.phraseSearch(
      df, "doc_id", "text", phrases)
    same(ph(r8docs.repartition(1)), ph(r8docs.repartition(13)))
  }

  test("bitext margins are partitioning-invariant") {
    import graft.operators.Similarity
    val vecs = (0L until 30L).map(i => (i,
      Seq.tabulate(6)(d => ((i * 5 + d * 3) % 11).toDouble + 0.5)))
    val a = vecs.toDF("id", "vec")
    val b = vecs.map { case (i, v) => (i + 100, v.map(_ + 0.02)) }
      .toDF("id", "vec")
    def mm(df: DataFrame) = Similarity.marginMining(
      df, "id", "vec", b, "id", "vec", k = 4)
    same(mm(a.repartition(1)), mm(a.repartition(13)))
  }
}
