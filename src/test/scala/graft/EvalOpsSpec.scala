package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Mix, Normalize, Project, Segment, TextEval}

/** BLEU/ROUGE (q164), TextTiling (q165), JL projection (q166),
  * quantile normalization (q167), Neyman allocation (q168). */
class EvalOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bleu/rouge: identity, truncation, and clipping") {
    val pairs = Seq(
      (1L, "a b c", "a b c"),          // identity -> all 1
      (2L, "a b", "a b c"),            // truncation
      (3L, "the the the the", "the cat"), // clipping
      (4L, "", "a b c"))               // empty candidate
      .toDF("id", "cand", "ref")
    val out = TextEval.bleuRouge(pairs, "id", "cand", "ref")
      .select("id", "len_c", "len_r", "p1", "p2", "r1", "r2", "bp",
        "bleu2")
      .as[(Long, Long, Long, Double, Double, Double, Double, Double,
        Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 3L, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)))
    val t2 = out(2L)
    assert(t2._4 == 1.0 && t2._5 == 1.0)          // precisions
    assert(t2._6 == 0.666667 && t2._7 == 0.5)     // recalls
    assert(t2._8 == 0.606531 && t2._9 == 0.606531) // bp = e^-0.5
    assert(out(3L)._4 == 0.25)                     // clipped: min(4,1)/4
    assert(out(4L)._2 == 0L && out(4L)._9 == 0.0)
  }

  test("texttiling flags the topic seam, not the homogeneous gaps") {
    val topicA = Seq.fill(4)("apple banana cherry date fig").mkString(" ")
    val topicB = Seq.fill(4)("table chair lamp sofa desk").mkString(" ")
    // 40 tokens -> blocks 0..3; blocks 0-1 topic A, 2-3 topic B
    val doc = Seq((1L, s"$topicA $topicB"), (2L, "too short"))
      .toDF("doc_id", "text")
    val out = Segment.textTiling(doc, "doc_id", "text", blockTokens = 10)
      .select("doc_id", "g", "cos", "is_boundary")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(!out.exists(_._1 == 2L)) // < 2 blocks -> no gaps
    val gaps = out.filter(_._1 == 1L).sortBy(_._2)
    assert(gaps.map(_._2).toSeq == Seq(0L, 1L, 2L))
    assert(gaps(0)._3 == 1.0 && gaps(2)._3 == 1.0 && gaps(1)._3 == 0.0)
    assert(gaps.map(_._4).toSeq == Seq(false, true, false))
  }

  test("jl projection is deterministic and preserves self-similarity") {
    val m1 = Project.signMatrix(16, 64)
    val m2 = Project.signMatrix(16, 64)
    assert(m1.flatten.toSeq == m2.flatten.toSeq)
    assert(m1.flatten.forall(s => s == 1 || s == -1))
    assert(m1.flatten.count(_ == 1) > 400
      && m1.flatten.count(_ == -1) > 400) // roughly balanced
    // identical adjacent vectors -> both cosines 1, gap 0
    val v = (0 until 64).map(_.toDouble / 8).toArray
    val df = Seq((1L, v), (2L, v)).toDF("vec_id", "vec")
    val out = Project.jlDistortion(df, "vec_id", "vec", 16, 64)
      .select("cos_orig", "cos_proj", "abs_gap", "max_gap")
      .as[(Double, Double, Double, Double)].head()
    assert(out == ((1.0, 1.0, 0.0, 0.0)))
  }

  test("quantile normalization equalizes shifted groups") {
    val rows = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
      ("a", 4L, 4L), ("b", 5L, 11L), ("b", 6L, 12L), ("b", 7L, 13L),
      ("b", 8L, 14L)).toDF("src", "id", "sc")
    val out = Normalize.quantileNormalize(rows, "src", "sc", "id")
      .select("id", "norm_score").as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2).toSeq
    // idx for r=1..4 of n_h=4, N=8: 1, 3, 5, 8 -> pooled 1, 3, 11, 14
    assert(out == Seq(1L, 3L, 11L, 14L, 1L, 3L, 11L, 14L))
  }

  test("quantile normalization matches the naive per-source window oracle") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // the textbook plan: rank() and count() per source, the pooled ladder
    // as plain windows over the distinct-value counts (nulls first)
    def oracle(df: DataFrame): DataFrame = {
      val s = df.select(col("id"), col("src"), col("sc").cast("long").as("score"))
      val bySrc = Window.partitionBy(col("src"))
      val nPool = s.count()
      val cm = s.groupBy(col("score").as("pv")).agg(count(lit(1)).as("c"))
        .withColumn("cum_hi", sum(col("c")).over(Window.orderBy(col("pv"))
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cum_lo", col("cum_hi") - col("c"))
      s.withColumn("r", rank().over(bySrc.orderBy(col("score"))))
        .withColumn("n_h", count(lit(1)).over(bySrc))
        .filter(col("score").isNotNull && col("src").isNotNull)
        .withColumn("idx", when(col("n_h") === 1, lit((nPool + 1) / 2))
          .otherwise(expr(s"(r - 1) * ($nPool - 1) div (n_h - 1)") + 1))
        .join(cm, col("idx") > col("cum_lo") && col("idx") <= col("cum_hi"))
        .select(col("id"), col("src"), col("score"), col("pv").as("norm_score"))
    }
    // (seed, sources, rows, score range, null-score share, partitions)
    val frames = Seq((1, 2, 60, 8, 0.0, 1), (2, 6, 200, 15, 0.1, 5),
      (3, 2, 90, 40, 0.2, 5), (4, 6, 150, 5, 0.0, 1),
      (5, 3, 120, 1000, 0.05, 3), (6, 6, 80, 12, 0.15, 1))
    for ((seed, nSrc, n, range, nullShare, parts) <- frames) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to n).map { i =>
        val src = s"s${rnd.nextInt(nSrc)}"
        // per-source shift, so sources differ as q167's do
        val sc = if (rnd.nextDouble() < nullShare) None
          else Some((rnd.nextInt(range) + 3 * src.drop(1).toInt).toLong)
        (i.toLong, src, sc)
      } :+ ((n + 1).toLong, "solo", Some(rnd.nextInt(range).toLong))
      val df = rows.toDF("id", "src", "sc").repartition(parts)
      val got = Normalize.quantileNormalize(df, "src", "sc", "id")
      val want = oracle(df)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"seed $seed: operator and oracle disagree")
      val nonNull = rows.count(_._3.nonEmpty)
      assert(got.count() == nonNull, s"seed $seed: null-score rows emitted")
      // the singleton group is emitted; the oracle compare above checks
      // its pooled-median value
      assert(got.filter(col("src") === "solo").count() == 1)
      if (nonNull < rows.size) {
        // null scores are counted: dropping them moves the result
        val dropped = Normalize.quantileNormalize(
          df.filter(col("sc").isNotNull), "src", "sc", "id")
        assert(!(got.exceptAll(dropped).isEmpty
          && dropped.exceptAll(got).isEmpty),
          s"seed $seed: null-score rows were not counted")
      }
    }
  }

  test("neyman allocation chases variance; proportional chases mass") {
    val x = Seq.fill(100)(("x", 5.0))
    val y = (0 until 10).map(i => ("y", if (i % 2 == 0) 0.0 else 100.0))
    val out = Mix.neymanAllocation((x ++ y).toDF("src", "v"), "src",
        col("v"), sampleBudget = 10L)
      .select("src", "n_rows", "sd", "neyman_n", "prop_n")
      .as[(String, Long, Double, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("x")._3 == 0.0 && out("y")._3 == 50.0)
    assert(out("x")._4 == 0L && out("y")._4 == 10L)
    assert(out("x")._5 == 9L && out("y")._5 == 1L)
    // all-zero variance raises instead of dividing by zero
    intercept[Exception] {
      Mix.neymanAllocation(x.toDF("src", "v"), "src", col("v"), 10L)
        .collect()
    }
  }
}
