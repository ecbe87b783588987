package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Persisted IVF-PQ ANN index (Similarity.writeAnnIndex / readAnnIndex /
  * probeAnnIndex / appendToAnnIndex / retractFromAnnIndex /
  * compactAnnIndex): probe == inline pqTopK by construction, model
  * round-trip through meta.json, the one-exchange probe plan, and the
  * same maintenance invariants LshIndexSpec pins for the dedup index. */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Dim = 16

  /** Deterministic clustered-ish corpus, parquet-backed float vectors
    * (the production schema). */
  private lazy val corpus: DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("annidx").resolve("emb.parquet").toString
    spark.range(0, 120).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)),
          i => sin(col("vec_id") * 0.37 + i * 1.13)
            + cos(col("vec_id") % 5 * 2.1 - i * 0.5))
          .cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
  }

  private def queriesOf(c: DataFrame) = c.filter(col("vec_id") % 30 === 0)
    .select(col("vec_id").as("qid"), col("vec").as("qvec"))

  private def tmp() =
    java.nio.file.Files.createTempDirectory("annidx").toString

  private def topk(df: DataFrame) = df
    .collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("neighbor_id"),
      math.rint(r.getAs[Double]("cosine") * 1e6)))
    .sorted.toSeq

  test("probe over the persisted index == inline pqTopK (residual model)") {
    val path = tmp()
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec", path,
      "annspec_eq", m = 4, k = 8, nlist = 8, numBuckets = 4)
    val got = topk(Similarity.probeAnnIndex(idx, queriesOf(corpus),
      "qid", "qvec", k = 5, nprobe = 3))
    val model = Similarity.pqTrainResidual(corpus, "vec_id", "vec",
      m = 4, k = 8, nlist = 8)
    val want = topk(Similarity.pqTopK(corpus, "vec_id", "vec",
      queriesOf(corpus), "qid", "qvec", k = 5, model, nlist = 8,
      nprobe = 3))
    assert(got.nonEmpty && got == want)
  }

  test("readAnnIndex replays the model from meta.json (cross-session)") {
    val path = tmp()
    val written = Similarity.writeAnnIndex(corpus, "vec_id", "vec", path,
      "annspec_xs", m = 4, k = 8, nlist = 8, numBuckets = 4)
    val expected = topk(Similarity.probeAnnIndex(written,
      queriesOf(corpus), "qid", "qvec", k = 5, nprobe = 3))
    spark.sql(s"DROP TABLE ${written.listsTable}")
    val idx = Similarity.readAnnIndex(spark, path, "annspec_xs")
    // exact model round-trip: doubles through Double.toString
    assert(idx.meta.model == written.meta.model)
    assert(idx.meta.numBuckets == 4)
    val got = topk(Similarity.probeAnnIndex(idx, queriesOf(corpus),
      "qid", "qvec", k = 5, nprobe = 3))
    assert(got == expected)
    // a meta.json missing a field fails loudly, naming field and file
    val text = MetaJson.read(path)
    MetaJson.write(path, text.replace("\"numBuckets\":4,", ""))
    val e = intercept[IllegalArgumentException] {
      Similarity.readAnnIndex(spark, path, "annspec_xs")
    }
    assert(e.getMessage.contains("numBuckets") &&
      e.getMessage.contains(s"$path/meta.json"), e.getMessage)
  }

  test("probe join: the index side contributes NO exchange (bucketed scan)") {
    val path = tmp()
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec", path,
      "annspec_plan", m = 4, k = 8, nlist = 8, numBuckets = 4)
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = Similarity.probeAnnIndex(idx, queriesOf(corpus),
        "qid", "qvec", k = 5, nprobe = 3)
      val plan = probe.queryExecution.executedPlan.toString
      // all three exchanges belong to the QUERY side (routing window on
      // id, candidate-join key on cent_id, rank window on query_id); the
      // LISTS side must scan bucketed with no exchange of its own, and
      // the join key must be the raw int cent_id — a cast would disable
      // the bucketed scan
      val nExchanges = "Exchange hashpartitioning".r
        .findAllMatchIn(plan).size
      assert(nExchanges == 3,
        s"expected 3 query-side exchanges, got $nExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"index side must read as a bucketed scan:\n$plan")
      // the query side carries a projection cast (benign); the JOIN KEYS
      // themselves must be cast-free or the bucketed side re-shuffles
      assert(!"(?:SortMergeJoin|ShuffledHashJoin) \\[cast".r
          .findFirstIn(plan).isDefined,
        s"the candidate join must not cast the bucketed key:\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("append with the persisted model == index rebuilt from scratch") {
    val batch = corpus.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("vec"), x => x * 1.01).as("vec"))
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec", tmp(),
      "annspec_app", m = 4, k = 8, nlist = 8, numBuckets = 4)
    Similarity.appendToAnnIndex(idx, batch, "vec_id", "vec")
    val got = topk(Similarity.probeAnnIndex(idx, queriesOf(corpus),
      "qid", "qvec", k = 5, nprobe = 3))
    // the rebuilt reference must train on the ORIGINAL corpus only (the
    // persisted model is frozen at write time), then absorb the batch
    val full = Similarity.writeAnnIndex(corpus, "vec_id", "vec", tmp(),
      "annspec_app_full", m = 4, k = 8, nlist = 8, numBuckets = 4)
    Similarity.appendToAnnIndex(full, batch, "vec_id", "vec")
    val want = topk(Similarity.probeAnnIndex(full, queriesOf(corpus),
      "qid", "qvec", k = 5, nprobe = 3))
    assert(got.nonEmpty && got == want)
    // near-identical appended twins must surface for their originals
    assert(got.exists(_._3 >= 1000L),
      s"appended near-twins should reach the top-5: $got")
  }

  test("retraction hides ids; compaction applies tombstones and packs buckets") {
    val path = tmp()
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec", path,
      "annspec_rtr", m = 4, k = 8, nlist = 8, numBuckets = 4)
    // two appends -> multiple files per bucket
    val b1 = corpus.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 1000).as("vec_id"), col("vec"))
    val b2 = corpus.filter(col("vec_id") % 4 === 1)
      .select((col("vec_id") + 2000).as("vec_id"), col("vec"))
    Similarity.appendToAnnIndex(idx, b1, "vec_id", "vec")
    Similarity.appendToAnnIndex(idx, b2, "vec_id", "vec")
    def files(dir: String) = {
      val d = new java.io.File(dir)
      if (!d.exists()) Seq.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
    }
    val before = files(idx.listsDir).size
    assert(before > 4, s"two appends must leave >numBuckets files: $before")
    // retract the b1 ids: probes must equal an index without them
    Similarity.retractFromAnnIndex(idx, b1.select(col("vec_id")), "vec_id")
    val got = topk(Similarity.probeAnnIndex(idx, queriesOf(corpus),
      "qid", "qvec", k = 5, nprobe = 3))
    assert(!got.exists(p => p._3 >= 1000L && p._3 < 2000L),
      s"retracted ids must not surface: $got")
    // compaction: physically applied, tombstones cleared, 1 file/bucket
    val compacted = Similarity.compactAnnIndex(spark, idx)
    assert(compacted.gen == 1 && files(compacted.listsDir).size <= 4)
    assert(files(s"$path/lists").isEmpty, "gen-0 dir retention-swept")
    assert(!new java.io.File(s"$path/tombstones").exists())
    assert(topk(Similarity.probeAnnIndex(compacted, queriesOf(corpus),
      "qid", "qvec", k = 5, nprobe = 3)) == got)
    // a fresh catalog resolves the committed generation
    spark.sql(s"DROP TABLE ${compacted.listsTable}")
    val reopened = Similarity.readAnnIndex(spark, path, "annspec_rtr")
    assert(reopened.gen == 1)
    assert(topk(Similarity.probeAnnIndex(reopened, queriesOf(corpus),
      "qid", "qvec", k = 5, nprobe = 3)) == got)
  }

  test("writeAnnIndex refuses non-BIGINT ids") {
    val bad = Seq((1, Seq(1.0, 2.0))).toDF("vec_id", "vec")
    val e = intercept[IllegalArgumentException] {
      Similarity.writeAnnIndex(bad, "vec_id", "vec", tmp(), "annspec_bad",
        m = 1, k = 2, nlist = 2)
    }
    assert(e.getMessage.contains("BIGINT"))
  }

  // ------------------------------------------------------------- re-rank

  /** Exact brute-force top-k with the probe contract's order (round-6
    * cosine desc, neighbor id asc), computed in plain Scala. */
  private def bruteTopK(c: Seq[(Long, Seq[Double])], k: Int)
      : Map[Long, Seq[Long]] = {
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val qs = c.filter(_._1 % 30 == 0)
    qs.map { case (qid, qv) =>
      val qn = math.sqrt(dot(qv, qv))
      qid -> c.filter(_._1 != qid).map { case (id, v) =>
        val cos = math.rint(dot(qv, v) / (qn * math.sqrt(dot(v, v))) * 1e6)
        (-cos, id)
      }.sorted.take(k).map(_._2)
    }.toMap
  }

  test("rerank at full routing and candK >= corpus == exact brute force") {
    // with every list probed and no candidate cut, the re-rank IS the
    // exact top-k: quantization decides nothing, the output order is the
    // round-6 exact-cosine contract — the recall-1.0 anchor of the
    // PLANS.md r15 operating-point curve
    val path = tmp()
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec", path,
      "annspec_rr", m = 4, k = 8, nlist = 8, numBuckets = 4)
    val got = Similarity.probeAnnIndexRerank(idx, queriesOf(corpus),
        "qid", "qvec", k = 5, vectors = corpus, vecIdCol = "vec_id",
        vecCol = "vec", nprobe = 8, candK = 200)
      .orderBy(col("query_id"), col("rank"))
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val rows = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(got == bruteTopK(rows, 5))
  }

  test("rerank candidates come from the ADC probe: a routed-away true " +
      "neighbor stays missing (routing is the only residual loss)") {
    val path = tmp()
    val idx = Similarity.writeAnnIndex(corpus, "vec_id", "vec", path,
      "annspec_rr2", m = 4, k = 8, nlist = 8, numBuckets = 4)
    // nprobe = 1: candidates confined to each query's best list — the
    // re-ranked output must be the exact order RESTRICTED to the ADC
    // candidate set (subset check), never better than routing allows
    val cands = Similarity.probeAnnIndex(idx, queriesOf(corpus),
        "qid", "qvec", k = 200, nprobe = 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = Similarity.probeAnnIndexRerank(idx, queriesOf(corpus),
        "qid", "qvec", k = 5, vectors = corpus, vecIdCol = "vec_id",
        vecCol = "vec", nprobe = 1, candK = 200)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rr.nonEmpty && rr.subsetOf(cands),
      "re-ranked neighbors must be drawn from the routed candidate set")
  }
}
