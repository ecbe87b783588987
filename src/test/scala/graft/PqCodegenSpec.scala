package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Vec
import graft.operators.Similarity

/** The production IVF-PQ operating point (nlist = 64, nprobe << nlist) must
  * run with ZERO codegen fallbacks: round 12 measured the folded-residual
  * encode projection exceeding janino's 64 KB method limit at nlist = 64 and
  * Spark silently dropping it to interpreted evaluation (PLANS.md round-12
  * note). This spec pins the fix by running the full encode + search plan
  * under `spark.sql.codegen.fallback=false` + `factoryMode=CODEGEN_ONLY`,
  * where any janino failure THROWS instead of falling back. */
class PqCodegenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 200 deterministic 64-dim vectors, PARQUET-BACKED: the round-12
    * fallback only manifested when the encode projection fused with a
    * parquet scan's columnar-read code into one whole-stage processNext()
    * (a range-backed plan stayed just under the limit), so the repro must
    * scan parquet exactly like the production corpus does. */
  private lazy val corpus: DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-codegen").resolve("emb.parquet").toString
    spark.range(0, 200).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => sin(col("vec_id") * 0.37 + i * 1.13)
            + cos(col("vec_id") % 7 * 2.1 - i * 0.5))
          .cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(dir)
    // the production column is array<float>: the float->double cast loop
    // inlines per reference and is part of what the fused stage must fit
    spark.read.parquet(dir)
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
  }

  private def withCodegenOnly[T](body: => T): T =
    SparkTestSession.withConf("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(body)

  test("residual pqEncode at nlist=64 compiles (no interpreted fallback)") {
    val e = corpus
    val model = Similarity.pqTrainResidual(e, "vec_id", "vec",
      m = 8, k = 16, nlist = 64)
    val enc = Similarity.pqEncode(e, "vec_id", "vec", model)
    // collect(), not count(): count lets column pruning strip the heavy
    // encode expressions out of the stage under test
    val rows = withCodegenOnly(enc.collect())
    assert(rows.length == 200)
    assert(rows.forall(_.getAs[Seq[Byte]]("codes").length == 8))
  }

  test("full IVF-PQ search at nlist=64 nprobe=4 compiles and answers") {
    val e = corpus
    val q = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val model = Similarity.pqTrainResidual(e, "vec_id", "vec",
      m = 8, k = 16, nlist = 64)
    val res = Similarity.pqTopK(e, "vec_id", "vec", q, "qid", "qvec",
      k = 3, model, nlist = 64, nprobe = 4)
    val rows = withCodegenOnly(res.collect())
    assert(rows.length == 8 * 3) // 8 queries x top-3
    // self-match must win rank 1 when the query's own list is probed first
    val r1 = rows.filter(_.getAs[Int]("rank") == 1)
    assert(r1.length == 8)
  }

  test("k=256 codebooks: byte-wrapped codes round-trip unsigned " +
      "(8-bit industry point; self-coded samples rank themselves first)") {
    // codes are stored TINYINT; k = 256 wraps codes 128..255 negative at
    // the storage boundary, and every decode must restore them unsigned
    // (Similarity.codeIdx) — a signed decode either throws
    // INVALID_INDEX_OF_ZERO (code -1 -> element_at index 0, the exact
    // failure the r16 10x AnnCurve sweep hit) or silently reads the
    // wrong codebook entry
    val dir = java.nio.file.Files
      .createTempDirectory("pq-k256").resolve("emb.parquet").toString
    spark.range(0, 400).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => sin(col("vec_id") * 0.37 + i * 1.13)
            + cos(col("vec_id") % 7 * 2.1 - i * 0.5))
          .cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(dir)
    val e = spark.read.parquet(dir)
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
    // RAW path first: pqTrain's k=256 codebook entries ARE the first 256
    // corpus vectors' slices, so sample row i must encode to code i in
    // EVERY subspace — for i > 127 that is a wrapped (negative) byte,
    // and both identities below fail under a signed decode
    val model = Similarity.pqTrain(e, "vec_id", "vec", m = 8, k = 256)
    val enc = Similarity.pqEncode(e, "vec_id", "vec", model)
    val rows = withCodegenOnly(enc.collect())
    assert(rows.length == 400)
    assert(rows.exists(_.getAs[Seq[Byte]]("codes").exists(_ < 0)),
      "no code wrapped past 127 — enlarge the corpus or codebook")
    val byId = rows.map(r =>
      r.getAs[Long]("id") -> r.getAs[Seq[Byte]]("codes")).toMap
    for (id <- Seq(5L, 100L, 131L, 200L, 255L))
      assert(byId(id).forall(b => ((b + 256) % 256) == id),
        s"sample row $id must self-code (unsigned) in every subspace: " +
          byId(id).toList)
    // unsigned DECODE identity: a self-coded row's reconstruction is
    // itself, so pqReconDot(vec, codes) == ||vec||^2 exactly — a signed
    // decode throws INVALID_INDEX_OF_ZERO or reads the wrong entry
    val j = e.join(enc, col("vec_id") === col("id"))
      .filter(col("vec_id").isin(131L, 200L, 255L))
      .select(col("vec_id"),
        Similarity.pqReconDot(col("vec"), col("codes"), model).as("rd"),
        Vec.dot(col("vec"), col("vec")).as("n2"))
    for (r <- withCodegenOnly(j.collect()))
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"row ${r.getLong(0)}: recon dot ${r.getDouble(1)} != " +
          s"norm2 ${r.getDouble(2)}")
    // ADC/LUT path: a planted exact duplicate of a wrapped-code row must
    // come back at cosine exactly 1.0, rank 1 (self is join-excluded) —
    // the 256-wide LUT is built by the native PqLut kernel and indexed
    // through the unsigned decode
    val dup = e.filter(col("vec_id") === 200L)
      .select(lit(9999L).as("vec_id"), col("vec"))
    val q = e.filter(col("vec_id") === 200L)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val res = Similarity.pqTopK(e.unionByName(dup), "vec_id", "vec",
      q, "qid", "qvec", k = 1, model, nlist = 8, nprobe = 8)
    val top = withCodegenOnly(res.collect())
    assert(top.length == 1)
    // rank 1 must score cosine EXACTLY 1.0: sum of the wrapped-code LUT
    // entries == ||x200||^2 — only the unsigned decode produces it. The
    // winner is whichever 1.0-tied row has the smallest id: the planted
    // duplicate (9999) or a row that ENCODED to code 200 (row 319 does —
    // x200 is its nearest codebook entry, so its reconstruction is x200
    // exactly); both reconstructions equal x200, either proves the path.
    assert(top.head.getAs[Double]("cosine") == 1.0 &&
      Set(319L, 9999L).contains(top.head.getAs[Long]("neighbor_id")),
      s"a wrapped-code exact reconstruction must win at 1.0: ${top.toList}")
    // RESIDUAL path at the same codebook size compiles and answers under
    // CODEGEN_ONLY (this exact plan died in janino before the PqLut
    // kernel replaced the unrolled k x VecDot LUT build)
    val rmodel = Similarity.pqTrainResidual(e, "vec_id", "vec",
      m = 8, k = 256, nlist = 8)
    val rres = Similarity.pqTopK(e, "vec_id", "vec", q, "qid", "qvec",
      k = 5, rmodel, nlist = 8, nprobe = 8)
    assert(withCodegenOnly(rres.collect()).length == 5)
  }

  test("ArgmaxCosine is bit-compatible with the array_max struct form") {
    import graft.expressions.ArgmaxCosine
    // centroids: index 1 duplicates index 0 (tie -> smallest index), index
    // 3 is all-zero (null cosine -> never wins)
    val cents = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0, 0.0),
      Seq(0.0, 1.0, 0.5, 0.0), Seq(0.0, 0.0, 0.0, 0.0),
      Seq(-1.0, -1.0, 0.3, 0.9))
    val centMat = array(cents.map(cv => array(cv.map(lit): _*)): _*)
    val vecs = Seq(
      Seq(1.0, 0.0, 0.0, 0.0),   // exact tie between 0 and 1 -> 0
      Seq(0.1, 0.9, 0.4, 0.0),   // -> 2
      Seq(-0.5, -0.5, 0.2, 0.4), // -> 4
      Seq(0.0, 0.0, 0.0, 0.0))   // zero vector: all sims null -> 0
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val structForm = array_max(array(cents.zipWithIndex.map { case (cv, ci) =>
      struct(Vec.cosine(col("v"), array(cv.map(lit): _*)).as("sim"),
        lit(-ci).as("neg"), lit(ci).as("cent_id"))
    }: _*)).getField("cent_id")
    val got = df.select(col("id"),
        ArgmaxCosine.column(col("v"), centMat).as("native"),
        structForm.as("unrolled"))
      .orderBy(col("id")).collect()
    assert(got.map(_.getInt(1)).toSeq == Seq(0, 2, 4, 0))
    assert(got.forall(r => r.getInt(1) == r.getInt(2)))
  }
}
