package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vec
import graft.operators.Similarity
import graft.pipeline.Pins
import graft.queries.Tables

/** Recall-vs-nprobe measurement over the PERSISTED IVF-PQ index — the
  * r14 verdict's operating-point question answered with numbers instead
  * of a guess: q214's graded ingest ran at (nlist = 64, nprobe = 4) and
  * measured mean recall@10 ≈ 0.33, correct per the oracle but a poor
  * production admission check. This main sweeps nprobe for BOTH probe
  * variants — raw ADC ([[Similarity.probeAnnIndex]]) and
  * exact-vector re-rank over the ADC top-candK
  * ([[Similarity.probeAnnIndexRerank]]) — against the brute-force truth,
  * and prints one line per (variant, nprobe) with mean/min recall@10.
  * The measured table lives in PLANS.md (round 15); q217 grades the
  * chosen point under the driver's oracle, q220 the √n-scaled one.
  *
  *   runMain graft.AnnCurve <sfDir> [candK] [m] [k] [nlist] [replicas]
  *
  * `nlist = 0` (default) applies [[Similarity.scaledNlist]] to the
  * corpus; `replicas > 1` sweeps over a [[ScaleProbe.replicate]]d
  * corpus (rotated-decorrelated replica embeddings) — the r16 10x
  * sizing-rule measurement is `AnnCurve <sf0.1> 500 8 64 0 10`
  * (20 000 vectors → nlist 256). */
object AnnCurve {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sys.error("usage: AnnCurve <sfDir>"))
    val candK = args.lift(1).map(_.toInt).getOrElse(50)
    val m = args.lift(2).map(_.toInt).getOrElse(8)
    val k = args.lift(3).map(_.toInt).getOrElse(16)
    val nlist = args.lift(4).map(_.toInt).getOrElse(0)
    val replicas = args.lift(5).map(_.toInt).getOrElse(1)
    val spark = Engine.session()
    try run(spark, sfDir, candK, m, k, nlist, replicas)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, candK: Int, pqM: Int,
      pqK: Int, nlistArg: Int = 0, replicas: Int = 1): Unit = {
    val dataDir = if (replicas <= 1) sfDir else {
      val rd = s"${System.getProperty("java.io.tmpdir")}/graft_anncurve_x$replicas"
      ScaleProbe.replicate(spark, sfDir, rd, replicas)
      rd
    }
    val e = Pins.pin(Tables(spark, dataDir, "embeddings")
      .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec")))
    val nlist =
      if (nlistArg > 0) nlistArg else Similarity.scaledNlist(e.count())
    val q = e.filter(col("vec_id") % 25 === 0 && col("vec_id") < 500)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))

    // q200/q203 default (m=8, k=16); pass m/k to sweep richer codebooks
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_anncurve"
    val hp = new org.apache.hadoop.fs.Path(base)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    Similarity.writeAnnIndex(e, "vec_id", "vec", s"$base/idx", "anncurve",
      m = pqM, k = pqK, nlist = nlist, numBuckets = 16)
    val idx = Similarity.readAnnIndex(spark, s"$base/idx", "anncurve")

    // brute-force truth (q200's contract: round-6 cosine, id tiebreak)
    val c = e.select(col("vec_id").as("neighbor_id"), col("vec").as("cvec"),
      Vec.norm(col("vec")).as("cnrm"))
    val qn = q.select(col("qid").as("query_id"), col("qvec"),
      Vec.norm(col("qvec")).as("qnrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val exact = Pins.pin(c.join(broadcast(qn),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Vec.cosineFromParts(Vec.dot(col("qvec"), col("cvec")),
          col("qnrm"), col("cnrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id")))

    def recall(approx: DataFrame): (Double, Double) = {
      val per = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      val rows = qn.select(col("query_id")).join(per, Seq("query_id"), "left")
        .select(coalesce(col("hits"), lit(0L)).cast("double") / 10.0)
        .collect().map(_.getDouble(0))
      (rows.sum / rows.length, rows.min)
    }

    println(
      f"# sfDir=$dataDir candK=$candK m=$pqM k=$pqK nlist=$nlist" +
        " queries=20 k=10")
    for (nprobe <- Seq(1, 2, 4, 8, 16, 24, 32, 48, 64, 96, 128, 192)
        .filter(_ <= nlist)) {
      val (adcMean, adcMin) = recall(
        Similarity.probeAnnIndex(idx, q, "qid", "qvec", k = 10,
          nprobe = nprobe)
          .select(col("query_id"), col("neighbor_id")))
      val (rrMean, rrMin) = recall(
        Similarity.probeAnnIndexRerank(idx, q, "qid", "qvec", k = 10,
          vectors = e, vecIdCol = "vec_id", vecCol = "vec",
          nprobe = nprobe, candK = candK)
          .select(col("query_id"), col("neighbor_id")))
      println(f"nprobe=$nprobe%2d  adc: mean=$adcMean%.3f min=$adcMin%.2f" +
        f"   rerank$candK: mean=$rrMean%.3f min=$rrMin%.2f")
    }
    Engine.release(spark)
  }
}
