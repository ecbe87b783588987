package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe: times named registry queries at a base SF and
  * at a replicate-and-perturb ~Rx blow-up of the same corpus, reporting
  * the time-vs-scale exponent per query (log t_R/t_1 / log R). The 100-TB
  * posture is proven STRUCTURALLY by PlanGuardSpec (no few-key windows,
  * bucketed candidate generation); this main is the measured complement:
  * anything super-linear beyond its algorithmic bound shows up as an
  * exponent well above 1 and goes to PLANS.md.
  *
  * Replication is seed-deterministic and id-shifted: copy r carries
  * ids + r * 10_000_000 so joins/dedups never collide across replicas,
  * and string/text columns get a per-replica token appended so replicas
  * are near- but not exact-duplicates (keeps dedup/LSH selectivity
  * realistic instead of exploding every bucket with exact clones).
  *
  *   runMain graft.ScaleProbe <baseSfDir> <replicas> <outDir> q1,q2,...
  *
  * Writes the replicated tables under <outDir>/sfRx once (reused when
  * present), then prints one line per query per scale plus the exponent
  * table. */
object ScaleProbe {

  private val Tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

  /** Columns shifted per replica so cross-replica keys never collide. */
  private val IdShift = 10000000L
  private val IdCols = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  /** One text column per table perturbed so replicas aren't exact dupes. */
  private val PerturbCols = Map("documents" -> "text", "part" -> "p_name")

  /** Per-replica text rewrite. A suffix APPENDED to the doc is not
    * enough for the shingle-based dedup family: two replicas of the same
    * doc would still share almost every 3-gram shingle, handing every
    * doc ~R near-identical cross-replica copies — the measured "scaling"
    * would then be the output pair set exploding quadratically in R, not
    * the engine. Tagging EVERY word (`w -> w·rN`) zeroes cross-replica
    * shingle overlap while preserving each replica's internal near-dup
    * structure (both members of a planted pair get the same rewrite). */
  private def perturbText(c: org.apache.spark.sql.Column, r: Int) =
    regexp_replace(c, "(\\S+)", "$1" + s"r$r")

  def replicate(spark: SparkSession, baseDir: String, outDir: String,
      replicas: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (tbl <- Tables) {
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/$tbl.parquet")
      if (!fs.exists(dst)) {
        val base = spark.read.parquet(s"$baseDir/$tbl.parquet")
        val out =
          if (!IdCols.contains(tbl)) base // region/nation: tiny dims, as-is
          else (0 until replicas).map { r =>
            val shifted = IdCols(tbl).foldLeft(base) { (df, c) =>
              df.withColumn(c, col(c) + lit(r.toLong * IdShift))
            }
            val perturbed = PerturbCols.get(tbl) match {
              case Some(tc) if r > 0 =>
                shifted.withColumn(tc, perturbText(col(tc), r))
              case _ => shifted
            }
            // rotate replica embeddings so cross-replica vectors are
            // DECORRELATED, not exact clones — identical clones would blow
            // every cosine-threshold pair set quadratically and measure
            // output explosion, not engine scaling
            if (tbl == "embeddings" && r > 0) {
              val a = col("embedding")
              val rot = pmod(lit(r * 7 + 1), size(a))
              perturbed.withColumn("embedding",
                concat(slice(a, rot + 1, size(a) - rot), slice(a, lit(1), rot)))
            } else perturbed
          }.reduce(_ unionByName _)
        out.write.mode("overwrite").parquet(dst.toString)
        System.err.println(s"[scale] wrote $dst")
      }
    }
  }

  /** Production operating points for the two super-linear GRADED configs
    * (PLANS.md round-12 notes on q95/q134): the same operators at the
    * parameters their own scaladocs/comments prescribe for large corpora.
    * The graded registry queries deliberately pin scale-hostile parameters
    * (q95: nprobe = nlist exhaustive probe so only PQ quantization is
    * under oracle contract; q134: fixed blocking-key cardinality), so their
    * measured exponents hit their documented algorithmic bounds. These
    * probe-only twins measure the shapes a deployment would run. */
  private def extraProbes
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // q95's production shape: nprobe << nlist and an EXTERNAL (corpus-size-
    // independent) query set — the ADC candidate space is Q * n * nprobe /
    // nlist and the encode n * nlist, both linear in n at fixed parameters.
    "p95_ivfpq_prod" -> ((s, dir) => {
      import graft.functions.Vec
      import graft.operators.Similarity
      val e = queries.Tables(s, dir, "embeddings")
        .select(col("vec_id"), Vec.asDouble(col("embedding")).as("vec"))
      // replica-0 ids only: the same 200 queries at every scale
      val q = e.filter(col("vec_id") % 25 === 0 && col("vec_id") < IdShift)
        .select(col("vec_id").as("qid"), col("vec").as("qvec"))
      val model = Similarity.pqTrainResidual(e, "vec_id", "vec",
        m = 8, k = 16, nlist = 64)
      Similarity.pqTopK(e, "vec_id", "vec", q, "qid", "qvec",
        k = 3, model, nlist = 64, nprobe = 4)
    }),
    // q159's production hash swap, as an ISOLATED measured pair: the md5
    // variant is the graded query's hot loop (kept for oracle
    // portability; per-gram md5 allocates a hex string per character
    // window), the xxhash64 variant the production swap the Winnow
    // scaladoc prescribes. Same fixture, same selection logic — the
    // base_s difference IS the swap's measured payoff (VERDICT r12
    // item 4; invariants spec-pinned in WinnowSpec).
    "p159_winnow_md5" -> ((s, dir) => winnowShape(s, dir, "md5")),
    "p159_winnow_xxh" -> ((s, dir) => winnowShape(s, dir, "xxhash64")),
    // q206's production DISTRIBUTION: Zipfian vocabulary shared across
    // replicas. The lane's replicate-and-perturb tags every word per
    // replica, so the graded q206 corpus decorrelates and its exponent
    // reads ~linear BY CONSTRUCTION — a lost prefix prune would be
    // invisible under the 1.2 bound (VERDICT r14 item 4). Here tokens
    // derive from doc_id ARITHMETIC (slot-scoped Zipf via inverse-CDF
    // over an xxhash64 uniform), so the id shift changes nothing about
    // the vocabulary: head tokens' posting lists grow with the corpus
    // and the prefix filter is the only thing between the candidate join
    // and the head postings' quadratic pair space — lose the prune and
    // this exponent reads ~2, not ~1. Planted near-dup pairs (23 of 24
    // slots shared) keep the verify stage non-trivial; random docs share
    // ~1/3 of slots (cos ≈ 0.33), far under the 0.8 threshold.
    "p206_allpairs_zipf" -> ((s, dir) => zipfAllPairs(s, dir)),
    // q212's ladder through the RELIABLE checkpoint path (the cluster
    // posture rankLadder offers but the registry runs localCheckpoint-
    // only): same corpus, same cut, plus per-level HDFS-API writes and
    // the release-time file sweeps. SuffixArraySpec pins result equality
    // with the localCheckpoint path; this row keeps the checkpointed
    // ladder's SCALING CLASS under the recurring lane (VERDICT r15
    // item 4).
    "p212_ckpt_ladder" -> ((s, dir) => {
      import graft.operators.SuffixArray
      val ck = s"${System.getProperty("java.io.tmpdir")}/graft_p212_ckpt_" +
        java.security.MessageDigest.getInstance("MD5").digest(
          dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      val fs = new org.apache.hadoop.fs.Path(ck)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(ck), true)
      SuffixArray.exactSubstrCut(
        queries.Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", length = 16, checkpointDir = Some(ck))
    }),
    // q134's production shape: blocking granularity scales with the corpus
    // (bucket width ~ 1/n) so block SIZES stay constant and the candidate
    // pair space stays ~ n. Scoring fields are q134's (the coarse
    // bal_bucket stays a scored field; only the BLOCKING key is refined).
    "p134_linkage_scaled" -> ((s, dir) => {
      import graft.operators.Linkage
      import graft.operators.Linkage.FsField
      val base = queries.Tables(s, dir, "customer").select(
        col("c_custkey").cast("long").as("id"),
        concat(lit("cust"), col("c_custkey").cast("string")).as("name"),
        col("c_mktsegment").as("seg"),
        col("c_nationkey").cast("long").as("nat"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
        col("c_acctbal").as("bal"))
      // one metadata count sets the granularity (the AQE-style stats read
      // a production pipeline does before choosing blocking keys)
      val n = base.count()
      val width = math.max(0.1, 1000.0 * 15000.0 / n.toDouble)
      val keyed = base
        .withColumn("blk", floor(col("bal") / lit(width)).cast("long"))
        .drop("bal")
      val dirty = keyed.filter(col("id") % 4 === 0)
        .withColumn("id", col("id") + 100000000L)
        .withColumn("name", concat(col("name"), lit("x")))
      val exact = keyed.filter(col("id") % 10 === 0)
        .withColumn("id", col("id") + 200000000L)
      val recs = keyed.unionByName(dirty).unionByName(exact)
      val pairs = recs.select(col("id"), col("nat"), col("blk")).as("a")
        .join(recs.select(col("id"), col("nat"), col("blk")).as("b"),
          col("a.nat") === col("b.nat") && col("a.blk") === col("b.blk")
            && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      Linkage.fellegiSunter(recs.drop("blk"), "id", pairs,
          Seq(FsField("name", 0.95), FsField("seg", 0.9),
            FsField("bal_bucket", 0.85)),
          upperT = 4.0, lowerT = 0.0)
        .filter(col("decision") =!= "non_match")
    }))

  /** The Zipf corpus + exact all-pairs join behind p206_allpairs_zipf.
    * Each document is `slots` tokens; slot j of doc i draws a slot-scoped
    * Zipf index k = ceil(u^-2), u uniform from xxhash64(doc_id, j) —
    * P(k) ∝ k^-1.5, head-heavy with P(k=1) ≈ 0.29: slot token s<j>_z1
    * appears in ~29% of ALL docs (every replica included), so its
    * posting list grows with the corpus and an unpruned join pays its
    * square — while at threshold 0.9 a doc's ~5-token Bayardo prefix is
    * its five RAREST slots, which are head tokens with probability
    * ~1e-5 (needs ≥ 20 of 24 slots at k ≤ 2, mean 10): the pruned
    * candidate space stays rare-token-bounded. Docs with
    * doc_id % 101 == 0 get a planted near-duplicate (+5e8, one slot
    * rewritten): 23/24 shared slots, cosine ≈ 0.958 ≥ the threshold. */
  private[graft] def zipfDocs(s: SparkSession, dir: String,
      slots: Int = 24, vcap: Int = 2000): DataFrame =
    zipfDocsFromIds(
      queries.Tables(s, dir, "documents").select(col("doc_id")),
      slots, vcap)

  private[graft] def zipfDocsFromIds(ids: DataFrame,
      slots: Int = 24, vcap: Int = 2000): DataFrame = {
    def tok(j: Int, salt: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      val u = (pmod(xxhash64(col("doc_id") + salt, lit(j)), lit(999983L))
        .cast("double") + 1.0) / 999984.0
      concat(lit(s"s${j}_z"),
        least(ceil(lit(1.0) / (u * u)), lit(vcap)).cast("long")
          .cast("string"))
    }
    val base = ids.select(col("doc_id"),
      concat_ws(" ", (0 until slots).map(j => tok(j, lit(0))): _*).as("text"))
    val planted = ids.filter(col("doc_id") % 101 === 0)
      .select((col("doc_id") + 500000000L).as("__pid"), col("doc_id"))
      .select(col("__pid"),
        concat_ws(" ", (0 until slots).map(j =>
          if (j == 0) tok(j, lit(7919)) else tok(j, lit(0))): _*).as("text"))
      .withColumnRenamed("__pid", "doc_id")
    base.unionByName(planted)
  }

  private def zipfAllPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.AllPairs.cosineJoin(zipfDocs(s, dir), "doc_id", "text",
      threshold = 0.9)

  /** q159's exact shape parameterized by the per-gram hash function. */
  private def winnowShape(s: SparkSession, dir: String,
      hashSql: String): DataFrame = {
    val d0 = queries.Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val planted = d0.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("COPIED WITH A SHIFTED PREFIX >> "), col("text"))
          .as("text"))
    val fps = graft.operators.Winnow.fingerprints(
      d0.unionByName(planted), "doc_id", "text", k = 5, w = 4,
      hashSql = hashSql)
    graft.operators.Winnow.sharedFingerprintPairs(
        fps, "doc_id", minShared = 8, dfCap = 64)
      .orderBy(col("id_a"), col("id_b"))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val replicas = args(1).toInt
    val outDir = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq

    val spark = Engine.session()

    replicate(spark, baseDir, outDir, replicas)

    val registry = queries.Queries.all.map(q => q.name -> q.spark).toMap ++
      extraProbes
    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try {
        registry(name)(spark, dir).write.mode("overwrite")
          .format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Exception =>
          System.err.println(s"[scale] $name FAILED at $dir: ${e.getMessage}")
          -1.0
      } finally Engine.release(spark)
    }

    // one warm-up + min-of-N at each scale, base first (JIT warm for both)
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val rows = names.map { n =>
      timed(n, baseDir)
      val t1 = (1 to nRuns).map(_ => timed(n, baseDir)).filter(_ >= 0)
      timed(n, outDir)
      val tR = (1 to nRuns).map(_ => timed(n, outDir)).filter(_ >= 0)
      val (b, r) =
        (if (t1.nonEmpty) t1.min else -1.0, if (tR.nonEmpty) tR.min else -1.0)
      val exp =
        if (b > 0 && r > 0) math.log(r / b) / math.log(replicas.toDouble)
        else Double.NaN
      System.err.println(f"[scale] $n%-28s base $b%7.2f s  x$replicas $r%7.2f s  exponent $exp%5.2f")
      (n, b, r, exp)
    }
    val json = rows.map { case (n, b, r, e) =>
      f"""{"name":"$n","base_s":$b%.3f,"x${replicas}_s":$r%.3f,"exponent":${if (e.isNaN) "null" else f"$e%.3f"}}"""
    }.mkString("[", ",", "]")
    println(s"""{"replicas":$replicas,"base":"$baseDir","rows":$json}""")
    spark.stop()
  }
}
