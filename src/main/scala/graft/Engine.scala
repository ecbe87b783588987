package graft

import org.apache.spark.sql.SparkSession

/** The two decisions every main shares: the session posture it runs
  * under and the release it performs at each run boundary. Bench,
  * Verify, Plans, ScaleProbe, AnnCurve, the parity dumps, ContactsMain
  * and ApiMain all open their session and end their runs here, so the
  * oracle-verified plans, the benched plans, the audited plans and the
  * served plans are the same plans. */
object Engine {

  /** Local cores, from `SPARK_GRAFT_CPUS` (default 32). */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The session settings. */
  def posture(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // sized for interleaved sweeps: the default generated-class cache
    // (100 entries) holds ~15 queries' codegen units, so with ~90
    // queries per sweep every class is evicted before the SAME query's
    // next sample and each timed pass re-pays Janino compilation + JIT
    // — the cost the warm-up sweep exists to absorb (measured: +32%
    // on the registry total when this was left at default)
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // allow shuffled-hash join where Spark's size conditions hold
    // (guide §3.1/§9: SHJ skips both sides' sorts). The fallback to SMJ
    // is decided from STATS ESTIMATES (canBuildLocalHashMap), not
    // runtime sizes — a misestimated build side builds a non-spilling
    // hash map (ADVICE r16) — so the r17 audit enumerated every query
    // whose strategy changes under this flag (20; PLANS.md round 17):
    // each SHJ builds on a unique-key id-universe frame (no hot key
    // can concentrate one build map) and the measured A/B delta at
    // sf0.1 is a wash (median ratio 0.997).
    "spark.sql.join.preferSortMergeJoin" -> "false")

  /** A session with [[posture]] at [[cpus]] cores. */
  def session(logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder().config(posture(cpus).toMap).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Run-end release: operator pins ([[graft.pipeline.Pins.flush]]),
    * then every CacheManager entry, then every persistent RDD — the
    * localCheckpoint'd frames (Budget/RowIds pinned partitionings, the
    * CC label frame) bypass the CacheManager. Helper caches built during
    * one run (postings, signatures, exploded lines) would otherwise
    * satisfy the next run's
    * identical plan fragments and accumulate in executor storage for the
    * lifetime of a served session. Never aborts its caller.
    *
    * CONSTRAINT: correct only at a boundary after which nothing reads the
    * run's frames. A localCheckpoint'd frame has truncated lineage, so
    * reading it AFTER this release throws ("checkpoint block not found")
    * rather than recomputing. ApiMain relies on its runs being fully
    * serialized (single-thread run executor) and on each stage
    * materializing its results before returning; do not widen that pool
    * or return lazily-consumed frames from stages without revisiting it. */
  def release(spark: SparkSession): Unit =
    try {
      graft.pipeline.Pins.flush()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    } catch { case e: Throwable =>
      System.err.println(s"[release] ${e.getMessage}")
    }
}
