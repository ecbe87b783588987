package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-source quantile normalization (the microarray-era technique,
  * Bolstad 2003, applied to corpus quality scores) — map each
  * source's score distribution onto the POOLED distribution by rank,
  * so a score is comparable across sources whose scorers drift (one
  * crawl's length distribution runs long, one quality model is
  * systematically generous). After normalization the p-th percentile
  * of every source carries the same value, so a single global
  * threshold (keep top-X%) cuts every source fairly — the alternative
  * per-source thresholds are exactly what q76-style quality sampling
  * has to hand-tune.
  *
  * Determinism: the target index is computed in INTEGER arithmetic —
  * idx = ⌊(r−1)(N−1)/(n_h−1)⌋ + 1 via integer multiply-then-divide
  * (a float product of the same rationals lands on either side of an
  * integer boundary depending on the engine); rank() gives tied
  * scores the same rank and therefore the same normalized value.
  *
  * Plan: the per-source rank and the pooled ladder are both prefix
  * counts in ONE order (the score), so one range partitioning serves
  * both. The rows are range-partitioned on the score (every score's
  * peers, from every source, land in one partition), stamped with
  * their partition id, hash-partitioned on that id (so every later
  * window keyed by the id shares one exchange) and pinned: the layout
  * is sampled and feeds two consumers, the metadata branch and the
  * data branch (the [[Budget.cumulativeSum]] determinism contract).
  *   - Metadata: counts per (partition, source) — #partitions ×
  *     #sources rows — give, through windows over that frame alone,
  *     each segment's exclusive per-source offset and n_h, and each
  *     partition's exclusive pooled offset and N. Pinned (both the
  *     probe and the span side read it) and broadcast back.
  *   - Data: windows keyed by the partition id (bounded by partition
  *     size, never by source size): r = source offset + rank() within
  *     (partition, source); the pooled ladder span of a row's score is
  *     (cum_hi − c, cum_hi] with cum_hi = pooled offset + the
  *     partition-local count up to and including its peers and c the
  *     count of its peers. One row per distinct score carries its span.
  * The idx→value lookup is a bucketed equi-join: probe rows key on
  * idx div B, ladder spans replicate onto the ≤ span/B+1 buckets they
  * cover, and the exact (cum_lo, cum_hi] containment filters after the
  * bucket match. Nothing corpus-derived is broadcast, windowed
  * globally or per-source, or collected.
  *
  * Nulls: a null score sorts first and counts in n_h, N and every
  * rank; a row with a null score or a null source is counted but not
  * emitted. */
object Normalize {

  private val PidCol = graft.pipeline.RowIds.PidCol

  /** Bucket width for the idx→ladder-span equi-join: spans replicate
    * once per B-wide bucket they cover, so build-side inflation is
    * ≤ N/B + |ladder| rows while each bucket's join stays local. */
  private val BucketWidth = 65536L

  /** Output: (idCol, groupCol, score, norm_score) — norm_score is the
    * idx-th smallest pooled score. Groups of size 1 map to the pooled
    * median index (N+1)/2. */
  def quantileNormalize(df: DataFrame, groupCol: String,
      scoreCol: String, idCol: String): DataFrame = {
    val score = col("score")
    val s = df.select(col(idCol), col(groupCol),
      col(scoreCol).cast("long").as("score"))
    val sorted = graft.pipeline.Pins.pin(s.repartitionByRange(score)
      .withColumn(PidCol, spark_partition_id().cast("long"))
      .repartition(col(PidCol))
      .sortWithinPartitions(col(PidCol), score, col(groupCol)))
    // one row per (partition, source) — metadata-sized
    val seg = sorted.groupBy(col(PidCol), col(groupCol))
      .agg(count(lit(1)).as("__n"))
    val byGroup = Window.partitionBy(col(groupCol))
    val pooledBefore = Window.orderBy(col(PidCol))
      .rangeBetween(Window.unboundedPreceding, -1)
    // pinned: the probe side (__goff, n_h, n_pool) and the span side
    // (__poff) prune it differently, and unpinned each would run its own
    // single-partition window pass over the segment counts
    val offs = graft.pipeline.Pins.pin(seg.select(
      col(PidCol).as("__opid"), col(groupCol).as("__og"),
      coalesce(sum(col("__n")).over(byGroup.orderBy(col(PidCol))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("__goff"),
      sum(col("__n")).over(byGroup).as("n_h"),
      coalesce(sum(col("__n")).over(pooledBefore), lit(0L)).as("__poff"),
      sum(col("__n")).over().as("n_pool")))
    val inSeg = Window.partitionBy(col(PidCol), col(groupCol)).orderBy(score)
    val inPart = Window.partitionBy(col(PidCol)).orderBy(score)
    val peers = Window.partitionBy(col(PidCol), score)
    val ranked = sorted
      .join(broadcast(offs), col(PidCol) === col("__opid")
        && col(groupCol) <=> col("__og"))
      .withColumn("r", col("__goff") + rank().over(inSeg))
      .withColumn("cum_hi", col("__poff") + count(lit(1)).over(inPart))
      .withColumn("cum_lo", col("cum_hi") - count(lit(1)).over(peers))
    val ix = ranked.filter(score.isNotNull && col(groupCol).isNotNull)
      .withColumn("idx",
        when(col("n_h") === 1, expr("(n_pool + 1) div 2"))
          .otherwise(
            expr("(r - 1) * (n_pool - 1) div (n_h - 1)") + 1))
      .select(col(idCol), col(groupCol), score, col("idx"),
        expr(s"(idx - 1) div $BucketWidth").as("__pb"))
    // one span per distinct score: (cum_lo, cum_hi] covers idx-1 in
    // [cum_lo, cum_hi-1] — one replica per covered bucket
    val spans = ranked
      .withColumn("__rn", row_number().over(peers.orderBy(score)))
      .filter(col("__rn") === 1)
      .select(score.as("pv"), col("cum_lo"), col("cum_hi"),
        explode(sequence(expr(s"cum_lo div $BucketWidth"),
          expr(s"(cum_hi - 1) div $BucketWidth"))).as("__lb"))
    ix.join(spans, col("__pb") === col("__lb")
        && col("idx") > col("cum_lo") && col("idx") <= col("cum_hi"))
      .select(col(idCol), col(groupCol), score,
        col("pv").as("norm_score"))
  }
}
