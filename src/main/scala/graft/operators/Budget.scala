package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global cumulative sums and token-budget corpus selection.
  *
  * The naive plan — `sum(x).over(Window.orderBy(...))` with no partitionBy —
  * funnels the whole corpus through ONE task. The scale-safe plan is the
  * classic two-phase distributed prefix sum:
  *
  *   1. Range-repartition on the global sort key (equal keys co-located) and
  *      sort within partitions — a normal parallel sort, no single task.
  *   2. Per-partition subtotals are METADATA (one row per partition), so the
  *      cross-partition prefix offsets come from a window over that tiny
  *      aggregate only.
  *   3. Offsets broadcast back on partition id; each row's global cumulative
  *      value = partition offset + its partition-local running sum (a
  *      partitionBy(pid) window — every task holds one partition, bounded).
  *
  * Result is value-identical to the unpartitioned window at any scale.
  */
object Budget {

  private val PidCol = graft.pipeline.RowIds.PidCol
  private val SubCol = "__graft_sub"
  private val SubCntCol = "__graft_subcnt"
  private val OffCol = graft.pipeline.RowIds.OffCol
  private val OffCntCol = "__graft_offcnt"

  /** Global running sum of `value` in `order`, written to `outCol`, without
    * an unpartitioned window. Ties across partitions are impossible (range
    * partitioning co-locates equal keys); ties within a partition follow
    * `order`, exactly like the naive window. The metadata prefix-offset
    * step is shared with [[graft.pipeline.RowIds]]. */
  def cumulativeSum(df: DataFrame, order: Seq[Column], value: Column,
      outCol: String): DataFrame = {
    // null semantics must match the naive window exactly: sum(...) OVER
    // skips nulls, and is null only while NO non-null value has been seen
    // yet globally. Treat null values as 0 for the arithmetic and carry a
    // parallel running COUNT of non-null values to restore the
    // null-until-first-value behavior.
    val v0 = coalesce(value, lit(0L))
    val vCnt = when(value.isNotNull, lit(1L)).otherwise(lit(0L))
    // `sorted` is consumed TWICE (subtotal agg + data join). Without pinning,
    // correctness would silently depend on Spark reusing one exchange for
    // both branches: range partitioning samples its bounds, so two
    // independent executions could place rows in different partitions and
    // the offsets would no longer line up with the data. persist() pins it:
    // both consumers read through ONE InMemoryRelation under any
    // exchange-reuse setting. persist over localCheckpoint deliberately —
    // localCheckpoint(eager=false) is NOT lazy under AQE (the adaptive plan
    // materializes at construction), truncates lineage (executor loss =
    // unrecoverable job), and hides the subtree from explain(); the cache
    // is recoverable (lost blocks recompute through the already-bound
    // partitioner) and is released by [[graft.pipeline.Pins.flush]] at run
    // boundaries.
    val sorted = graft.pipeline.Pins.pin(
      df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
        .withColumn(PidCol, spark_partition_id().cast("long")))
    // one row per partition — safe for a global window
    val subtotals = sorted.groupBy(col(PidCol))
      .agg(sum(v0).as(SubCol), sum(vCnt).as(SubCntCol))
    val offsets = graft.pipeline.RowIds.prefixOffsets(subtotals, SubCol)
      .join(graft.pipeline.RowIds.prefixOffsets(
        subtotals.select(col(PidCol), col(SubCntCol).as(SubCol)), SubCol)
        .withColumnRenamed(OffCol, OffCntCol), Seq(PidCol))
    val localW = Window.partitionBy(col(PidCol)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    sorted
      .join(broadcast(offsets), Seq(PidCol))
      .withColumn(outCol,
        when(col(OffCntCol) + sum(vCnt).over(localW) > 0,
          col(OffCol) + sum(v0).over(localW)))
      .drop(PidCol, OffCol, OffCntCol)
  }

  /** Per-group running sum WITHOUT per-group windows — the scale-safe
    * replacement for `sum(v).over(Window.partitionBy(g).orderBy(...))`
    * when groups are FEW and HUGE (sources, event types): a partitioned
    * window processes each group in ONE task, which at 100 TB with 20
    * sources is a 5-TB task. Instead: one GLOBAL two-phase prefix sum
    * over the composite (group, order...) key — a normal parallel sort —
    * then subtract each group's exclusive offset, computed as a prefix
    * over the |groups|-row totals frame (metadata window) and broadcast
    * back. Value-identical to the per-group window for non-null values
    * (the intended use: counts/weights; a null `value` contributes 0
    * here where the window would skip it). */
  def groupedCumulativeSum(df: DataFrame, groupCol: String,
      order: Seq[Column], value: Column, outCol: String): DataFrame = {
    val global = cumulativeSum(df, col(groupCol) +: order, value, "__gcum")
    val totals = df.groupBy(col(groupCol))
      .agg(sum(coalesce(value, lit(0L))).as("__t"))
    // exclusive prefix over the |groups|-row frame, group order matching
    // the composite sort's leading key
    val offs = totals.withColumn("__off",
        coalesce(sum(col("__t")).over(
          Window.orderBy(col(groupCol))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(groupCol), col("__off"))
    global.join(broadcast(offs), Seq(groupCol))
      .withColumn(outCol, coalesce(col("__gcum"), lit(0L)) - col("__off"))
      .drop("__gcum")
  }

  /** One running aggregate for [[Budget.groupedRunning]]: the per-group
    * prefix value of `value` in the call's order, written to `out`. */
  sealed trait Running { def out: String }
  /** Per-group running sum (the `sum(v).over(partitionBy(g).orderBy(o))`
    * replacement). `value` must be non-null (counts/weights — a null
    * contributes 0 where the window would skip it). */
  case class RunSum(value: Column, out: String) extends Running
  /** Per-group running min of `value`. */
  case class RunMin(value: Column, out: String) extends Running
  /** Per-group running max of `value`. */
  case class RunMax(value: Column, out: String) extends Running
  /** Per-group running sum of `value` written to `out` PLUS the running
    * min of that running sum written to `minOut` — the CUSUM closed-form
    * shape (S_t = C_t − min(0, min_{j≤t} C_j)), which needs the prefix
    * min of a prefix sum and therefore its own cross-partition offset
    * algebra: min over prior segments of (segment offset + segment's
    * local running-min). */
  case class RunSumWithMin(value: Column, out: String,
      minOut: String) extends Running

  /** Several per-group running aggregates in ONE pass, without per-group
    * windows — the scale-safe replacement for
    * `f(v).over(Window.partitionBy(g).orderBy(...))` when groups are FEW
    * and HUGE (event types, sources, cohorts): a partitioned window
    * processes each group in ONE task, which at 100 TB with 20 groups is
    * a 5-TB task. Generalizes [[groupedCumulativeSum]] (sum-only) to
    * min/max and to the min-of-running-sum CUSUM shape, and computes all
    * requested aggregates from a single range partitioning.
    *
    * Plan: range-repartition on the composite (group, order...) key — a
    * normal parallel sort; every (partition, group) SEGMENT is contiguous,
    * so per-segment running values ride a (pid, group)-partitioned window
    * (bounded by partition size, never by group size). Per-segment
    * summaries are METADATA (≤ #partitions + #groups rows — contiguous
    * ranges), so cross-segment offsets come from windows over that tiny
    * aggregate only and broadcast back:
    *   - running sum: exclusive prefix sum of segment totals;
    *   - running min/max: exclusive prefix min/max of segment extrema,
    *     combined with `least`/`greatest` (null offset = first segment);
    *   - min-of-running-sum: exclusive prefix min of (segment sum offset
    *     + segment local running-min), combined the same way.
    * Value-identical to the per-group window for non-null values; double
    * sums may differ in the last ulp from a strictly sequential fold
    * (association changes at segment boundaries) — callers rounding to
    * ≤6 decimals (the repo-wide stance) are unaffected. */
  def groupedRunning(df: DataFrame, groupCol: String, order: Seq[Column],
      specs: Seq[Running]): DataFrame = {
    require(order.nonEmpty, "groupedRunning needs an ordering")
    require(specs.nonEmpty, "groupedRunning needs at least one aggregate")
    val key = col(groupCol) +: order
    def locN(o: String) = s"__loc_$o"
    def totN(o: String) = s"__tot_$o"
    def offN(o: String) = s"__off_$o"
    val sorted = df.repartitionByRange(key: _*)
      .sortWithinPartitions(key: _*)
      .withColumn(PidCol, spark_partition_id().cast("long"))
    val wLoc = Window.partitionBy(col(PidCol), col(groupCol))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    // pass 1: per-segment running values (one (pid, group) hash exchange;
    // each segment evaluates inside one task, bounded by partition size)
    val pass1 = sorted.select(col("*") +: specs.map {
      case RunSum(v, o) => sum(v).over(wLoc).as(locN(o))
      case RunMin(v, o) => min(v).over(wLoc).as(locN(o))
      case RunMax(v, o) => max(v).over(wLoc).as(locN(o))
      case RunSumWithMin(v, o, _) => sum(v).over(wLoc).as(locN(o))
    }: _*)
    // pass 2 (same partitioning + ordering — no extra exchange or sort):
    // running min OF the pass-1 running sums (windows cannot nest)
    val sumMins = specs.collect { case s: RunSumWithMin => s }
    val local2 =
      if (sumMins.isEmpty) pass1
      else pass1.select(col("*") +: sumMins.map(s =>
        min(col(locN(s.out))).over(wLoc).as(locN(s.minOut))): _*)
    // pinned AT THE FORK: the segment-summary branch and the data branch
    // below both consume this frame, and its lineage contains the SAMPLED
    // range partitioning plus the pid stamp — two un-pinned executions
    // could place rows in different partitions and the offsets would no
    // longer line up with the data (the cumulativeSum determinism
    // contract). Pinning here (not at `sorted`) also runs the window
    // exchange once instead of once per consumer.
    val local = graft.pipeline.Pins.pin(local2)
    // per-segment summaries — metadata-sized
    val segAggs = specs.flatMap {
      case RunSum(v, o) => Seq(sum(v).as(totN(o)))
      case RunMin(v, o) => Seq(min(v).as(totN(o)))
      case RunMax(v, o) => Seq(max(v).as(totN(o)))
      case RunSumWithMin(v, o, mo) =>
        Seq(sum(v).as(totN(o)), min(col(locN(o))).as(totN(mo)))
    }
    val segs = local.groupBy(col(PidCol), col(groupCol))
      .agg(segAggs.head, segAggs.tail: _*)
    val wMeta = Window.partitionBy(col(groupCol)).orderBy(col(PidCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    // exclusive per-group segment offsets (two selects: the sum-with-min
    // candidate needs the sum offset, and windows cannot nest)
    val withOffs = segs.select(Seq(col(PidCol), col(groupCol)) ++
      specs.flatMap {
        case RunSum(_, o) => Seq(sum(col(totN(o))).over(wMeta).as(offN(o)))
        case RunMin(_, o) => Seq(min(col(totN(o))).over(wMeta).as(offN(o)))
        case RunMax(_, o) => Seq(max(col(totN(o))).over(wMeta).as(offN(o)))
        case RunSumWithMin(_, o, mo) => Seq(
          sum(col(totN(o))).over(wMeta).as(offN(o)), col(totN(mo)))
      }: _*)
    val offs = withOffs.select(Seq(col(PidCol), col(groupCol)) ++
      specs.flatMap {
        case RunSumWithMin(_, o, mo) => Seq(col(offN(o)),
          min(coalesce(col(offN(o)), lit(0)) + col(totN(mo)))
            .over(wMeta).as(offN(mo)))
        case s => Seq(col(offN(s.out)))
      }: _*)
    // combine: offset ⊕ local running value, identity when first segment
    val outCols = specs.flatMap {
      case RunSum(_, o) =>
        Seq((coalesce(col(offN(o)), lit(0)) + col(locN(o))).as(o))
      case RunMin(_, o) => Seq(when(col(offN(o)).isNull, col(locN(o)))
        .otherwise(least(col(offN(o)), col(locN(o)))).as(o))
      case RunMax(_, o) => Seq(when(col(offN(o)).isNull, col(locN(o)))
        .otherwise(greatest(col(offN(o)), col(locN(o)))).as(o))
      case RunSumWithMin(_, o, mo) =>
        val base = coalesce(col(offN(o)), lit(0))
        Seq((base + col(locN(o))).as(o),
          when(col(offN(mo)).isNull, base + col(locN(mo)))
            .otherwise(least(col(offN(mo)), base + col(locN(mo))))
            .as(mo))
    }
    local.join(broadcast(offs), Seq(PidCol, groupCol))
      .select(df.columns.toSeq.map(n => col(s"`$n`")) ++ outCols: _*)
  }

  /** Token-budget corpus selection: order documents by `order` (best
    * first), keep rows while the running `tokens` total fits `budget`.
    * The data-mixing primitive of training-corpus construction, built on
    * [[cumulativeSum]] so it survives a 100-TB corpus. */
  def tokenBudgetSelect(df: DataFrame, order: Seq[Column], tokens: Column,
      budget: Long, cumCol: String = "cum_tokens"): DataFrame =
    cumulativeSum(df, order, tokens, cumCol).filter(col(cumCol) <= budget)

  /** GPT-style sequence packing: documents are concatenated in `order` and
    * the token stream is cut into fixed `ctxLen`-token training windows —
    * documents may span a cut (the packed-pretraining layout; attention
    * masking handles the seam). Each document gets the `bin` its FIRST
    * token lands in plus a `crosses_boundary` flag; zero-token documents
    * sit at their stream position and never cross. Built on
    * [[cumulativeSum]], so the only non-metadata exchange is the range
    * partitioning of `order` — no global window, no driver loop, and bin
    * arithmetic is a projection. Downstream per-bin stats (fill, doc
    * counts, crossers) are one partial-agg groupBy on `bin`. */
  def packSequences(df: DataFrame, order: Seq[Column], tokens: Column,
      ctxLen: Long, binCol: String = "bin",
      crossCol: String = "crosses_boundary"): DataFrame = {
    require(ctxLen > 0, s"ctxLen must be positive (got $ctxLen)")
    // doc occupies [cum - tokens, cum - 1]; floor via double division is
    // exact for token totals < 2^53 and restates identically in SQL engines
    cumulativeSum(df, order, tokens, "cum_tokens")
      .withColumn(binCol,
        floor((col("cum_tokens") - tokens) / lit(ctxLen.toDouble))
          .cast("long"))
      .withColumn(crossCol, tokens > 0 &&
        floor((col("cum_tokens") - 1) / lit(ctxLen.toDouble)).cast("long")
          > col(binCol))
  }
}
