package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GoldenMerge
import graft.functions.Cleaning

/** Golden-record deduplication — the reference's centerpiece operator
  * (clean_contacts.py:158-236; SURVEY.md §2.5 A1): group contacts by a dedup
  * key and, per column, keep the "most complete" value: the longest valid
  * value, ties broken by recency, then by stable row order.
  *
  * Spark-first design: the whole merge is ONE aggregate,
  * [[graft.expressions.GoldenMerge]], that picks every column's winner in
  * one pass per row under a *strict* ordering — (length, last_updated,
  * -row_id) is totally ordered because row_id is unique, so there are no
  * nondeterministic ties (the explicit-determinism requirement of SURVEY.md
  * §4: the reference's pre-sort-then-groupby order cannot survive a shuffle,
  * so the ordering is folded INTO the aggregate). It plans as an
  * ObjectHashAggregate with map-side partial aggregation, so the exchange
  * carries group-local winners, not rows, and no row is sorted below the
  * hash map's per-task fallback threshold.
  */
object GoldenRecord {

  /** The merge over `values` as one struct column (`c0`, `c1`, …): invalid
    * values (null, blank, sentinel) never win; the recency key is
    * `lastUpdated` as a timestamp, with the epoch for null or unparseable
    * values (try_cast: raw, un-Cleaned frames degrade instead of throwing
    * under ANSI); the row key is `-rowId`, null lowest. */
  private def merge(values: Seq[Column], lastUpdated: Column, rowId: Column): Column =
    GoldenMerge.column(
      coalesce(lastUpdated.try_cast("timestamp"),
        lit("1970-01-01 00:00:00").cast("timestamp")),
      -rowId, values)

  /** Most-complete value of `value` within the group: longest valid (non-null,
    * non-"", non-sentinel) value; equal lengths -> the most recently updated
    * row; still equal -> the earliest row in stable input order.
    * (clean_contacts.py:204-226 with the O1 recency pre-sort folded in.) */
  def mostComplete(value: Column, lastUpdated: Column, rowId: Column): Column =
    merge(Seq(value), lastUpdated, rowId).getField("c0")

  /** Attach the dedup key (clean_contacts.py:164-179): lower(email), falling
    * back to lower(fullname) + "-" + mobile. Case-insensitive role resolution
    * (the intended semantics — divergence ledger §1.4).
    *
    * Rows with NO identity at all share the key "-" and merge into one
    * golden record — the reference's groupby does the same; callers that
    * want to preserve identity-less rows must filter them out first. A frame
    * where none of the three roles even RESOLVES would silently collapse the
    * whole table that way, so that case is rejected. */
  def withDedupKey(df: DataFrame, keyCol: String = "dedup_key"): DataFrame = {
    val resolved = Seq("EMAIL", "FULLNAME", "MOBILE").flatMap(Roles.exact(df, _))
    require(resolved.nonEmpty,
      s"none of EMAIL/FULLNAME/MOBILE resolve against columns " +
        s"[${df.columns.mkString(", ")}] — every row would get the same " +
        "dedup key and the whole table would merge into one golden record")
    def c(role: String): Column =
      Roles.exact(df, role).map(n => col(n).cast("string"))
        .getOrElse(lit(null).cast("string"))
    df.withColumn(keyCol, Cleaning.dedupKey(c("EMAIL"), c("FULLNAME"), c("MOBILE")))
  }

  /** Full golden-record dedup: key -> group -> per-column mostComplete.
    * `rowIdCol` must be a pre-existing unique id; `lastUpdatedCol` is optional
    * (recency tiebreak). Output has one row per key, original columns only. */
  def dedupe(df: DataFrame, rowIdCol: String,
      lastUpdatedCol: Option[String] = None,
      keyCol: String = "dedup_key"): DataFrame = {
    val keyed = if (df.columns.contains(keyCol)) df else withDedupKey(df, keyCol)
    val ts = lastUpdatedCol.map(col).getOrElse(lit(null).cast("timestamp"))
    val dataCols = keyed.columns.toSeq.filterNot(c => c == keyCol)
    val best = merge(dataCols.map(c => col(s"`$c`")), ts, col(s"`$rowIdCol`"))
    keyed.groupBy(col(keyCol)).agg(best.as("__golden"))
      .select(dataCols.indices.map(i => col("__golden").getField(s"c$i").as(dataCols(i))): _*)
  }

  /** Golden-record upsert — the daily-ingest shape: merge an incoming batch
    * into an existing golden table. The result is `dedupe(existing ∪
    * incoming)` by construction: one aggregate over both, so a call plans
    * one shuffle and runs as one map stage plus one result stage.
    *
    * When `existing` is a prior dedupe output, its untouched rows come back
    * unchanged: each is alone in its group (its dedup key recomputes to its
    * group's key, because every key part is derived from a value the merge
    * can pick), and each of its values is a valid winner or null, which a
    * one-row group re-merges to itself.
    *
    * Trade-off: the whole golden table is shuffled on every call, not only
    * the groups the batch touches. A caller that rewrites the whole table
    * per batch (as [[graft.streaming.ContactsStream.goldenUpsertStream]]
    * does) already pays per-call cost in proportion to the table. */
  def upsertIncremental(existing: DataFrame, incoming: DataFrame,
      rowIdCol: String, lastUpdatedCol: Option[String] = None,
      keyCol: String = "dedup_key"): DataFrame = {
    def keyed(df: DataFrame) =
      if (df.columns.contains(keyCol)) df else withDedupKey(df, keyCol)
    dedupe(keyed(existing).unionByName(keyed(incoming)), rowIdCol,
      lastUpdatedCol, keyCol)
  }
}
