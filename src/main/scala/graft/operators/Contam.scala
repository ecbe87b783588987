package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.pipeline.Pins

/** PERSISTED benchmark-contamination index: the GPT-3 appendix-C
  * decontamination scheme (find training documents sharing any N-gram
  * with an evaluation benchmark) as a production index, not a one-shot
  * join — the r12/r13 LSH/ANN index argument applied to decontamination:
  * at 100 TB the training corpus is probed against the SAME benchmark
  * set for every ingest batch, so the benchmark's grams must persist
  * pre-bucketed on the join key and never re-shuffle.
  *
  * Layout under `path` (the [[IndexGen]] lifecycle — generations,
  * manifests, tombstones and lease, shared with the LSH and ANN indexes):
  *   - `{name}_grams` (gram BIGINT, id BIGINT): the benchmark's DISTINCT
  *     per-document N-gram digests, bucketed by gram into `numBuckets`
  *     files — the probe join's index side scans pre-partitioned on
  *     exactly its join key;
  *   - `meta.json`: (n, numBuckets), so later sessions can only probe
  *     with the gram family the index was built with.
  *
  * Grams are [[Text.md5Long]] digests of space-joined lowercase token
  * N-grams ([[Text.wordShingles]] — whole-document fallback for
  * shorter-than-N documents): 60-bit md5 prefixes, the repo's portable
  * hash, so the DuckDB oracle can restate every digest.
  */
object Contam {

  case class NgramIndexMeta(n: Int, numBuckets: Int)

  case class NgramIndex(name: String, path: String, meta: NgramIndexMeta,
      gen: Int = 0) {
    def gramsTable: String = s"${name}_grams"
    def gramsDir: String = IndexGen.dirFor(path, "grams", gen)
    private[graft] def spec: IndexGen.Spec =
      IndexGen.Spec(name, path, meta.numBuckets, gen, NgramTables)
  }

  private val NgramTables =
    Seq(IndexGen.Table("grams", "id BIGINT, gram BIGINT", Seq("gram")))

  /** DISTINCT (id, gram-digest) rows for a document frame. */
  private[graft] def gramDigests(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        explode(Text.wordShingles(col(textCol), n)).as("__g"))
      .select(col("id"), Text.md5Long(col("__g")).as("gram"))
      .distinct()

  /** Build (or overwrite) the index from the benchmark frame
    * ([[IndexGen.create]]). */
  def writeNgramIndex(benchmark: DataFrame, idCol: String, textCol: String,
      path: String, name: String, n: Int = 13,
      numBuckets: Int = 32): NgramIndex = {
    IndexGen.requireBigint(benchmark, idCol)
    val idx = NgramIndex(name, path, NgramIndexMeta(n, numBuckets))
    IndexGen.create(idx.spec, Seq(gramDigests(benchmark, idCol, textCol, n)),
      Seq("n" -> n, "numBuckets" -> numBuckets))
    idx
  }

  /** Open a persisted index at its newest COMMITTED generation and
    * register the bucketed external table in THIS session's catalog
    * ([[IndexGen.open]]). */
  def readNgramIndex(spark: SparkSession, path: String,
      name: String): NgramIndex = {
    val f = IndexGen.readMeta(spark, path)
    val idx = NgramIndex(name, path,
      NgramIndexMeta(f("n").toInt, f("numBuckets").toInt))
    idx.copy(gen = IndexGen.open(spark, idx.spec))
  }

  /** Per-document contamination of `batch` against the indexed benchmark:
    * (idCol, n_grams, n_hits, n_sources) — distinct grams, distinct grams
    * matching the index, distinct benchmark documents matched. The probe
    * join reads the index pre-bucketed on `gram` with NO index-side
    * exchange; only the batch shuffles. Retracted benchmark ids are
    * hidden via the broadcast anti-join ([[IndexGen.live]] — tombstones
    * are retraction-sized metadata, the bucketed scan shape is
    * unchanged). Caller contract: batch ids disjoint from benchmark ids
    * (a benchmark doc probed against itself is trivially contaminated).
    * Every batch document gets a row, hit or not. */
  def probeNgramIndex(index: NgramIndex, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = batch.sparkSession
    val tombs = IndexGen.tombstones(spark, index.path)
    val idxGrams = IndexGen.live(spark.table(index.gramsTable), tombs)
      .select(col("gram"), col("id").as("__src"))
    val bGrams = Pins.pin(
      gramDigests(batch, idCol, textCol, index.meta.n))
    val hits = bGrams.join(idxGrams, Seq("gram"))
      .groupBy(col("id"))
      .agg(countDistinct(col("gram")).as("n_hits"),
        countDistinct(col("__src")).as("n_sources"))
    bGrams.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_sources"), lit(0L)).as("n_sources"))
  }

  /** Decontamination as an ACTION (the GPT-3 appendix-C screen composed
    * into a corpus filter, the way q118 composes curation verdicts):
    * probe `corpus` against the indexed benchmark and split it on
    * `hit_frac = n_hits / n_grams`. Returns
    *
    *   - `kept`: the corpus rows (ALL original columns) whose hit_frac
    *     ≤ `maxHitFrac` — the training-safe survivors, carried through a
    *     broadcast-friendly anti-join on the dropped ids (drop sets are
    *     contamination-sized, not corpus-sized);
    *   - `dropped`: the provenance dataset (idCol, n_grams, n_hits,
    *     n_sources, hit_frac) for every REMOVED document — the X6
    *     change-log pattern: a curation decision nobody can audit later
    *     is a decision that did not happen.
    *
    * The decision boundary compares the raw IEEE division (both sides of
    * any oracle compute the identical double); the emitted hit_frac is
    * rounded to 6 dp for display only. maxHitFrac = 0.0 is the paper's
    * conservative screen (any shared 13-gram drops the doc). */
  def decontaminate(index: NgramIndex, corpus: DataFrame, idCol: String,
      textCol: String, maxHitFrac: Double): (DataFrame, DataFrame) = {
    val stats = probeNgramIndex(index, corpus, idCol, textCol)
      .withColumn("__cf",
        col("n_hits").cast("double") / col("n_grams").cast("double"))
    val dropped = stats.filter(col("__cf") > maxHitFrac)
      .select(col(idCol), col("n_grams"), col("n_hits"), col("n_sources"),
        round(col("__cf"), 6).as("hit_frac"))
    val kept = corpus.join(dropped.select(col(idCol)), Seq(idCol),
      "left_anti")
    (kept, dropped)
  }

  /** Absorb NEW benchmark documents (e.g. a fresh eval suite) into the
    * index: a bucketed append, one file per bucket — the probe keeps its
    * exchange-free shape; [[maybeCompactNgramIndex]] bounds the file
    * growth. Caller contract: appended ids disjoint from indexed. Leased,
    * manifest-committed and exactly-once under `batchTag`
    * ([[IndexGen.append]]); here the tag is a size concern only, since
    * [[probeNgramIndex]] aggregates with countDistinct on both the gram
    * and the source id, so duplicated gram rows cannot change an answer. */
  def appendToNgramIndex(index: NgramIndex, benchmark: DataFrame,
      idCol: String, textCol: String,
      batchTag: Option[String] = None): Unit =
    IndexGen.append(index.spec,
      Seq(gramDigests(benchmark, idCol, textCol, index.meta.n)), batchTag)

  /** Retract benchmark documents: id tombstones hide them from probes at
    * once, the next compaction folds them into the files
    * ([[IndexGen.retract]]). */
  def retractFromNgramIndex(index: NgramIndex, ids: DataFrame,
      idCol: String): Unit =
    IndexGen.retract(index.spec, ids, idCol)

  /** Rewrite the grams table into the next generation — one file per
    * bucket, tombstones applied ([[IndexGen.compact]]). */
  def compactNgramIndex(spark: SparkSession, index: NgramIndex)
      : NgramIndex =
    index.copy(gen = IndexGen.compact(spark, index.spec))

  /** Compact when append cadence has fragmented any bucket past the bar. */
  def maybeCompactNgramIndex(spark: SparkSession, index: NgramIndex,
      maxFilesPerBucket: Int): NgramIndex =
    IndexGen.maybeCompact(spark, index.spec, maxFilesPerBucket)
      .fold(index)(g => index.copy(gen = g))
}
