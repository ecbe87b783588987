package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Text
import graft.operators.{Dedup, IndexGen}

/** Streaming document ingest with near-duplicate flagging against a static
  * index — the incremental-dedup ingest path (the streaming twin of
  * [[Dedup.incrementalLshPairs]]'s batch-vs-index lane).
  *
  * Design constraint: the batch minhash pipeline aggregates postings
  * (groupBy doc), which in a stream would demand stateful aggregation
  * before the join. Instead the stream computes each document's signature
  * as a PER-ROW PROJECTION ([[rowSignature]] — the min over the row's own
  * shingle set), which is algebraically identical to the batch min-aggregate
  * over exploded postings and uses the same fixed-seed hash family
  * ([[Dedup.minhashParams]]) and banding ([[Dedup.bandBuckets]]), so stream
  * and batch signatures are bit-equal by construction (the StreamingSpec
  * equivalence proof). The band join against the index is STREAM-STATIC:
  * stateless, no watermark, each micro-batch probes the index the way a
  * batch job would — at 100 TB the static side is the persisted,
  * bucket-partitioned band table and arrives pre-shuffled.
  *
  * The only state in the plan is the final dropDuplicates on (doc_id,
  * index_id) — bounded by the number of FLAGGED pairs, not the stream
  * length; pair it with a watermark on an arrival-time column if flagged
  * volume is unbounded.
  */
object DocStream {

  /** Minimal streamed-document schema (file sources need one up front). */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Streaming scan of a documents parquet directory. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(DocSchema).parquet(dir)

  /** Per-row minhash signature: same values as
    * [[Dedup.minhashSignatures]] over the same doc, but computed with
    * higher-order functions on the row's distinct shingle array — no
    * aggregation, so streaming plans stay stateless. Interpreted HOFs are
    * fine here: the cost is per DOCUMENT (numHashes x |shingles|), never
    * per candidate pair. Empty docs yield null mins and collide nowhere. */
  def rowSignature(text: Column, shingleSize: Int, numHashes: Int): Column = {
    val hs = transform(
      array_distinct(Text.wordShingles(text, shingleSize)),
      s => pmod(xxhash64(s), lit(Text.P31)))
    array(Dedup.minhashParams(numHashes).map { case (a, b) =>
      array_min(transform(hs, h => pmod(lit(a) * h + lit(b), lit(Text.P31))))
    }: _*)
  }

  /** Candidate near-dup flags for a document stream against a static index:
    * (doc_id, index_id) pairs that collide in >= 1 LSH band, deduplicated.
    * Exact-Jaccard confirmation happens downstream in batch
    * ([[Dedup.incrementalLshPairs]]) — the stream's job is the cheap flag,
    * production-wise the trigger for quarantine/rescore, not the verdict.
    * Works identically on a batch frame (how the spec proves equivalence). */
  def dedupCandidates(docs: DataFrame, index: DataFrame,
      indexIdCol: String, indexTextCol: String,
      shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val idx = Dedup.minhashSignatures(
        Dedup.shinglePostings(index, indexIdCol, indexTextCol, shingleSize),
        numHashes)
      .select(col("id").as("index_id"),
        posexplode(Dedup.bandBuckets(col("sig"), bands, rows))
          .as(Seq("band", "bucket")))
    val streamed = docs
      .select(col("doc_id"),
        rowSignature(col("text"), shingleSize, numHashes).as("sig"))
      .select(col("doc_id"),
        posexplode(Dedup.bandBuckets(col("sig"), bands, rows))
          .as(Seq("band", "bucket")))
    streamed.join(idx, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("index_id"))
      .select(col("doc_id"), col("index_id"))
      .dropDuplicates("doc_id", "index_id")
  }

  /** Drain a documents directory against `index` into a memory sink. */
  def drainCandidatesToMemory(spark: SparkSession, dir: String,
      index: DataFrame, indexIdCol: String, indexTextCol: String,
      table: String): StreamingQuery = {
    val q = dedupCandidates(readDocs(spark, dir), index,
        indexIdCol, indexTextCol)
      .writeStream.format("memory").queryName(table)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Full streaming ingest loop over a PERSISTED LSH index
    * ([[Dedup.writeLshIndex]]): every micro-batch is (1) probed for
    * near-dup pairs against everything indexed so far — exact-rescored,
    * so these are verdicts, not just flags — with the pairs appended to
    * a parquet sink, then (2) ABSORBED into the index
    * ([[Dedup.appendToLshIndex]]), so later micro-batches dedup against
    * earlier ones without any corpus re-scan. The index side of every
    * probe join arrives bucket-partitioned from disk; only the
    * micro-batch shuffles.
    *
    * Replay safety: the file source + checkpoint give at-least-once
    * micro-batches, and a REPLAYED absorb would double the batch's
    * postings and corrupt later rescore counts — so each absorbed
    * batchId leaves a `_absorbed_<id>` marker under the index path and
    * [[absorbOnce]] skips batches already marked. The pairs sink dedups
    * on replay the usual way (downstream readers key on (id_a, id_b)).
    *
    * Caller contract (same as the batch path): streamed doc_ids disjoint
    * from indexed ids across the stream's lifetime.
    *
    * `compactAtFilesPerBucket`: with Some(n), each absorb is followed by
    * [[Dedup.maybeCompactLshIndex]] — appends write one file per bucket
    * per micro-batch, so a streaming-cadence ingest otherwise grows the
    * probe scan's file count without bound (the r12 small-files gap).
    * Compaction re-points the catalog tables in place and later
    * micro-batches append into the new generation (the handle is
    * tracked across batches). */
  def ingestDedupStream(spark: SparkSession, dir: String,
      index: Dedup.LshIndex, outDir: String, checkpointDir: String,
      threshold: Double = 0.5,
      compactAtFilesPerBucket: Option[Int] = None): StreamingQuery = {
    var cur = index
    val q = readDocs(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pairs = Dedup.probeLshIndex(cur, batch, "doc_id", "text",
          threshold)
        pairs.write.mode("append").parquet(outDir)
        absorbOnce(cur, batch, batchId)
        compactAtFilesPerBucket.foreach { n =>
          cur = Dedup.maybeCompactLshIndex(spark, cur, n)
        }
        graft.pipeline.Pins.flush() // micro-batch = this flow's boundary
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming benchmark decontamination: every micro-batch of training
    * documents is probed against a PERSISTED n-gram contamination index
    * ([[graft.operators.Contam.writeNgramIndex]] — the GPT-3 appendix-C
    * screen as a standing service) and its per-document stats land in a
    * parquet sink. The index is STATIC from this stream's point of view
    * (benchmarks change by append/retract, not per ingest batch), so
    * unlike the dedup/ANN ingest loops there is no absorb step and no
    * marker protocol: a replayed micro-batch re-emits identical stats
    * rows, and downstream readers key on doc_id (the usual at-least-once
    * sink discipline). The probe join's index side arrives
    * bucket-partitioned from disk; only the micro-batch shuffles. */
  def screenContamStream(spark: SparkSession, dir: String,
      index: graft.operators.Contam.NgramIndex, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val q = readDocs(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Contam
          .probeNgramIndex(index, batch, "doc_id", "text")
          .write.mode("append").parquet(outDir)
        graft.pipeline.Pins.flush() // micro-batch = this flow's boundary
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Idempotent absorb: append `batch` to the index unless this batchId
    * already left its marker, carrying the batchId as the append's batch
    * tag ([[graft.operators.IndexGen.absorbOnce]]) — a replayed absorb
    * would double the postings and corrupt every later rescore count it
    * touches until compaction. Returns true when the append ran (or was
    * recognized as already committed). */
  def absorbOnce(index: Dedup.LshIndex, batch: DataFrame,
      batchId: Long): Boolean =
    IndexGen.absorbOnce(batch.sparkSession, index.spec, batchId)(tag =>
      Dedup.appendToLshIndex(index, batch, "doc_id", "text", batchTag = tag))

  /** Durable variant: flags land in a parquet sink with a checkpoint, so an
    * ingest that stops and restarts resumes from the file-source offset AND
    * keeps the dropDuplicates state — a doc redelivered in a later batch
    * (at-least-once upstream) does not re-flag a pair the stream already
    * emitted. This is the production wiring; the memory variant is the
    * spec's equivalence harness. */
  def flagToParquet(spark: SparkSession, dir: String,
      index: DataFrame, indexIdCol: String, indexTextCol: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val q = dedupCandidates(readDocs(spark, dir), index,
        indexIdCol, indexTextCol)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
