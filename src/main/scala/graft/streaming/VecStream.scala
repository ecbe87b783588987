package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{IndexGen, Similarity}

/** Streaming vector ingest over a PERSISTED IVF-PQ index — the ANN twin
  * of [[DocStream.ingestDedupStream]]: every micro-batch of new
  * embeddings is (1) probed for its top-k nearest already-indexed
  * neighbors (the duplicate/near-neighbor check a production embedding
  * ingest runs before admission), with the neighbor rows appended to a
  * parquet sink, then (2) ABSORBED into the index — encoded with the
  * index's FROZEN model ([[Similarity.appendToAnnIndex]]) so codes stay
  * decodable, and appended as bucketed files the next probe reads
  * exchange-free. The index side of every probe join arrives
  * bucket-partitioned from disk; only the micro-batch shuffles.
  *
  * Replay safety: the same `_absorbed_<batchId>` marker discipline as
  * the dedup ingest — a replayed micro-batch must not double the lists
  * (duplicate list rows would surface twice in later top-k results).
  *
  * Caller contract: streamed vec_ids disjoint from indexed ids across
  * the stream's lifetime; re-adding a retracted id needs a compaction
  * first (the tombstone filters by id). */
object VecStream {

  /** Minimal streamed-embedding schema (file sources need one up
    * front) — the testdata `embeddings` layout. */
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Streaming scan of an embeddings parquet directory. */
  def readVecs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(VecSchema).parquet(dir)

  /** Full streaming ANN ingest loop: probe -> sink -> absorb per
    * micro-batch; with `compactAtFilesPerBucket = Some(n)`, each absorb
    * is followed by [[Similarity.maybeCompactAnnIndex]] so a
    * streaming-cadence ingest bounds its own small-file growth (the
    * handle is tracked across batches — later appends land in the
    * compacted generation). */
  def ingestAnnStream(spark: SparkSession, dir: String,
      index: Similarity.AnnIndex, outDir: String, checkpointDir: String,
      k: Int = 10, nprobe: Int = 4,
      compactAtFilesPerBucket: Option[Int] = None): StreamingQuery = {
    var cur = index
    val q = readVecs(spark, dir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val qs = batch.select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
        Similarity.probeAnnIndex(cur, qs, "qid", "qvec", k, nprobe)
          .write.mode("append").parquet(outDir)
        absorbOnce(cur, batch, batchId)
        compactAtFilesPerBucket.foreach { n =>
          cur = Similarity.maybeCompactAnnIndex(spark, cur, n)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Idempotent absorb ([[DocStream.absorbOnce]] semantics): append the
    * batch to the lists unless this batchId already left its marker; a
    * duplicated list row would give the same neighbor two top-k ranks
    * until compaction. */
  def absorbOnce(index: Similarity.AnnIndex, batch: DataFrame,
      batchId: Long): Boolean =
    IndexGen.absorbOnce(batch.sparkSession, index.spec, batchId)(tag =>
      Similarity.appendToAnnIndex(index,
        batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec")),
        "vec_id", "vec", batchTag = tag))
}
