package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.Clean

/** Incremental contacts ingest (SURVEY.md §2.10 extension): watch a
  * directory for newly-dropped contact TSVs, run the SAME batch cleaning
  * transforms on each micro-batch, and append to a parquet staging area via
  * foreachBatch ([[cleanIngest]]), or merge each micro-batch into a
  * versioned golden table ([[goldenUpsertStream]]). The golden merge holds
  * no streaming state: each micro-batch re-merges the latest snapshot with
  * the batch in one batch aggregate (a per-key stateful merge would hold
  * every golden record in the state store forever).
  *
  * File-source streaming requires an explicit schema: contact exports vary
  * per source, so the caller resolves it once from a sample file
  * (`schemaOf`) — the same convention-over-declaration stance as the batch
  * reader. */
object ContactsStream {

  /** All-string schema of an existing sample file (or of a directory's
    * first `.tsv`), its header read on the driver: no Spark job. */
  def schemaOf(spark: SparkSession, samplePath: String): StructType =
    graft.pipeline.Tsv.header(spark, samplePath)

  /** `maxFilesPerTrigger` is the file-source backpressure bound: each
    * micro-batch admits at most that many files, so one giant directory
    * drop cannot balloon a single batch's state/merge work — the batch
    * size stays operator-chosen at any backlog (AvailableNow respects the
    * bound too, draining the backlog as a SEQUENCE of bounded batches
    * instead of one unbounded one). */
  def readContacts(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.options(graft.pipeline.Tsv.Dialect)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.schema(schema).csv(dir)
  }

  /** Clean each micro-batch with the batch `Clean` stage and append to
    * parquet. AvailableNow drains what's present and stops; a production
    * deployment uses the default continuous trigger + checkpointing. */
  def cleanIngest(spark: SparkSession, inDir: String, schema: StructType,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val q = readContacts(spark, inDir, schema)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent per-batch landing: a batch replayed after a crash
        // between write and checkpoint commit OVERWRITES its own directory
        // instead of appending duplicates (batch= is a partition column, so
        // spark.read.parquet(outDir) still sees one logical table)
        Clean(batch).write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Streaming golden-record maintenance: [[graft.pipeline.GoldenRecord
    * .upsertIncremental]] as the foreachBatch core. Each micro-batch is
    * cleaned with the batch `Clean` stage and merged into the golden
    * table by dedup key in one aggregate over the predecessor snapshot and
    * the batch: a micro-batch runs two Spark jobs, the merge's map stage
    * and its result/write stage.
    *
    * The predecessor snapshot is read with the cleaned batch's schema, so
    * no schema-inference job runs. A read with a given schema would
    * null-fill a column the snapshot lacks and drop one it adds, so the
    * column names in one part file's parquet footer are checked first,
    * without a Spark job; a mismatch raises, naming the columns.
    *
    * The golden table is a series of versioned parquet snapshots
    * (`v=<batchId>`): a batch reads the latest snapshot committed BEFORE
    * its own id and overwrites only its own version directory, so a
    * batch replayed after a crash between write and checkpoint commit
    * reads the same predecessor state and lands the same result —
    * exactly-once by idempotence, the same stance as [[cleanIngest]]'s
    * per-batch landing. Old snapshots are time-travel state; prune them
    * with any retention sweep (they are never read once superseded).
    *
    * Rows must carry a unique `rowIdCol` (the dedupe tie-break);
    * uniqueness across batches is the caller's ingest contract. */
  def goldenUpsertStream(spark: SparkSession, inDir: String,
      schema: StructType, goldenDir: String, checkpointDir: String,
      rowIdCol: String,
      lastUpdatedCol: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val q = readContacts(spark, inDir, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val incoming = Clean(batch)
        val existing = latestVersionBefore(spark, goldenDir, batchId) match {
          case Some(v) => readSnapshot(spark, s"$goldenDir/v=$v", incoming.schema)
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            incoming.schema)
        }
        graft.pipeline.GoldenRecord
          .upsertIncremental(existing, incoming, rowIdCol, lastUpdatedCol)
          .write.mode("overwrite").parquet(s"$goldenDir/v=$batchId")
        // commit marker the STREAM controls: the committer's _SUCCESS
        // depends on mapreduce.fileoutputcommitter.marksuccessfuljobs
        // (commonly disabled on object stores), and with it off every
        // snapshot would read back as uncommitted — the silent golden
        // reset the marker filter exists to prevent. Writing our own
        // sentinel AFTER the parquet job returns makes commitment
        // independent of committer configuration.
        writeCommitMarker(spark, s"$goldenDir/v=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Snapshot `dir` read with `schema`, after checking that the column
    * names in one part file's footer match `schema`'s (under the session's
    * case sensitivity): raises naming the missing and extra columns, or
    * when the snapshot holds no part file. */
  private def readSnapshot(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val root = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val part = root.getFileSystem(conf).listStatus(root)
      .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"golden snapshot $dir holds no parquet part file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(part, conf))
    val onDisk =
      try reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
      finally reader.close()
    val same = spark.sessionState.conf.resolver
    val missing = schema.fieldNames.filterNot(n => onDisk.exists(same(_, n)))
    val extra = onDisk.filterNot(n => schema.fieldNames.exists(same(_, n)))
    if (missing.nonEmpty || extra.nonEmpty)
      throw new IllegalStateException(
        s"golden snapshot $dir does not match the batch's columns: " +
          s"missing [${missing.mkString(", ")}], " +
          s"extra [${extra.mkString(", ")}]")
    spark.read.schema(schema).parquet(dir)
  }

  /** Highest COMMITTED snapshot version strictly below `beforeBatchId` —
    * the replay-idempotence anchor (a re-run batch resolves the same
    * predecessor it resolved the first time).
    *
    * Snapshots resolve through the Hadoop FileSystem API, so the scheme the
    * snapshot was written with (HDFS/S3/abfs/local) is the scheme it is
    * read with — a `java.io.File` listing returns null for every non-local
    * URI, which would silently read as "no snapshots" and let the next
    * micro-batch merge against an EMPTY golden frame (a silent golden-table
    * reset). Only a MISSING directory maps to None (the legitimate
    * first-batch state); any other filesystem failure raises — the
    * raise-don't-poison stance of Preference/Bootstrap.
    *
    * Commitment: the parquet overwrite is not atomic, so a `v=N` directory
    * alone may be a partial crash artifact. Only directories carrying a
    * commit marker — the stream's own `_GRAFT_COMMIT` sentinel, or the
    * committer's `_SUCCESS` for pre-sentinel snapshots — count as
    * committed; a half-written snapshot is never resolved (the replaying
    * batch overwrites it).
    *
    * If snapshot directories exist below `beforeBatchId` but NONE carries
    * a marker, this RAISES instead of returning None: under the stream's
    * own write protocol at most the single newest snapshot can be torn
    * (a batch never starts before its predecessor's marker landed), so
    * "every predecessor is uncommitted" means the markers were stripped
    * or the directory is foreign — and returning None would silently
    * merge the next batch against an EMPTY golden frame, resetting the
    * table. None is reserved for a truly empty/missing goldenDir (the
    * legitimate first-batch state). */
  def latestVersionBefore(spark: SparkSession, goldenDir: String,
      beforeBatchId: Long): Option[Long] = {
    val candidates = snapshots(spark, goldenDir)._2
      .filter(_.version < beforeBatchId)
    val committed = candidates.filter(_.committed).map(_.version)
    if (candidates.nonEmpty && committed.isEmpty)
      throw new IllegalStateException(
        s"goldenDir $goldenDir has ${candidates.size} snapshot " +
          s"director(ies) below v=$beforeBatchId but none carries a " +
          s"commit marker ($CommitMarker or _SUCCESS) — refusing to " +
          "resolve an empty golden state over existing snapshots")
    committed.sorted.lastOption
  }

  private case class Snapshot(version: Long, path: Path, committed: Boolean)

  /** Every `v=<digits>` snapshot directory under `goldenDir` with its
    * commit state (see [[latestVersionBefore]]), plus the filesystem it
    * lives on. Only a MISSING `goldenDir` lists as empty; any other
    * filesystem failure raises. The name match is strict: a partial
    * rename or junk dir like v=tmp is ignored, never a
    * NumberFormatException in the micro-batch. */
  private def snapshots(spark: SparkSession,
      goldenDir: String): (FileSystem, Seq[Snapshot]) = {
    val root = new Path(goldenDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val entries =
      try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    (fs, entries
      .filter(st => st.isDirectory && st.getPath.getName.matches("v=\\d+"))
      .map { st =>
        val p = st.getPath
        Snapshot(p.getName.stripPrefix("v=").toLong, p,
          fs.exists(new Path(p, CommitMarker)) ||
            fs.exists(new Path(p, "_SUCCESS")))
      })
  }

  /** Commit-marker filename for golden snapshots (see
    * [[latestVersionBefore]]). */
  val CommitMarker = "_GRAFT_COMMIT"

  private def writeCommitMarker(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir, CommitMarker)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(p, true).close()
  }

  /** Keep-last-N snapshot retention: delete every COMMITTED golden
    * snapshot except the `keepLast` newest, plus any uncommitted
    * (marker-less) crash artifact older than the oldest kept version.
    * Returns the deleted versions.
    *
    * `keepLast >= 2` is a correctness floor, not a tuning default: the
    * newest batch may have written its snapshot and crashed before its
    * CHECKPOINT committed, and its replay resolves the latest committed
    * snapshot strictly below its own id — prune that predecessor and the
    * replay would raise (or, pre-markers, silently reset). Uncommitted
    * directories at or above the kept range are left alone: the newest
    * one may be an in-flight write. */
  def pruneSnapshots(spark: SparkSession, goldenDir: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 2,
      s"keepLast must be >= 2 (replay of the newest batch resolves the " +
        s"second-newest committed snapshot); got $keepLast")
    val (fs, versioned) = snapshots(spark, goldenDir)
    val committed = versioned.filter(_.committed).map(_.version).sorted
    if (committed.size <= keepLast) return Seq.empty
    val keptFloor = committed.takeRight(keepLast).head
    // committed beyond keepLast, or stale crash artifacts
    val doomed = versioned.filter(_.version < keptFloor)
    doomed.foreach(d => fs.delete(d.path, true))
    doomed.map(_.version).sorted
  }

  /** The current golden table (latest committed snapshot), if any. */
  def currentGolden(spark: SparkSession,
      goldenDir: String): Option[DataFrame] =
    latestVersionBefore(spark, goldenDir, Long.MaxValue)
      .map(v => spark.read.parquet(s"$goldenDir/v=$v"))
}
