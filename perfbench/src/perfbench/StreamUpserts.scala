package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.pipeline.{Clean, GoldenRecord, Pins, Tsv}
import graft.streaming.ContactsStream

/** `contacts_stream`: incremental golden-record maintenance. The golden
  * table is seeded by draining the master file; then one generator thread
  * moves pre-generated drops into the watched directory on a fixed
  * schedule (open loop) while the harness repeatedly drains the directory
  * with ContactsStream.goldenUpsertStream (AvailableNow) and prunes with
  * pruneSnapshots(keepLast = 2). A file's latency runs from its due time
  * to the commit marker of the first snapshot that contains it. */
final class StreamUpserts(spark: SparkSession, work: String, cfg: JsonNode,
    trace: Trace) extends Workload {

  private val dir = s"$work/stream"
  private val in = s"$dir/in"
  private val golden = s"$dir/golden"
  private val ckpt = s"$dir/ckpt"
  private val intervalMs = cfg.get("interval_ms").asLong
  new File(in).mkdirs()
  private val schema = ContactsStream.schemaOf(spark, s"$dir/master.tsv")
  private val pending = new File(s"$dir/pending").listFiles
    .filter(_.getName.endsWith(".tsv")).sortBy(_.getName).toSeq

  private def drop(f: File): Unit = Files.move(f.toPath,
    new File(in, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)

  private val commitMs = mutable.Map.empty[Long, Long]  // batch -> marker mtime
  private var snapshotBytes = 0L
  private var lastVersion = -1L

  /** One user-level drain: AvailableNow over everything dropped so far,
    * then keep-last-2 retention. Commit times are read before pruning. */
  private def drain(): Unit = {
    ContactsStream.goldenUpsertStream(spark, in, schema, golden, ckpt,
      rowIdCol = "seqno", lastUpdatedCol = Some("last_updated"))
    val fresh = Option(new File(golden).listFiles).getOrElse(Array.empty)
      .filter(_.getName.matches("v=\\d+"))
      .map(d => d.getName.stripPrefix("v=").toLong -> d)
      .filter(_._1 > lastVersion)
    fresh.foreach { case (v, d) =>
      val marker = new File(d, ContactsStream.CommitMarker)
      if (marker.exists) commitMs(v) = marker.lastModified
      snapshotBytes += d.listFiles.map(_.length).sum
      lastVersion = math.max(lastVersion, v)
    }
    ContactsStream.pruneSnapshots(spark, golden, keepLast = 2)
  }

  /** file name -> micro-batch id, from the file source's own log. */
  private def batchOf(): Map[String, Long] =
    Option(new File(s"$ckpt/sources/0").listFiles).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith(".")).toSeq
      .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
      .map(Json.parse)
      .map(j => new File(j.get("path").asText).getName -> j.get("batchId").asLong)
      .toMap

  def warmup(): Unit = {
    Files.move(new File(s"$dir/master.tsv").toPath,
      new File(in, "master.tsv").toPath, StandardCopyOption.ATOMIC_MOVE)
    drain() // seeds the golden table (cold query start)
    drop(pending.head)
    drain() // first upsert into an existing table
  }

  def measure(seconds: Double, traced: Boolean): Outcome = {
    val files = pending.tail
    val due = mutable.LinkedHashMap.empty[String, Long]
    val late = mutable.ArrayBuffer.empty[Double]
    val droppedBytes = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.currentTimeMillis() + 100
    val tEnd = t0 + (seconds * 1000).toLong
    // the only thread the harness adds: moves each file in at its due time
    val generator = new Thread(() => {
      var k = 0
      while (k < files.size && t0 + k * intervalMs < tEnd) {
        val d = t0 + k * intervalMs
        val wait = d - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        droppedBytes.addAndGet(files(k).length)
        drop(files(k))
        val now = System.currentTimeMillis()
        due.synchronized { due(files(k).getName) = d; late += (now - d) / 1e3 }
        k += 1
      }
    }, "perfbench-generator")
    generator.start()
    val warmFiles = batchOf().size
    var backlogMax = 0
    var processed = warmFiles
    def dropped: Int = due.synchronized(due.size)
    // a traced run alternates untraced and traced drains: their difference
    // in drain time is the tracing overhead
    val drainWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    while (generator.isAlive || processed < warmFiles + dropped) {
      val backlog = warmFiles + dropped - processed
      if (backlog > 0) {
        backlogMax = math.max(backlogMax, backlog)
        val on = traced && drainWall.size % 2 == 1
        val s = System.nanoTime()
        trace.around(on)(trace.span("streaming.drain")(drain()))
        drainWall += (on -> (System.nanoTime() - s) / 1e9)
        processed = batchOf().size
      } else Thread.sleep(5)
    }
    generator.join()
    val drains = drainWall.size
    val tCheck = System.nanoTime()
    val goldenOk = trace.around(traced)(checkGolden())
    System.err.println(f"[perfbench] $drains drains, golden check ${(System.nanoTime() - tCheck) / 1e9}%.1f s")

    val batches = batchOf()
    val lat = due.toSeq.flatMap { case (f, d) =>
      batches.get(f).flatMap(commitMs.get).map(c => (c - d) / 1e3)
    }
    val failed = if (goldenOk) due.size - lat.size else due.size
    val sorted = lat.sorted
    // the highest percentile with at least 10 samples beyond it
    val tailIdx = sorted.size - 11
    val tail =
      if (tailIdx < 0) Map("percentile" -> None, "value_s" -> None)
      else Map("percentile" -> 100.0 * (tailIdx + 1) / sorted.size,
        "value_s" -> sorted(tailIdx))
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val d = Harness.spanMedians(trace, "streaming.drain")
        val measuredBatches = batches.filter(b => due.contains(b._1)).values.toSeq
        Harness.SparkMetrics.map(k => k -> d.getOrElse(k, 0.0)).toMap ++ Map(
          "streaming.start_stop_s" -> (d.getOrElse("wall_s", 0.0) -
            d.getOrElse("streaming.triggerExecution", 0.0)),
          "streaming.planning_s" -> d.getOrElse("streaming.queryPlanning", 0.0),
          "streaming.add_batch_s" -> d.getOrElse("streaming.addBatch", 0.0),
          "streaming.wal_commit_s" -> (d.getOrElse("streaming.walCommit", 0.0) +
            d.getOrElse("streaming.commitOffsets", 0.0)),
          "streaming.files_per_batch" ->
            measuredBatches.size.toDouble / math.max(1, measuredBatches.distinct.size),
          "streaming.backlog_max_files" -> backlogMax.toDouble,
          "streaming.generator_late_s" -> (if (late.isEmpty) 0.0 else late.max),
          "streaming.snapshot_bytes_per_input_byte" ->
            snapshotBytes.toDouble / math.max(1L, droppedBytes.get),
          "pipeline.clean_s" -> Harness.spanMedians(trace, "pipeline.clean").getOrElse("wall_s", 0.0),
          "pipeline.dedup_s" -> Harness.spanMedians(trace, "pipeline.dedup").getOrElse("wall_s", 0.0),
          "trace.overhead_s" -> (Harness.median(drainWall.filter(_._1).map(_._2).toSeq) -
            Harness.median(drainWall.filterNot(_._1).map(_._2).toSeq)))
      }
    Outcome(lat, due.size, failed, Seq(Map("golden_equal" -> goldenOk)),
      Map("upsert_latency_p50_s" -> Harness.median(lat),
        "upsert_latency_tail" -> tail, "files" -> due.size,
        "drains" -> drains, "drain_s" -> drainWall.map(_._2).toSeq,
        "backlog_max_files" -> backlogMax,
        "generator_late_max_s" -> (if (late.isEmpty) 0.0 else late.max)),
      layers)
  }

  /** The upsert's specified equivalence: the newest golden snapshot equals
    * GoldenRecord.dedupe over every row dropped so far. Untimed; in a
    * traced run its clean and dedup steps are materialized one at a time,
    * as Pipeline.run times its stages, and give `pipeline.clean_s` and
    * `pipeline.dedup_s` on this workload's data. */
  private def checkGolden(): Boolean = try {
    val got = ContactsStream.currentGolden(spark, golden)
      .getOrElse(return false)
    val raw = Tsv.readAllString(spark, in)
    val cleaned = trace.span("pipeline.clean") {
      val c = Pins.pin(Clean(raw)); c.count(); c
    }
    val want = trace.span("pipeline.dedup") {
      val d = Pins.pin(GoldenRecord.dedupe(cleaned, rowIdCol = "seqno",
        lastUpdatedCol = Some("last_updated")))
      d.count(); d
    }
    // equal multisets: same row count and no row of one missing in the other
    got.count() == want.count() && got.exceptAll(want).isEmpty
  } finally Pins.flush()
}
