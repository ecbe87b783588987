package perfbench

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** What one workload measured. `latencies` are the samples of the
  * workload's end-to-end operation; `ops` lists per-operation records the
  * Python side checks; `layers` holds per-layer metrics (traced runs). */
final case class Outcome(latencies: Seq[Double], attempted: Int, failed: Int,
    ops: Seq[Map[String, Any]], detail: Map[String, Any],
    layers: Map[String, Double])

trait Workload {
  /** Untimed warm-up; its cost is part of `setup_s`. */
  def warmup(): Unit
  def measure(seconds: Double, traced: Boolean): Outcome
}

/** Benchmark JVM: one SparkSession at local[cores], one workload.
  *
  *   perfbench.Harness <workDir>
  *
  * reads `<workDir>/config.json` (written by run.py) and writes
  * `<workDir>/result.json`; traced runs also write `<workDir>/trace.json`. */
object Harness {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Median over the spans named `name` of each per-span metric. */
  def spanMedians(trace: Trace, name: String): Map[String, Double] = {
    val ms = trace.summaries.collect { case (s, m) if s.name == name => m }
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** The per-layer `spark.*` metrics, taken from a workload's op spans. */
  val SparkMetrics: Seq[String] = Trace.SparkMetrics :+ "spark.non_task_s"

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = args(0)
    val cfg = Json.readFile(s"$work/config.json")
    val workload = cfg.get("workload").asText
    val cores = cfg.get("cores").asInt
    val conf = new SparkConf()
      .setMaster(s"local[$cores]")
      .set("spark.sql.shuffle.partitions", cores.toString)
      .set("spark.sql.session.timeZone", "UTC")
      .set("spark.ui.enabled", "false")
      .set("spark.local.dir", s"$work/spark-local")
      .set("spark.sql.warehouse.dir", s"$work/warehouse")
    if (workload == "registry_slice") // the session graft.Bench creates
      conf.set("spark.sql.codegen.cache.maxEntries", "10000")
        .set("spark.sql.join.preferSortMergeJoin", "false")
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val trace = new Trace(spark, cores)
    val w: Workload = workload match {
      case "contacts_validate" => new ContactsRest(spark, work, trace, "validate")
      case "contacts_batch" => new ContactsRest(spark, work, trace, "pipeline")
      case "contacts_stream" => new StreamUpserts(spark, work, cfg, trace)
      case "registry_slice" => new RegistrySlice(spark, work, cfg, trace)
    }
    w.warmup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val traced = cfg.get("trace").asBoolean
    val measureNs = System.nanoTime()
    val o = w.measure(cfg.get("seconds").asDouble, traced)
    if (traced) Json.writeFile(s"$work/trace.json", trace.json)
    Json.writeFile(s"$work/result.json", Map(
      "setup_s" -> setupS, "session_s" -> sessionS,
      "latencies" -> o.latencies, "attempted" -> o.attempted,
      "failed" -> o.failed, "ops" -> o.ops, "detail" -> o.detail,
      "layers" -> o.layers))
    val t = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] measured ${(t - measureNs) / 1e9}%.1f s, stop ${(System.nanoTime() - t) / 1e9}%.1f s")
  }
}
