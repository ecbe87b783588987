package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `registry_slice`: registry queries from SparkEntry.queries (named in
  * the config) over the generated tables, each written to a noop sink and
  * followed by the per-query cleanup graft.Bench does. The cold warm-up
  * pass writes parquet instead, and run.py checks those results against
  * the queries' DuckDB oracle SQL. One pass = every named query once; its
  * time is the sum of the per-query wall times. */
final class RegistrySlice(spark: SparkSession, work: String, cfg: JsonNode,
    trace: Trace) extends Workload {

  private val names: Seq[String] =
    (0 until cfg.get("queries").size).map(cfg.get("queries").get(_).asText)
  private val dir = s"$work/registry"

  private def runOnce(name: String, sink: DataFrame => Unit): Double = {
    val t0 = System.nanoTime()
    trace.span(s"queries.$name")(sink(SparkEntry.queries(name)(spark, dir)))
    val sec = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    graft.pipeline.Pins.flush()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.err.println(f"[perfbench] $name $sec%.2f s, cleanup ${(System.nanoTime() - c0) / 1e9}%.2f s")
    sec
  }

  private def pass(): Map[String, Double] = trace.span("queries.pass") {
    names.map(n => n -> runOnce(n,
      _.write.format("noop").mode("overwrite").save())).toMap
  }

  /** A cold pass that writes each result as parquet for run.py's oracle
    * check, then two untimed passes as measured. */
  def warmup(): Unit = {
    names.foreach(n => runOnce(n,
      _.write.mode("overwrite").parquet(s"$work/results/$n")))
    Json.writeFile(s"$work/results/oracle_sql.json",
      names.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    (1 to 2).foreach(_ => pass())
  }

  def measure(seconds: Double, traced: Boolean): Outcome = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Map[String, Double])]
    // a traced run alternates untraced and traced passes: their difference
    // is the tracing overhead
    val t0 = System.nanoTime()
    while (passes.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val on = traced && passes.size % 2 == 1
      passes += (on -> trace.around(on)(pass()))
    }
    val totals = passes.filter(p => p._1 == traced).map(_._2.values.sum).toSeq
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val p = Harness.spanMedians(trace, "queries.pass")
        val firstPass = trace.summaries.filter(_._1.name == "queries.pass").head._1.id
        val perQuery = names.flatMap { n =>
          val m = Harness.spanMedians(trace, s"queries.$n")
          val jobs = trace.summaries.collectFirst {
            case (s, m) if s.name == s"queries.$n" && s.parent == firstPass => m("spark.jobs")
          }.getOrElse(0.0)
          Seq(s"queries.${n}_s" -> m.getOrElse("wall_s", 0.0), s"queries.$n.jobs" -> jobs)
        }
        Harness.SparkMetrics.map(k => k -> p.getOrElse(k, 0.0)).toMap ++ perQuery ++ Map(
          "trace.overhead_s" -> (Harness.median(totals) -
            Harness.median(passes.filterNot(_._1).map(_._2.values.sum).toSeq)))
      }
    Outcome(totals, names.size * totals.size, 0, Nil,
      Map("registry_s" -> Harness.median(totals), "passes" -> totals.size,
        "per_query_s" -> names.map(n => n -> Harness.median(
          passes.filter(_._1 == traced).map(_._2(n)).toSeq)).toMap),
      layers)
  }
}
