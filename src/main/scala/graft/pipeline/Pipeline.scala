package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Sequential pipeline orchestrator (reference cleaning/run.py; SURVEY.md
  * §2.11 X1): fill -> clean -> dedup -> validate as ordinary method calls on
  * ONE SparkSession — stage handoff is a DataFrame reference, not a
  * subprocess + filesystem round-trip. Fill, clean and dedup are one lazy
  * plan, so a run runs two actions where run.py runs a process per step
  * (run.py:35-57): the golden table's count and the validation aggregate.
  */
object Pipeline {

  /** `seconds` is per action: the wall time from the previous action's end
    * (the run's start) to the end of the one that completed the stage.
    * Fill and clean are fused into dedup's action, which observes their
    * rows, so they read 0.0 and dedup's seconds cover all three. */
  case class StageResult(name: String, seconds: Double, rows: Long)

  /** [[release]] the run's pins (the golden table, Fill's one `fills`
    * frame, RowIds' sampled exchange) once the output frames have been
    * written — the change log reads through them lazily until then. */
  case class RunResult(cleaned: DataFrame, changeLog: DataFrame,
      validationErrors: DataFrame, stages: Seq[StageResult], passed: Boolean) {
    def release(): Unit = Pins.flush()
  }

  /** Run the full reference pipeline over a master frame + source frames.
    * `master` columns are resolved case-insensitively; a unique, dense
    * `row_id` is attached here if absent (P7 — scale-safe partition-offset
    * assignment, [[RowIds]]; an existing `row_id` from
    * [[ContactsApp.withRowIds]] is kept, not re-derived through a
    * single-task global window). */
  def run(spark: SparkSession, master: DataFrame,
      sources: Seq[(String, DataFrame, Map[String, String])],
      orderCols: Seq[String]): RunResult = {
    val t0 = System.nanoTime()
    val withId =
      if (master.columns.contains("row_id")) master
      else RowIds.denseByOrder(master, "row_id",
        orderCols.map(n => col(s"`$n`")))

    // unnamed: no other run's cache entry can serve the count that fills them
    val (fill, clean) = (new Observation, new Observation)
    val fillRes = Fill.fillFromSources(withId, sources)
    val cleaned = Clean(fillRes.filled.observe(fill, count(lit(1)).as("rows")))
      .observe(clean, count(lit(1)).as("rows"))

    // the one pin: the sinks, the validation report and validationErrors
    // read it. Row order is explicit (O2): the merge emits rows in hash
    // order, which moves with the core count
    val golden = Pins.pin(GoldenRecord.dedupe(cleaned, rowIdCol = "row_id",
      lastUpdatedCol = Roles.exact(cleaned, "LAST_UPDATED")).orderBy("row_id"))
    val goldenRows = golden.count()
    val t1 = System.nanoTime()
    val errors = Validate.errors(golden)
    val (errorRows, passed) = Validate.verdict(errors)
    val t2 = System.nanoTime()

    def rows(o: Observation) = o.get("rows").asInstanceOf[Long]
    RunResult(golden, fillRes.changeLog, errors, Seq(
      StageResult("fill", 0.0, rows(fill)), StageResult("clean", 0.0, rows(clean)),
      StageResult("dedup", (t1 - t0) / 1e9, goldenRows),
      StageResult("validate", (t2 - t1) / 1e9, errorRows)), passed)
  }
}
