package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequential pipeline orchestrator (reference cleaning/run.py; SURVEY.md
  * §2.11 X1): fill -> clean -> dedup -> validate as ordinary method calls on
  * ONE SparkSession — stage handoff is a DataFrame reference, not a
  * subprocess + filesystem round-trip. Per-stage wall time is recorded the
  * way run.py logs step durations (run.py:35-57).
  */
object Pipeline {

  case class StageResult(name: String, seconds: Double, rows: Long)

  /** [[release]] the run's pins (stage boundaries, Fill's one `fills`
    * frame, RowIds' sampled exchange) once the output frames have been
    * written — the change log reads through them lazily until then. */
  case class RunResult(cleaned: DataFrame, changeLog: DataFrame,
      validationErrors: DataFrame, stages: Seq[StageResult], passed: Boolean) {
    def release(): Unit = Pins.flush()
  }

  private def timed[T](name: String, out: scala.collection.mutable.Buffer[StageResult])
      (f: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    // pin the stage boundary BEFORE counting: without it each stage's
    // count (and every later stage, and the artifact writes) re-executes
    // the whole upstream DAG, making the per-stage timings cumulative and
    // the pipeline body run O(stages) times. Pins-registered, so
    // RunResult.release() drops the stage caches along with the operator
    // pins once the caller has consumed the outputs.
    val df = Pins.pin(f)
    val n = df.count() // materialize the stage boundary, like run.py does
    out += StageResult(name, (System.nanoTime() - t0) / 1e9, n)
    df
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
    val stages = scala.collection.mutable.Buffer.empty[StageResult]

    val withId =
      if (master.columns.contains("row_id")) master
      else RowIds.denseByOrder(master, "row_id",
        orderCols.map(n => col(s"`$n`")))

    // one lazy plan: the fill stage's count below runs it
    val fillRes = Fill.fillFromSources(withId, sources)
    val filled = timed("fill", stages)(fillRes.filled)

    val cleaned = timed("clean", stages)(Clean(filled))

    // row order is explicit (O2): the merge emits rows in hash order, which
    // moves with the core count, and every sink of the result writes it
    val deduped = timed("dedup", stages)(
      GoldenRecord.dedupe(cleaned, rowIdCol = "row_id",
        lastUpdatedCol = Roles.exact(cleaned, "LAST_UPDATED")).orderBy("row_id"))

    val errors = timed("validate", stages)(Validate.errors(deduped))

    RunResult(deduped, fillRes.changeLog, errors, stages.toSeq,
      Validate.passes(errors))
  }
}
