package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** JSON audit sink (SURVEY.md §2.1 S8): the reference writes its change log
  * and validation errors as ONE pretty-printed JSON array
  * (fill_missing_contacts.py:239-240, validate_fields.py:136-137).
  *
  * Two modes:
  *  - [[writeArray]]: the artifact-parity path — collect to the driver and
  *    write a single pretty JSON array file. Audit datasets are tiny
  *    relative to the data (per-fill / per-error rows), but this is still
  *    the documented scalability exception, capped at a million rows.
  *  - [[writeDistributed]]: `.write.json` — newline-delimited JSON part
  *    files, the 100-TB default.
  */
object JsonAudit {

  /** [[writeArray]]'s row cap: a larger audit belongs in [[writeDistributed]]. */
  private val MaxRows = 1000000

  /** Single pretty-printed JSON array (reference artifact shape).
    * Values are rendered as JSON strings/numbers/nulls per field type —
    * null fields are EMITTED (`"x": null`), matching the reference's
    * json.dump, not dropped the way `df.toJSON` does by default. */
  def writeArray(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    // a partition-by-partition iterator, not `take`: over a sorted frame
    // `take` plans a top-k sized for the cap in every partition
    val rows = df
      .select(to_json(struct(df.columns.map(c => col(s"`$c`")).toSeq: _*),
        Map("ignoreNullFields" -> "false")))
      .toLocalIterator().asScala.take(MaxRows + 1).map(_.getString(0)).toVector
    require(rows.length <= MaxRows,
      s"audit dataset exceeds $MaxRows rows; use writeDistributed")
    // toJSON yields compact per-row objects; indent them into a pretty array
    val body =
      if (rows.isEmpty) "[]"
      else rows.map(r => "  " + r).mkString("[\n", ",\n", "\n]")
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }

  /** Distributed newline-delimited JSON (the scale path). */
  def writeDistributed(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)
}
