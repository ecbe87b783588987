package graft.pipeline

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** TSV sources / sinks with the reference's reader semantics
  * (SURVEY.md §2.1 S1-S7).
  *
  * - typed read = pandas dtype inference (reference clean_contacts.py:260)
  * - allString read = `dtype=str` + `fillna('')` (fill_missing_contacts.py:150);
  *   its header is read on the driver ([[header]]), so building the frame
  *   runs no Spark job
  * - chunked reads (fill_missing_contacts_large.py:47-66) are free: Spark file
  *   scans are partitioned and pipelined by construction; the 10k-row chunk
  *   knob becomes `spark.sql.files.maxPartitionBytes`.
  * - the single-file TSV sink contract (clean_contacts.py:273) is honored via
  *   coalesce(1) behind a flag — the documented scalability exception
  *   (SURVEY.md §4): every other stage stays fully parallel.
  */
object Tsv {

  /** The reference's TSV dialect, shared by every reader (batch and
    * stream) and the sink. CSV fidelity against reference fixtures
    * (SURVEY.md §7.4.7): embedded-quote fields like """EXO""" use doubled
    * quotes, and quoted fields span lines (pandas honors both) ->
    * multiLine. Cost: per-FILE parallelism instead of per-split — fine
    * for many-file ingest dirs, documented for the single-giant-file
    * case. multiLine is a read-side option; the writer ignores it. */
  val Dialect: Map[String, String] = Map(
    "sep" -> "\t", "header" -> "true",
    "quote" -> "\"", "escape" -> "\"", "multiLine" -> "true")

  /** Typed TSV scan (S1): header + schema inference. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.options(Dialect).option("inferSchema", true).csv(path)

  /** All-string TSV scan (S2): every cell StringType, nulls -> "". The
    * schema is [[header]]'s, passed to the reader, so no header pass runs. */
  def readAllString(spark: SparkSession, path: String): DataFrame =
    spark.read.options(Dialect).schema(header(spark, path)).csv(path)
      .na.fill("")

  /** The all-string schema Spark's header pass would infer for `path`, read
    * on the driver through the Hadoop FS: the first record, tokenized with
    * [[Dialect]]'s quote and escape, named as Spark names it (blank ->
    * `_c<i>`, duplicates under the session's case sensitivity suffixed with
    * their index). A directory takes the header of its first `.tsv`
    * in [[listTsv]] (name) order: its files share one header, as stream
    * drops do. An empty file has no columns. */
  private[graft] def header(spark: SparkSession, path: String): StructType = {
    val file = new Path(listTsv(path).headOption.getOrElse(path))
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Dialect, false, conf.sessionLocalTimeZone)
    val parser = new CsvParser(opts.asParserSettings)
    parser.beginParsing(
      file.getFileSystem(spark.sessionState.newHadoopConf()).open(file), opts.charset)
    val first = try Option(parser.parseNext()).toSeq finally parser.stopParsing()
    StructType(first.flatMap(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, opts))
      .map(StructField(_, StringType)))
  }

  /** Enumerate `*.tsv` in a directory in deterministic sorted order (S4).
    * The reference iterates `os.listdir` order — platform-dependent; sorted
    * order is the explicit-determinism fix (SURVEY.md §4). Per-file schemas
    * differ, so this cannot be one glob read. Listed through the Hadoop FS:
    * a URI lists what its path does, a plain path lists absolute paths, and
    * a file or a missing path lists nothing. */
  def listTsv(dir: String): Seq[String] = {
    val d = new Path(dir)
    val fs = d.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    val local = d.toUri.getScheme == null
    (if (fs.exists(d) && fs.getFileStatus(d).isDirectory) fs.listStatus(d).toSeq else Nil)
      .filter(f => f.isFile && f.getPath.getName.toLowerCase.endsWith(".tsv"))
      .map(f => if (local) f.getPath.toUri.getPath else f.getPath.toString).sorted
  }

  /** TSV sink (S6). `singleFile=true` honors the reference's one-file
    * contract (coalesce(1) + driver rename); false writes a normal
    * distributed directory of part files — the 100-TB default. */
  def write(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val target = if (singleFile) path + ".dir" else path
    out.write.mode("overwrite").options(Dialect)
      .option("emptyValue", "").option("nullValue", "")
      // Spark's CSV WRITER trims cell whitespace by default (the write-side
      // defaults of ignore*WhiteSpace are true, unlike the read side) —
      // pandas to_csv preserves it, and so must this sink (caught by the
      // tools/parity.py field diff: raw export cells like "Director "
      // lost their trailing space)
      .option("ignoreLeadingWhiteSpace", false)
      .option("ignoreTrailingWhiteSpace", false)
      // reference timestamp shape, e.g. 2010-12-13 14:54:49.000
      // (output/MergedDatabase.tsv:2), not ISO-8601
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
      .csv(target)
    if (singleFile) {
      val dir = new java.io.File(target)
      // the rename step is java.io — LOCAL filesystem only (the artifact
      // contract is a small export; distributed outputs use
      // singleFile=false). Fail with a clear message, not an NPE, on
      // hdfs://-style paths.
      val listed = Option(dir.listFiles()).getOrElse(sys.error(
        s"singleFile=true requires a local filesystem path; " +
          s"cannot list $target (non-local or unreadable)"))
      val part = listed.find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file written under $target"))
      val dest = new java.io.File(path)
      if (dest.exists() && !dest.delete())
        sys.error(s"cannot overwrite $path (existing non-empty directory?)")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
