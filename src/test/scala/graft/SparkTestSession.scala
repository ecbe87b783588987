package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (Test / fork := true
  * gives the suite its own JVM; suites share this session to avoid repeated
  * ~5s session startup). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with the given session confs set, then restore each one's
    * previous value (or unset it). */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val prev = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
