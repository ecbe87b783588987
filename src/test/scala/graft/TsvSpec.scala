package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ContactsApp, Tsv}

/** The all-string TSV read's driver-side header against Spark's own header
  * pass, and the frames built over it: no Spark job while a contact file is
  * opened, and a source plan that is one scan and projections. */
class TsvSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def write(p: Path, body: Array[Byte]): String = {
    Files.createDirectories(p.getParent)
    Files.write(p, body).toString
  }
  private def write(p: Path, body: String): String = write(p, body.getBytes(UTF_8))

  test("readAllString's header read matches Spark's header pass") {
    val d = Files.createTempDirectory("tsv-header")
    val dir = d.resolve("drops")
    write(dir.resolve("a.tsv"), "Email\tName\nx@y\tAnn\n")
    write(dir.resolve("b.tsv"), "Email\tName\nz@y\tBob\n\tCy\n")
    val inputs = Seq(
      "quoted tab and doubled quote" -> write(d.resolve("q.tsv"),
        "\"a\tb\"\t\"say \"\"hi\"\"\"\tc\n1\t\"2\t2\"\t3\n"),
      "header cell over two lines" -> write(d.resolve("m.tsv"),
        "\"first\nline\"\tx\n1\t2\n"),
      "blank and duplicate names" -> write(d.resolve("dup.tsv"),
        "\tName\tname\tEmail\tEmail\n1\t2\t3\t4\t5\n"),
      "header only" -> write(d.resolve("h.tsv"), "a\tb\n"),
      "0-byte file" -> write(d.resolve("empty.tsv"), ""),
      "CRLF line ends" -> write(d.resolve("crlf.tsv"), "a\tb\r\n1\t2\r\n3\t\r\n"),
      "UTF-8 BOM" -> write(d.resolve("bom.tsv"),
        Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ "a\tb\n1\t2\n".getBytes(UTF_8)),
      "directory of same-header files" -> dir.toString)
    inputs.foreach { case (what, p) =>
      val want = spark.read.options(Tsv.Dialect).csv(p).na.fill("")
      val got = Tsv.readAllString(spark, p)
      assert(got.schema == want.schema, what)
      assert(got.collect().toSeq == want.collect().toSeq, what)
    }
    // the inputs exercise what they name
    def columns(what: String) =
      Tsv.readAllString(spark, inputs.toMap.apply(what)).columns.toSeq
    assert(columns("quoted tab and doubled quote") == Seq("a\tb", "say \"hi\"", "c"))
    assert(columns("blank and duplicate names") ==
      Seq("_c0", "Name1", "name2", "Email3", "Email4"))
    assert(columns("header cell over two lines") == Seq("first\nline", "x"))
    assert(columns("0-byte file").isEmpty)
    assert(columns("CRLF line ends") == Seq("a", "b"))
    assert(columns("UTF-8 BOM") == Seq("a", "b"))
  }

  test("opening a contact file runs no Spark job; a source plan is one scan") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.logical._
    val p = write(Files.createTempDirectory("tsv-jobs").resolve("src.tsv"),
      "First Name\tLast Name\tEmail\tPhone\nAnn\tLee\ta@x.com\t0400\n")
    val sc = spark.sparkContext
    val group = "tsv-open-jobs"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val plan = try {
      sc.setJobGroup(group, "tsv open job count", interruptOnCancel = false)
      try {
        Tsv.readAllString(spark, p).queryExecution.optimizedPlan
        ContactsApp.loadSource(spark, p).queryExecution.optimizedPlan
      } finally sc.clearJobGroup()
    } finally {
      org.apache.spark.graft.Listeners.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"building the frames ran ${jobs.get} Spark jobs")
    assert(plan.collectLeaves().size == 1, plan)
    assert(plan.collect {
      case n @ (_: Aggregate | _: Window | _: Join) => n
    }.isEmpty, plan)
  }
}
