package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pins
import graft.queries.Queries

/** Scoped pin lifecycle: operator-internal persist pins (RowIds/Budget
  * sampled-exchange pins, Dedup postings, classifier vocab tables) must all
  * route through [[Pins]] so a run boundary releases them — a long-lived
  * session composing many operators must not accumulate cache entries.
  * (localCheckpoint'd frames — CC labels, PageRank iterations — are a
  * separate lifecycle released by Engine.release's persistent-RDD sweep;
  * the queries below are chosen pin-only.) */
class PinsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val SfDir = "/root/testdata/sf0.001"

  test("pin-carrying queries + operators leave no net-new persisted RDDs after flush") {
    assume(new java.io.File(SfDir).isDirectory)
    import spark.implicits._
    Pins.flush() // drain pins other suites may have left behind
    val before = spark.sparkContext.getPersistentRDDs.keySet

    // registry queries whose plans create operator-internal pins:
    // Dedup posts/sizes (q19), posts/sigs (q20), simhash agg (q26),
    // NB vocab (q112), LM unigrams (q98), boilerplate lines (q57),
    // Budget's sampled exchange (q46), RowIds' sampled exchange (q176)
    for (name <- Seq("q19_jaccard_pairs", "q20_minhash_lsh_pairs",
        "q26_simhash32", "q57_boilerplate", "q46_token_budget",
        "q176_selection_gain"))
      Queries.all.find(_.name == name).get.spark(spark, SfDir).collect()

    // direct operator composition, the library-caller shape
    val df = (1 to 500).map(i => (i.toLong, (i * 37 % 101).toLong))
      .toDF("id", "v")
    graft.pipeline.RowIds.denseByOrder(df, "rid", Seq(col("v"), col("id")))
      .collect()
    graft.operators.Budget.cumulativeSum(
      df, Seq(col("v"), col("id")), col("v"), "cum").collect()

    assert(Pins.activeCount > 0,
      "expected the composed operators to register pins")
    Pins.flush()
    assert(Pins.activeCount == 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"net-new persisted RDDs survived Pins.flush: $leaked")
  }

  test("a pipeline run's release leaves no pin and no cache entry behind") {
    import spark.implicits._
    import graft.pipeline.{Fill, Pipeline}
    Pins.flush()
    def entries = org.apache.spark.sql.graft.CacheEntries.count(spark)
    val entriesBefore = entries
    val m = Seq(
      ("jo do", "", "5551234567", "2020-01-01 00:00:00"),
      ("jo do", "jo@x.com", "5551234567", "2021-01-01 00:00:00"),
      ("bo bi", "bo@y.com", "5550000000", "2020-06-01 00:00:00"))
      .toDF("FULLNAME", "EMAIL", "MOBILE", "LAST_UPDATED")
    val src = Fill.withMatchKeys(
      Seq((1L, "jo do", "jo@x.com", "5551234567"))
        .toDF("src_order", "name", "email", "phone"),
      col("name"), col("email"), col("phone"))
    val r = Pipeline.run(spark,
      Fill.withMatchKeys(m, col("FULLNAME"), col("EMAIL"), col("MOBILE")),
      Seq(("s1", src, Map("EMAIL" -> "email"))),
      orderCols = Seq("FULLNAME", "MOBILE", "EMAIL"))
    assert(r.changeLog.count() == 1 && r.cleaned.count() == 2)
    // the golden table, Fill's fills frame and, as this master has no
    // row_id, RowIds' range-partitioned master: no stage boundary is pinned
    assert(entries - entriesBefore == 3,
      s"expected the run to pin the golden table, Fill's fills frame and " +
        s"RowIds' sorted master, not ${entries - entriesBefore} entries")
    r.release()
    assert(Pins.activeCount == 0 && entries == entriesBefore,
      s"release left ${Pins.activeCount} pin(s) and " +
        s"${entries - entriesBefore} cache entr(ies)")
  }

  test("concurrent flows are isolated per-thread; dead owner's pins are adopted") {
    import spark.implicits._
    Pins.flush()
    val hold = new java.util.concurrent.CountDownLatch(1)
    val pinnedUp = new java.util.concurrent.CountDownLatch(1)
    @volatile var flowAErr: Throwable = null
    val flowA = new Thread(() => {
      try { Pins.pin(Seq(1).toDF("x")); pinnedUp.countDown(); hold.await() }
      catch { case e: Throwable => flowAErr = e; pinnedUp.countDown() }
    }, "pins-spec-flow-a")
    flowA.start()
    pinnedUp.await()
    assert(flowAErr == null, s"flow A failed to pin: $flowAErr")
    // a second LIVE flow pins into its OWN registry — no exception, no
    // cross-flow interference (the r11 guard threw here, which both raced
    // stream shutdown and hard-failed legitimate concurrency)
    Pins.pin(Seq(2).toDF("y"))
    assert(Pins.activeCount == 2)
    // this thread's flush releases ONLY its own pin: flow A is live (held
    // on the latch past the terminating-join window) and keeps its pin —
    // a cross-flow flush must never unpersist another run's in-flight
    // sampled-exchange pin mid-consumption
    Pins.flush()
    assert(Pins.activeCount == 1,
      "live foreign flow's pin must survive another thread's flush")
    hold.countDown()
    flowA.join()
    // flow A is dead: its orphaned scratch is adopted by the next flush
    Pins.flush()
    assert(Pins.activeCount == 0)
  }

  test("a just-terminating owner's pins release in the same flush (awaitTermination race)") {
    import spark.implicits._
    Pins.flush()
    val pinnedUp = new java.util.concurrent.CountDownLatch(1)
    val flowB = new Thread(() => {
      Pins.pin(Seq(3).toDF("z")); pinnedUp.countDown()
      Thread.sleep(100) // still alive when the main thread calls flush
    }, "pins-spec-flow-b")
    flowB.start()
    pinnedUp.await()
    // flowB is alive but terminating (the shape of a stream execution
    // thread whose finally already unblocked awaitTermination): flush
    // joins it briefly and releases its pins in THIS call
    Pins.flush()
    assert(Pins.activeCount == 0,
      "terminating owner's pins must release within the join window")
    flowB.join()
  }
}
