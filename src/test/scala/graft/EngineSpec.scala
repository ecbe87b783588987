package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session posture every main runs under (Bench, Verify, Plans,
  * ScaleProbe, AnnCurve, the parity dumps, ContactsMain, ApiMain). A
  * change to the engine's settings must change this list too, so it shows
  * in review; the benchmark harness copies the same values for its
  * registry workload. */
class EngineSpec extends AnyFunSuite {

  test("the shared session posture") {
    assert(Engine.posture(7) == Seq(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.join.preferSortMergeJoin" -> "false"))
    assert(Engine.cpus == sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt))
  }

  test("release drops the run's pins, cache entries and persisted RDDs") {
    val spark = SparkTestSession.spark
    val df = spark.range(10).toDF("x").cache()
    df.count()
    graft.pipeline.Pins.pin(spark.range(5).toDF("y")).count()
    assert(df.storageLevel.useMemory)
    Engine.release(spark)
    assert(!df.storageLevel.isValid)
    assert(graft.pipeline.Pins.activeCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
