package graft

/** Plan auditor: prints `explain("formatted")` for selected registry queries
  * so broadcast choices, pushed filters, read schemas, and whole-stage
  * codegen spans can be reviewed (and regressions spotted) without a
  * debugger. Usage: runMain graft.Plans [queryName ...]
  *
  * With `--metrics` as the first argument the queries are EXECUTED instead
  * (noop materialization) and per-query totals are printed — shuffle bytes
  * read/written, records shuffled, disk spill, Spark jobs, tasks, summed
  * task run time and task CPU time. "Minimize shuffles" is this engine's
  * central scale claim; these counters are the measured form of it (e.g.
  * q72's sketch pass must shuffle KILOBYTES where an exact word count
  * shuffles the vocabulary), and the job/task columns show where a query's
  * wall time goes when it is bound by per-job overhead, not data work. */
object Plans {

  private class StageMetrics extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val read, written, records, spilled = new AtomicLong
    val jobs, tasks, runMs, cpuNs = new AtomicLong
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spilled.addAndGet(m.diskBytesSpilled)
      tasks.addAndGet(s.stageInfo.numTasks)
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
    def reset(): Unit = Seq(read, written, records, spilled, jobs, tasks,
      runMs, cpuNs).foreach(_.set(0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val metricsMode = args.headOption.contains("--metrics")
    val qargs = if (metricsMode) args.drop(1).toSeq else args.toSeq
    // the graded posture, so the audited plans ARE the benched plans
    val spark = Engine.session()
    val names = if (qargs == Seq("--all")) SparkEntry.queries.keys.toSeq.sorted
      else if (qargs.nonEmpty) qargs
      else if (metricsMode) SparkEntry.queries.keys.toSeq.sorted
      else Seq("q1_pricing_summary", "q2_revenue_filter", "q3_top_orders",
        "q9_part_text", "q21_ann_topk", "q28_embed_neardup")
    val l = new StageMetrics
    if (metricsMode) {
      spark.sparkContext.addSparkListener(l)
      println(f"${"query"}%-28s ${"shuf_read_mb"}%12s ${"shuf_write_mb"}%13s " +
        f"${"shuf_rows"}%10s ${"spill_mb"}%9s ${"jobs"}%5s ${"tasks"}%6s " +
        f"${"task_s"}%8s ${"cpu_s"}%8s")
    }
    def mb(b: Long): String = f"${b / 1048576.0}%.2f"
    try
      for (n <- names) {
        SparkEntry.queries.get(n) match {
          case Some(q) if metricsMode =>
            l.reset()
            q(spark, sfDir).write.format("noop").mode("overwrite").save()
            org.apache.spark.graft.Listeners.drain(spark.sparkContext)
            println(f"$n%-28s ${mb(l.read.get)}%12s ${mb(l.written.get)}%13s " +
              f"${l.records.get}%10d ${mb(l.spilled.get)}%9s " +
              f"${l.jobs.get}%5d ${l.tasks.get}%6d " +
              f"${l.runMs.get / 1e3}%8.2f ${l.cpuNs.get / 1e9}%8.2f")
            Engine.release(spark)
          case Some(q) =>
            println(s"\n========== $n ==========")
            q(spark, sfDir).explain("formatted")
          case None => println(
            s"unknown query '$n' — valid names:\n  " +
              SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
        }
      }
    finally spark.stop()
  }
}
