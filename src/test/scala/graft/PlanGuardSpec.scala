package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Queries

/** Physical-plan regression net: the scale properties PLANS.md documents
  * must survive refactors. Every registry query is planned (not executed)
  * once at sf0.001; the registry sweeps walk the optimized plans and the
  * named checks string-check the pre-AQE physical plans:
  *
  *  - no CartesianProduct / BroadcastNestedLoopJoin anywhere except the two
  *    documented exact verifiers (q21 broadcast-NLJ top-k, q28 quadratic
  *    near-dup) — every other join must have an equi component;
  *  - headline scans keep their predicate pushdown (PushedFilters).
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val SfDir = "/root/testdata/sf0.001"

  /** Every registry query built ONCE: name -> (optimized logical plan,
    * pre-AQE physical plan text). The sweeps and [[planOf]] all read it. */
  private lazy val plans: Map[String, (org.apache.spark.sql.catalyst.plans
      .logical.LogicalPlan, String)] =
    Queries.all.map { q =>
      val qe = q.spark(spark, SfDir).queryExecution
      q.name -> (qe.optimizedPlan, qe.sparkPlan.toString)
    }.toMap

  private def planOf(name: String): String = plans(name)._2

  test("registry sweep: no single-task window over a corpus-sized frame") {
    assume(new java.io.File(SfDir).isDirectory)
    import org.apache.spark.sql.catalyst.plans.logical._
    // A Window whose partitionSpec is empty (or all-foldable — a
    // partitionBy(lit) routes everything to ONE task just the same) is the
    // defining 100-TB scale-killer when its input is data-sized. The
    // sanctioned uses all window a frame that a blocking reduction has
    // already shrunk to metadata: every leaf-ward path below the Window
    // must cross an Aggregate (groupBy/agg output: per-partition counts,
    // per-bucket rollups), a GlobalLimit, or end in a literal/1-row leaf.
    // An unpartitioned window sitting directly on a scan — the old
    // ntile-over-corpus shape of q176/q183 — fails this structurally, so
    // reverting the Lift/Budget/RowIds two-phase plans re-breaks this net.
    def reduced(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _: OneRowRelation => true
      case l: LocalRelation => l.data.size <= 1000
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(reduced)
    }
    val offenders = Queries.all.flatMap { q =>
      plans(q.name)._1.collect {
        case w: Window if w.partitionSpec.forall(_.foldable)
            && !reduced(w.child) =>
          s"${q.name}: unpartitioned Window over non-reduced input:\n$w"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} single-task window(s) over corpus-sized frames:\n"
        + offenders.mkString("\n---\n"))
  }

  test("registry sweep: no few-key-partitioned window over a non-reduced frame") {
    assume(new java.io.File(SfDir).isDirectory)
    import org.apache.spark.sql.catalyst.plans.logical._
    // The empty-partitionSpec sweep above catches the single-task window;
    // this closes the q167-class hole it left open: a window PARTITIONED
    // by a few-valued domain key (event type, source, cohort — tens of
    // values) still funnels each group's corpus-sized slice through one
    // task at 100 TB. Such a window is only sanctioned when its input is
    // METADATA-bounded: every leaf-ward path crosses an Aggregate whose
    // grouping keys are themselves few-valued domain keys and/or a
    // physical partition id (the Budget.groupedRunning segment-summary
    // shape — #partitions x #groups rows), a GlobalLimit, or a small
    // literal relation. An Aggregate keyed by a DATA column (distinct
    // values, distinct durations) does NOT qualify — for a continuous
    // metric that frame is corpus-sized, exactly the shape the
    // q151/q156/q157 groupedRunning rewrites removed.
    // "bin" and "__rep" qualify: derived bucket / replicate indexes are
    // literal-bounded by construction (Drift.psi's grid is
    // |keys| x |bins|, Bootstrap's resample frame |groups| x B).
    // "g"/"gold"/"lang_pred"/"from_s"/"to_s"/"o_orderpriority" are the
    // few-valued domain keys the registry actually windows on beyond the
    // obvious event_type/source/lang family.
    val lowCard = Set("event_type", "source", "src", "cohort", "lang",
      "__lang", "label", "event_date", "side", "slice", "variant", "arm",
      "bin", "digit", "__rep", "g", "gold", "lang_pred", "from_s", "to_s",
      "o_orderpriority")
    val pidLike = Set(graft.pipeline.RowIds.PidCol)
    def boundedKey(name: String) = lowCard(name) || pidLike(name)
    def metaBounded(p: LogicalPlan): Boolean = p match {
      case a: Aggregate =>
        a.groupingExpressions.forall(e => e.foldable ||
          e.references.forall(r => boundedKey(r.name))) ||
          metaBounded(a.child)
      // rank-limit pushdown: each map task pre-trims every group to the
      // LITERAL limit before the shuffle, so the per-group input of the
      // window above is <= limit x #partitions rows — metadata. (A
      // non-literal per-group cut cannot push this node, so q121-style
      // column-limit rank windows still need the groupedRunning plan.)
      case _: WindowGroupLimit => true
      case _: GlobalLimit => true
      case _: OneRowRelation => true
      case l: LocalRelation => l.data.size <= 1000
      // a literal axis generator (spark.range(bins)) is metadata by
      // construction
      case r: Range => r.numElements <= BigInt(10000)
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(metaBounded)
    }
    def fewKeyWindow(w: Window): Boolean = {
      val nonFoldable = w.partitionSpec.filterNot(_.foldable)
      nonFoldable.nonEmpty &&
        nonFoldable.forall(_.references.forall(r => lowCard(r.name)))
    }
    val offenders = Queries.all.flatMap { q =>
      plans(q.name)._1.collect {
        case w: Window if fewKeyWindow(w) && !metaBounded(w.child) =>
          s"${q.name}: few-key window over non-reduced input:\n$w"
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} few-key-partitioned window(s) over corpus-sized "
        + s"frames:\n${offenders.mkString("\n---\n")}")

    // the net itself must catch the pre-r10 shape: a window partitioned
    // by a domain key over a distinct-VALUE aggregate (the old ksTest
    // ladder) is an offense — so reverting a groupedRunning rewrite
    // re-breaks this test, not just the operator's own spec
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val oldShape = spark.read.parquet(s"$SfDir/events.parquet")
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("n"))
      .withColumn("c", sum(col("n")).over(
        W.partitionBy(col("event_type")).orderBy(col("value"))))
    val caught = oldShape.queryExecution.optimizedPlan.collect {
      case w: Window if fewKeyWindow(w) && !metaBounded(w.child) => w
    }
    assert(caught.nonEmpty,
      "the few-key sweep no longer detects the per-group ladder window")
  }

  test("registry sweep: no CartesianProduct outside the documented quadratic verifiers") {
    assume(new java.io.File(SfDir).isDirectory)
    // the no-cartesian net, registry-wide (the named-query test below
    // predates this sweep and stays as belt-and-braces): a physical
    // CartesianProduct is only ever sanctioned in the exact quadratic
    // verifiers that ground-truth the LSH paths
    // (currently NO query plans one — both verifiers broadcast into a
    // nested-loop join at the test SF; the whitelist only matters if a
    // scale change ever degrades their BNLJ to a cartesian)
    val sanctioned = Set("q21_ann_topk", "q28_embed_neardup")
    val offenders = Queries.all.flatMap { q =>
      if (planOf(q.name).contains("CartesianProduct") && !sanctioned(q.name))
        Some(q.name)
      else None
    }
    assert(offenders.isEmpty,
      s"unsanctioned cartesian product in: ${offenders.mkString(", ")}")
  }

  test("q162/q167: the round-9 rewrites keep their scale shapes") {
    assume(new java.io.File(SfDir).isDirectory)
    // q162 MMR: the per-query greedy must run as a co-group (executor-
    // local per qid), never as a driver-side collect — the CoGroup node
    // is the proof the loop ships to the data
    assert(planOf("q162_mmr_rerank").contains("CoGroup"),
      "q162's greedy no longer runs executor-local as a co-group")
    // q167 quantile-norm: the idx→ladder lookup must carry an equi
    // component on the bucket keys (hash/sort-merge-joinable — the
    // scale path shuffles on them) — a pure range join over the
    // corpus-derived ladder is the old broadcast-NLJ shape
    val p167 = planOf("q167_quantile_norm")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[__pb".r
        .findFirstIn(p167).nonEmpty,
      s"q167's ladder lookup lost its bucket-key equi join:\n$p167")
    // the only nested-loop join allowed is the documented 1-row n_pool
    // scalar broadcast
    assert("BroadcastNestedLoopJoin".r.findAllMatchIn(p167).size <= 1,
      s"q167 plans a second nested-loop join:\n$p167")
    assert(!p167.contains("CartesianProduct"),
      "q167 plans a cartesian product")
  }

  /** q167 run once for the two tests below: the shuffle partitionings of
    * its initial (pre-AQE) physical plan, and the Spark jobs one noop
    * write of it starts. */
  private lazy val q167Run: (Seq[org.apache.spark.sql.catalyst.plans
      .physical.Partitioning], Int) = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.physical.Partitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Queries.all.find(_.name == "q167_quantile_norm").get
      .spark(spark, SfDir)
    // the shuffle exchanges of the initial (pre-AQE) physical plan, each
    // pinned subtree walked once however many scans read it
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def shuffles(p: SparkPlan): Seq[Partitioning] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case s: QueryStageExec => shuffles(s.plan)
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) shuffles(m.relation.cachedPlan)
        else Nil
      case e: ShuffleExchangeExec =>
        e.outputPartitioning +: e.children.flatMap(shuffles)
      case other => (other.children ++ other.subqueries).flatMap(shuffles)
    }
    val parts = shuffles(df.queryExecution.executedPlan)
    val sc = spark.sparkContext
    val group = "q167-jobs"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "q167 job count", interruptOnCancel = false)
      try df.write.format("noop").mode("overwrite").save()
      finally sc.clearJobGroup()
      org.apache.spark.graft.Listeners.drain(sc)
    } finally sc.removeSparkListener(listener)
    (parts, jobs.get)
  }

  test("q167: one range partitioning on the score and at most 20 Spark jobs") {
    assume(new java.io.File(SfDir).isDirectory)
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val (parts, jobs) = q167Run
    val keys = parts.collect { case r: RangePartitioning =>
      r.ordering.flatMap(_.references.map(_.name)).mkString(",") }
    assert(keys.sorted == Seq("doc_id", "score"),
      s"q167 wants one range partitioning on the score beside the final " +
        s"doc_id sort; its plan range-partitions on: ${keys.mkString("; ")}")
    assert(jobs > 0 && jobs <= 20,
      s"q167 ran $jobs Spark jobs; want at most 20")
  }

  test("q167: one offsets pass and at most 16 Spark jobs") {
    assume(new java.io.File(SfDir).isDirectory)
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val (parts, jobs) = q167Run
    // the probe and the span side share one pinned offsets frame: its
    // single-partition window pass runs once, not once per side
    assert(parts.count(_ == SinglePartition) == 1,
      s"q167 wants one single-partition offsets pass; its plan shuffles " +
        s"as: ${parts.mkString("; ")}")
    assert(jobs > 0 && jobs <= 16,
      s"q167 ran $jobs Spark jobs; want at most 16")
  }

  test("no cartesian or nested-loop joins outside the documented verifiers") {
    assume(new java.io.File(SfDir).isDirectory)
    val guarded = Seq("q1_pricing_summary", "q2_revenue_filter",
      "q3_top_orders", "q5_top_orders_per_cust", "q19_jaccard_pairs",
      "q20_minhash_lsh_pairs", "q24_sessions", "q29_embed_neardup_lsh",
      "q34_ann_lsh", "q42_local_supplier_volume", "q46_token_budget",
      "q53_priority_exists", "q54_sole_blame", "q57_boilerplate",
      "q58_cust_distribution", "q59_window_family", "q64_asof_join",
      // q134/q136/q139 are excluded like q113: their only BNLJ is the
      // documented 1-row scalar-aggregate broadcast (u's / n_baskets /
      // total_out), not a data-sized cross join
      "q135_sorted_neighborhood", "q137_triangle_counts",
      "q140_cdc_chunk_dedup")
    for (name <- guarded) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join")
    }
  }

  test("headline scans keep predicate pushdown") {
    assume(new java.io.File(SfDir).isDirectory)
    for (name <- Seq("q1_pricing_summary", "q2_revenue_filter",
        "q53_priority_exists"))
      assert(planOf(name).contains("PushedFilters: [IsNotNull"),
        s"$name lost its pushed filters")
  }

  test("as-of join is the union-merge plan: no join node, one key shuffle") {
    assume(new java.io.File(SfDir).isDirectory)
    val plan = planOf("q64_asof_join")
    // the operator's whole point: a range/theta JOIN never appears — the
    // lookup is a union + window, so the only wide node on user_id is the
    // window's single hash exchange (plus the final presentation sort)
    assert(!plan.contains("Join"), "as-of should plan as union+window, not a join")
    // exchanges only exist post-EnsureRequirements -> inspect executedPlan
    val executed = Queries.all.find(_.name == "q64_asof_join").get
      .spark(spark, SfDir).queryExecution.executedPlan.toString
    val keyExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllMatchIn(executed).size
    assert(keyExchanges == 1,
      s"expected exactly one user_id hash exchange, got $keyExchanges:\n$plan")
  }

  test("q88/q91 compute the shared dtf once (runtime exchange reuse)") {
    assume(new java.io.File(SfDir).isDirectory)
    // the token-stream dtf aggregate feeds the per-term df aggregate AND
    // the scoring join in each ranker; because all consumers hang off one
    // definition, the identical exchanges must dedupe at runtime (a
    // persist pin benched slower, so reuse — not caching — is the
    // guarded property). Counted on the post-execution adaptive plan.
    def reusedAfterRun(name: String): Int = {
      val df = Queries.all.find(_.name == name).get.spark(spark, SfDir)
      df.collect()
      "ReusedExchange".r.findAllMatchIn(
        df.queryExecution.executedPlan.toString).size
    }
    // q91: dtf has 4 consumers (2 rankers x [df agg, scoring join]) ->
    // >=3 reuses; stats broadcast reuse adds a 4th
    assert(reusedAfterRun("q91_rank_fusion") >= 3,
      "q91 recomputes the shared dtf per consumer instead of reusing it")
    // q88: one ranker, 2 dtf consumers -> >=1 reuse
    assert(reusedAfterRun("q88_bm25_retrieval") >= 1,
      "q88's dtf is no longer shared between the df agg and the scoring join")
  }

  test("q96/q97/q100: the new dedup/ANN queries keep their scale shapes") {
    assume(new java.io.File(SfDir).isDirectory)
    // q96 SemDeDup: the assignment frame is pinned (InMemoryRelation), so
    // its three consumers read the cache instead of re-running the
    // train+assign subtree per evaluation
    assert(planOf("q96_semdedup").contains("InMemoryRelation"),
      "q96's assignment frame lost its persist pin")
    // q97 binary ANN: Hamming pre-rank must stay on the packed words (the
    // native HammingDist kernel), and no plan may fall back to a cartesian
    val p97 = planOf("q97_ann_binary")
    assert(p97.toLowerCase.contains("hammingdist"),
      s"q97's Hamming stage no longer scores packed words:\n$p97")
    assert(!p97.contains("CartesianProduct"), "q97 plans a cartesian product")
    // q100 incremental dedup: every join has an equi component (bucket keys
    // or pair ids) — the ingest path must never cross-join a side
    val p100 = planOf("q100_incremental_lsh")
    assert(!p100.contains("CartesianProduct")
        && !p100.contains("BroadcastNestedLoopJoin"),
      s"q100 lost its bucket-key equi joins:\n$p100")
  }

  test("q106/q111 reuse their token-stream exchange; q108 prunes pre-join") {
    assume(new java.io.File(SfDir).isDirectory)
    def reusedAfterRun(name: String): Int = {
      val df = Queries.all.find(_.name == name).get.spark(spark, SfDir)
      df.collect()
      "ReusedExchange".r.findAllMatchIn(
        df.queryExecution.executedPlan.toString).size
    }
    // q106 DSIR: the doc-bucket count frame feeds the bucket-stats re-agg
    // AND the final weight join — one token-stream explode+agg, not two
    assert(reusedAfterRun("q106_dsir_select") >= 1,
      "q106 recomputes the doc-bucket counts per consumer")
    // q111 novelty: df rides a shingle window over ONE posting stream —
    // exactly one explode (Generate) in the plan; a groupBy+join-back form
    // re-runs the tokenize+explode subtree for the probe side
    val p111 = planOf("q111_ngram_novelty")
    assert("Generate".r.findAllMatchIn(p111).size == 1,
      s"q111 should explode the postings exactly once:\n$p111")
    // q108: the Bloom membership test must sit in the lineitem scan stage
    // (before the join), and the join stays broadcast
    val p108 = planOf("q108_bloom_join")
    assert(p108.contains("BloomMightContain") ||
        p108.toLowerCase.contains("bloommightcontain"),
      s"q108 lost its scan-side Bloom prune:\n$p108")
    assert(p108.contains("BroadcastHashJoin"),
      s"q108's dim join should broadcast:\n$p108")
  }

  test("q72 heavy hitters: O(k) sketch aggregate + broadcast candidate join") {
    assume(new java.io.File(SfDir).isDirectory)
    val plan = planOf("q72_heavy_hitters")
    // the sketch must run as an object-buffer aggregate (partial+final, so
    // each map task ships one k-entry summary, never the raw key stream)...
    assert(plan.contains("ObjectHashAggregate"),
      s"MisraGries should plan as ObjectHashAggregate:\n$plan")
    // ...and the exact-count pass must filter through a broadcast of the
    // <=k candidates — a shuffle join here would defeat the sketch
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate filter should be a broadcast hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"candidate filter must not shuffle the token stream:\n$plan")
  }

  test("golden-record merge plans as ObjectHashAggregate, never SortAggregate") {
    import spark.implicits._
    val df = Seq((1L, "a@x.com", "Jo", "111"), (2L, "A@X.COM", "Joanna", ""),
      (3L, "b@y.com", "Bo", "222")).toDF("row_id", "EMAIL", "FULLNAME", "MOBILE")
    val golden = graft.pipeline.GoldenRecord.dedupe(df, "row_id")
    golden.collect()
    val plan = golden.queryExecution.executedPlan.toString
    // one object-buffer aggregate for every column, partial + final; a
    // SortAggregate here sorts every row on both sides of the exchange
    assert(plan.contains("ObjectHashAggregate"),
      s"the golden merge should plan as ObjectHashAggregate:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"the golden merge must not plan a SortAggregate:\n$plan")
  }

  test("q112/q114/q118: the round-8 curation queries keep their shapes") {
    assume(new java.io.File(SfDir).isDirectory)
    // q112 NB: the vocab table is pinned (InMemoryRelation), so the
    // scoring join and the totals aggregate read the cache instead of
    // re-tokenizing the training corpus each
    val p112 = planOf("q112_nb_quality_classifier")
    assert(p112.contains("InMemoryRelation"),
      "q112's vocab table lost its persist pin")
    // q114 repetition: line metrics are row-wise HOFs (no explode), so
    // the whole query carries exactly two Generates — one per n-gram size
    val p114 = planOf("q114_gopher_repetition")
    assert("Generate".r.findAllMatchIn(p114).size == 2,
      s"q114 should explode exactly twice (2-grams and 5-grams):\n$p114")
    // q118 composition: three verdict frames joined doc-keyed; nothing in
    // the pipeline may degenerate to a cartesian join
    val p118 = planOf("q118_curation_pipeline")
    assert(!p118.contains("CartesianProduct"),
      s"q118 plans a cartesian product:\n$p118")
    // the LM-score pin from lmScore + the NB-style bucket broadcast: the
    // unigram table must be cached, not rebuilt per consumer
    assert(p118.contains("InMemoryRelation"),
      "q118's unigram table lost its persist pin")
  }

  test("q140/q157/q159/q164/q166/q169: late-round-8 queries keep shape") {
    assume(new java.io.File(SfDir).isDirectory)
    // q140 CDC chunking: the chunk instances are built once (one
    // explode of the native kernel, with no lambda left anywhere in the
    // plan), and the explicit spread-repartition must survive
    val p140 = planOf("q140_cdc_chunk_dedup")
    assert("Generate".r.findAllMatchIn(p140).size == 1,
      s"q140 should explode its chunks exactly once:\n$p140")
    import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction,
      LambdaFunction}
    val lambdas = plans("q140_cdc_chunk_dedup")._1.flatMap(_.expressions
      .flatMap(_.collect {
        case e @ (_: HigherOrderFunction | _: LambdaFunction) => e
      }))
    assert(lambdas.isEmpty,
      s"q140 plans higher-order functions: ${lambdas.mkString("; ")}")
    assert(p140.contains("REPARTITION_BY_NUM"),
      "q140 lost its explicit CPU-spread repartition")
    // q157 KS: since the r10 groupedRunning rewrite the ECDF prefix is
    // the two-phase plan — its only joins are metadata broadcasts
    // (segment offsets + per-key totals); a data-sized shuffle join or
    // a return of the per-key window would change this shape
    val p157 = planOf("q157_ks_drift")
    assert(!p157.contains("SortMergeJoin")
        && !p157.contains("ShuffledHashJoin")
        && !p157.contains("CartesianProduct"),
      s"q157's joins must all be metadata broadcasts:\n$p157")
    // q159 winnowing: selection is one sliding window over ONE
    // positions explode, appearing 4x in the plan text (planted-union
    // fps feeding the df-cap filter and both pair sides) — a w-fold
    // window-enumeration regression would multiply this
    val p159 = planOf("q159_winnow_pairs")
    assert("Generate".r.findAllMatchIn(p159).size == 4,
      s"q159's single explode should appear exactly 4x:\n$p159")
    assert(!p159.contains("CartesianProduct"),
      "q159 pair join degenerated to a cartesian")
    // q164 BLEU/ROUGE: two sides x two n-gram orders = exactly 4
    // explodes; all joins doc-keyed
    val p164 = planOf("q164_text_overlap_eval")
    assert("Generate".r.findAllMatchIn(p164).size == 4,
      s"q164 should explode exactly four times:\n$p164")
    assert(!p164.contains("CartesianProduct"),
      "q164 plans a cartesian product")
    // q166 JL: the sign matrix is a LITERAL in the projection
    // expression — a matrix-table join or explode means the scale
    // story (pure per-row projection) broke
    val p166 = planOf("q166_jl_distortion")
    assert(!p166.contains("Generate"),
      s"q166 projection must not explode:\n$p166")
    assert(!p166.contains("CartesianProduct"),
      "q166 pair join degenerated to a cartesian")
    // q169 bootstrap: ONE Generate (the replicate explode of the
    // metric column only)
    val p169 = planOf("q169_bootstrap_ci")
    assert("Generate".r.findAllMatchIn(p169).size == 1,
      s"q169 should explode exactly once:\n$p169")
  }
}
