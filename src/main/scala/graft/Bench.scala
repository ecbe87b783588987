package graft

/** Benchmark main (driver contract): run every registry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query times
  * (integer centiseconds, keyed by query number — see the stdout-budget
  * notes below; full names + 3-decimal raw samples in BENCH_RUNS.json).
  *
  * Each query is materialized through a noop-format write — unlike count(),
  * that computes every output column (count() would let Catalyst prune the
  * computed columns of pure-projection queries and understate the work).
  * One warm-up pass (untimed) absorbs JIT + codegen compilation so the
  * timings reflect steady-state execution.
  *
  * Timings are the MINIMUM of `SPARK_GRAFT_RUNS` (default 3) timed passes:
  * host noise on this box is one-sided (+25% GC/scheduler outliers are
  * common, negative ones impossible), so the minimum is the stable
  * steady-state estimate — single-pass numbers have mis-signaled regressions
  * three rounds running (q31/q21 r2, q45 r3, q44 r4). The passes are
  * INTERLEAVED as full-registry sweeps (pass 1 of every query, then pass 2,
  * ...) rather than back-to-back per query: r5's driver read q31 at 1.46 s
  * min-of-3 while identical code replays at 0.36 s, because a ~15 s host
  * stall covered ALL THREE consecutive passes of the alphabetically-adjacent
  * q30–q32 window (driver per-pass 2.08/1.46/1.76 for q31; q32 shows the
  * stall ending mid-query at 2.93/2.91/0.75). With sweeps ~1 registry-length
  * apart, a transient stall can taint at most one sample per query and the
  * minimum recovers. The per-pass raw samples are written to BENCH_RUNS.json
  * in the working directory so a surprising minimum can be audited against
  * its own distribution; the stdout JSON stays compact because the driver
  * captures only the final ~2000 chars of output and a longer line fails its
  * parse (BENCH_r02/r03).
  *
  * SPARK_GRAFT_ONLY=q44_dup_clusters,q47_dedup_keep_best restricts the run
  * (local iteration only — the driver always runs the full registry).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val spark = Engine.session()

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val sec =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9 // stop the clock BEFORE cleanup
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      // each timed run must pay its own materialization cost: the
      // warm-up is for JIT/codegen, not data. Untimed: cleanup cost is
      // harness bookkeeping, not query work.
      Engine.release(spark)
      if (sec >= 0) System.err.println(f"[bench] $name%-28s $sec%8.2f s")
      sec
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach(runOnce) // warm-up: JIT, codegen cache, file listing

    // interleaved sweeps (see scaladoc): pass p runs every query once, so
    // consecutive samples of one query sit a full registry-length apart
    val sweeps = (1 to nRuns).map(_ => names.map(n => n -> runOnce(n)).toMap)

    // Stall-window forensics + bounded retry (VERDICT r14 item 2). The
    // r14 audit file's big spreads are CONTIGUOUS: 4-9 alphabetically-
    // consecutive queries all > 2x their own cross-pass median inside ONE
    // pass (r14: q100-q105 in pass 0; q137-q140, q180-q187, q189-q196 in
    // pass 1; pass 2 clean) — minutes-long external host-contention
    // windows, not per-query noise (the SPARK_GRAFT_GC_LOG knob shows no
    // matching collector pauses; PLANS.md round 15). Per-query minima
    // already recover when at least one pass is clean; what the windows
    // taint is the AUDIT (max/min spreads) and, at the margin, minima
    // when windows cover several passes. Detection: within each pass,
    // runs of >= 4 consecutive queries whose sample exceeds 2x their
    // median. Mitigation: name the tainted spans in BENCH_RUNS.json
    // (the audit file explains its own outliers) and take ONE extra full
    // sweep when any window was detected, so every query's min draws on
    // nRuns samples outside the known-bad spans.
    def stallWindows(sw: Seq[Map[String, Double]])
        : Seq[(Int, String, String, Int)] = {
      val med = names.flatMap { n =>
        BenchDrift.median(sw.map(_(n)).filter(_ >= 0)).map(n -> _) }.toMap
      sw.zipWithIndex.flatMap { case (pass, pi) =>
        val flags = names.map { n =>
          n -> med.get(n).exists(m =>
            m > 0 && pass(n) >= 0 && pass(n) > 2 * m)
        }
        val wins = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, String, Int)]
        var cur = List.empty[String]
        def close(): Unit = {
          if (cur.size >= 4) wins += ((pi, cur.last, cur.head, cur.size))
          cur = Nil
        }
        flags.foreach { case (n, f) => if (f) cur ::= n else close() }
        close()
        wins.toSeq
      }
    }
    val windows = stallWindows(sweeps)
    val sweepsAll =
      if (windows.isEmpty) sweeps
      else {
        System.err.println(s"[bench] ${windows.size} stall window(s) " +
          "detected — taking one extra full sweep")
        sweeps :+ names.map(n => n -> runOnce(n)).toMap
      }
    // the audit file must explain ALL of its own outliers: re-scan with
    // the retry sweep included, so a stall landing IN the retry pass is
    // named too (and the medians the flags are judged against draw on
    // every recorded sample). Detection (windows nonempty) stays on the
    // primary sweeps — the retry itself only ever runs once.
    val windowsAll =
      if (sweepsAll.size == sweeps.size) windows else stallWindows(sweepsAll)
    val samples = names.map(n => n -> sweepsAll.map(_(n)))
    // min over the SUCCESSFUL passes: a single transient failure must not
    // discard surviving samples (the query would drop out of `total` and
    // read as a round-over-round speedup); -1 only when every pass failed
    val results = samples.map { case (n, ss) =>
      val ok = ss.filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }

    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // integer CENTISECONDS on the stdout line (same 2-decimal precision,
    // minus the ".": at 185 queries, "q44":1.23 style entries total ~2,300
    // chars and the driver's ~2000-char stdout tail truncated the line's
    // head — BENCH_r08 landed with parsed:null, 167/185 times surviving
    // only inside the raw tail string). "44":123 keeps the full registry
    // under ~1,800 chars; -1 stays the every-pass-failed sentinel
    def cs(v: Double): String =
      if (v < 0) "-1" else Math.round(v * 100.0).toString

    // drift-normalized regression detection (BenchDrift): the PRIOR
    // round's committed BENCH_RUNS.json (read BEFORE this run overwrites
    // it) supplies last round's per-query MEDIANS; the frozen canaries
    // estimate the host factor; flags land in the new file and on
    // stderr. Medians, not the headline minima — a lucky prior minimum
    // false-flags identical code (see BenchDrift). A restricted or
    // cross-SF prior yields no factor and no flags.
    val priorBody =
      try {
        val src = scala.io.Source.fromFile("BENCH_RUNS.json")
        try src.mkString finally src.close()
      } catch { case _: Exception => "" }
    val priorRound = BenchDrift.priorMedians(priorBody, sfDir)
    val host = BenchDrift.hostFingerprint()
    // a prior recorded on a DIFFERENT machine makes the canary factor
    // class-biased (see BenchDrift.hostFingerprint) — flags still compute
    // and record (they seed the new host's baseline conversation) but are
    // labeled ADVISORY, not regressions. UNLESS this fingerprint has its
    // own recorded baseline (a host the bench has run on before): then the
    // compare runs against that host's OWN most-recent medians with full
    // regression labeling — a real regression landing in the same round
    // as a host change must not hide behind the advisory downgrade
    // (VERDICT r13 item 3).
    val crossHost = BenchDrift.priorHost(priorBody).exists(_ != host)
    val selfBaseline =
      if (crossHost) BenchDrift.priorBaseline(priorBody, host, sfDir)
      else Map.empty[String, Double]
    val (prior, advisory, driftBaseline) =
      if (!crossHost) (priorRound, false, "prior_round")
      else if (selfBaseline.nonEmpty) (selfBaseline, false, "self_fingerprint")
      else (priorRound, true, "cross_host_prior")
    val currentMed = samples.flatMap { case (n, ss) =>
      BenchDrift.median(ss).map(n -> _) }.toMap
    val provisional = BenchDrift.analyze(prior, currentMed)
    // confirmation pass: host contention is HETEROSCEDASTIC — a busy
    // window can inflate some queries 40% while the canaries move 6%,
    // so no global factor fully normalizes one noisy sweep (observed:
    // 10 provisional flags on identical code during a 15%-slower run).
    // Re-measure ONLY the flagged queries + canaries with 2 extra
    // interleaved passes minutes later (a different noise window) and
    // keep a flag only if the 5-sample median still trips the bar.
    var confirmSamples = Map.empty[String, Seq[Double]]
    val drift =
      if (provisional.flags.isEmpty) provisional
      else {
        System.err.println(s"[bench] ${provisional.flags.size} provisional " +
          "drift flag(s) — confirming with 2 extra passes")
        val byName = samples.toMap
        val names2 = (provisional.flags.map(_.name) ++ BenchDrift.Canaries)
          .distinct.sorted.filter(byName.contains)
        val extra = (1 to 2).map(_ => names2.map(n => n -> runOnce(n)).toMap)
        confirmSamples = names2.map(n => n -> extra.map(_(n))).toMap
        val med2 = currentMed ++ names2.flatMap { n =>
          BenchDrift.median(byName(n) ++ extra.map(_(n))).map(n -> _) }
        // confirm() restricts the final set to (1) provisionally flagged
        // (= re-measured) queries — the confirm-window factor shift must
        // not ship an unconfirmed flag (r11: q100 crossed the bar purely
        // on a 0.835->0.830 factor move, with zero confirmation samples) —
        // and (2) queries whose confirm-window median ITSELF still trips:
        // the later-window re-measurement is the verdict, not a minority
        // vote inside the combined median (r12: q55's clean 1.68/1.72 s
        // confirm passes were outvoted 3-2 by the slow main window)
        // names2 (flags + canaries) all carry confirm-window samples, so
        // confirm() can derive a confirm-window-only canary factor instead
        // of normalizing the re-measurements by the main-sweep-dominated
        // combined factor (ADVICE r12)
        val confirmOnlyMed = names2.flatMap { n =>
          confirmSamples.get(n).flatMap(BenchDrift.median).map(n -> _)
        }.toMap
        BenchDrift.confirm(prior, med2, provisional,
          confirmOnly = confirmOnlyMed)
      }
    drift.flags.foreach { f =>
      val kind =
        if (advisory) "DRIFT (ADVISORY, cross-host prior)"
        else if (driftBaseline == "self_fingerprint")
          "DRIFT-NORMALIZED REGRESSION (vs this host's own baseline)"
        else "DRIFT-NORMALIZED REGRESSION"
      System.err.println(f"[bench] $kind ${f.name}: " +
        f"${f.priorSec}%.3f -> ${f.currentSec}%.3f s " +
        f"(normalized ratio ${f.normRatio}%.3f, host factor " +
        f"${drift.factor.getOrElse(1.0)}%.3f)")
    }

    // full-precision per-pass samples -> audit file (committed by the
    // driver); confirmation-pass samples recorded separately so confirmed
    // flags are recomputable from the file alone
    val runsJson = samples.map { case (k, ss) =>
      "\"" + k + "\":[" + ss.map(r3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // detected host-stall spans (pass index + inclusive query range in
    // sweep order): the audit file names its own tainted samples —
    // including any window inside the retry pass itself (pass index
    // >= nruns) — and "extra_sweeps" says whether the bounded retry ran
    // (per-query "runs" arrays then hold nruns + extra_sweeps entries)
    val windowsJson = windowsAll.map { case (pi, from, to, n) =>
      s"""{"pass":$pi,"from":"$from","to":"$to","n":$n}"""
    }.mkString(""""stall_windows":[""", ",", s"""],"extra_sweeps":${
      sweepsAll.size - sweeps.size},""")
    val confirmJson =
      if (confirmSamples.isEmpty) ""
      else confirmSamples.toSeq.sortBy(_._1).map { case (k, ss) =>
        "\"" + k + "\":[" + ss.map(r3).mkString(",") + "]"
      }.mkString(""","confirm_runs":{""", ",", "}")
    // per-fingerprint baselines: this host's medians become ITS baseline;
    // every other recorded host's baseline carries forward, so a later
    // return to any known fingerprint compares against that host's own
    // history instead of an advisory cross-host read
    val baselines = (BenchDrift.carryBaselines(priorBody, host) :+
      BenchDrift.baselineFragment(host, sfDir, currentMed)).mkString(",")
    // registry fingerprint + qnum→name map (VERDICT r16 item 8): the
    // stdout line's positional "queries" array is driver-tail-budget
    // constrained, so the NAME alignment lives here — "qmap" maps query
    // number to full name, and "registry_fingerprint" (md5 of the sorted
    // name list, 12 hex) lets a cross-round comparator prove two runs
    // share a registry before aligning positionally. The stdout JSON
    // carries the same fingerprint as "fp" plus a "qmap" pointer.
    def qnumOf(n: String): Int = n.takeWhile(_ != '_').drop(1).toInt
    val fpHex = java.security.MessageDigest.getInstance("MD5")
      .digest(names.sorted.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val qmapJson = names.sortBy(qnumOf)
      .map(n => s""""${qnumOf(n)}":"$n"""").mkString("{", ",", "}")
    val fw = new java.io.FileWriter("BENCH_RUNS.json")
    try fw.write(
      s"""{"nruns":$nRuns,"sf":"$sfDir","host":"$host","cross_host":$crossHost,"registry_fingerprint":"$fpHex","qmap":$qmapJson,$windowsJson"drift_baseline":"$driftBaseline","policy":"per-query min over nruns interleaved full-registry sweeps after one warm-up sweep (each runs array holds nruns + extra_sweeps samples when the bounded stall retry ran, and stall_windows is scanned over ALL recorded passes including the retry); cleanup untimed since r6; drift compare on per-query MEDIANS vs the prior committed BENCH_RUNS.json (host_factor = median canary ratio; flagged = normalized median ratio > 1.3 and drift-adjusted excess > 0.2s, CONFIRMED by 2 extra passes of the flagged queries + canaries in a later noise window whose own canary factor normalizes the re-measurements; final flags restricted to the provisionally-flagged = re-measured queries AND to those whose confirm-window median itself still trips the bar; drift_baseline names the compare target: prior_round = same host as the prior file, self_fingerprint = this host's own recorded baseline after a host change, cross_host_prior = no own baseline -> flags tagged advisory:true — the canary factor is class-biased across machines; baseline_<fp> objects hold each known host's most-recent medians)"${drift.jsonFields(advisory)}$confirmJson,"runs":$runsJson,$baselines}\n""")
    finally fw.close()

    // Positional per-query encoding on the stdout line: the driver keeps
    // only the final ~2000 chars of output — a truncated head loses the
    // line's opening brace and fails the parse (BENCH_r08). Query numbers
    // are contiguous 1..N (CoverageSpec pins this), so "queries" is an
    // ARRAY of centisecond ints indexed by query number ("qkeys":"1-N",
    // value at position i is query number i+1) — half the chars of the
    // numbered-key map the registry outgrew at 190 queries. Full names and
    // raw 3-decimal samples stay in BENCH_RUNS.json.
    def qnum(n: String): Int = n.takeWhile(_ != '_').drop(1).toInt
    val byNum = results.sortBy(r => qnum(r._1))
    val contiguous = byNum.map(r => qnum(r._1)) == (1 to byNum.size)
    // non-contiguous (a restricted SPARK_GRAFT_ONLY run) -> full-name map
    val qs =
      if (contiguous) byNum.map(r => cs(r._2)).mkString("[", ",", "]")
      else results.map { case (k, v) => "\"" + k + "\":" + cs(v) }
        .mkString("{", ",", "}")
    val qkeys = if (contiguous) s""""qkeys":"1-${byNum.size}",""" else ""
    val total = results.map(_._2).filter(_ >= 0).sum
    // "qunit"/"qkeys" make the encoding self-describing; prose policy
    // lives in BENCH_RUNS.json to protect the ~2000-char tail window.
    // Cleanup has been untimed since r6 — treat r6 as the baseline for
    // cross-round deltas (r1-r5 totals timed cleanup)
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","nruns":$nRuns,"qunit":"centisec","fp":"$fpHex","qmap":"BENCH_RUNS.json",$qkeys"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
