#!/usr/bin/env python3
"""Benchmark of the contacts pipeline and its registry, driven from outside.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--smoke]

Run from the root of a checkout. The first run builds the program and the
harness with sbt into .bench_build/ (later runs reuse the build while the
sources are unchanged). Each run generates its inputs from the seed into
.bench_work/<workload>/, starts one JVM (one SparkSession at local[nproc],
shuffle partitions = nproc), checks every output, and prints a detail line
followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (0 for a layer the workload does not run;
a traced run that misses one of its own layers fails).
--smoke shrinks every input to a few rows, for the benchmark's own tests.
Workloads, sizes and the layer -> end-to-end map: perfbench/README.md.
"""
import argparse
import csv
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# input sizes per workload; "smoke" sizes are for the benchmark's own tests
SIZES = {
    "contacts_validate": {"full": {"n_master": 10529},
                          "smoke": {"n_master": 300}},
    "contacts_batch": {"full": {"n_master": 2500}, "smoke": {"n_master": 300}},
    "contacts_stream": {
        "full": {"n_master": 2000, "rows_per_file": 50, "interval_ms": 250},
        "smoke": {"n_master": 200, "rows_per_file": 20, "interval_ms": 500}},
    "registry_slice": {
        "full": {"n_docs": 500, "n_customers": 1500, "n_lineitems": 60000},
        "smoke": {"n_docs": 60, "n_customers": 150, "n_lineitems": 2000}},
}
REGISTRY_QUERIES = ["q167_quantile_norm", "q140_cdc_chunk_dedup",
                    "q1_pricing_summary"]
# per-layer metrics -> unit: every workload's traced run reports SPARK_LAYERS
# plus its own, and run.py fails a run that misses one of them
SPARK_LAYERS = dict.fromkeys(
    ["spark.jobs", "spark.stages", "spark.tasks", "spark.query_executions"],
    "count") | dict.fromkeys(
    ["spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.plan_s",
     "spark.non_task_s", "trace.overhead_s"], "s") | {
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB"}
LAYERS = {
    "contacts_stream": dict.fromkeys(
        ["streaming.start_stop_s", "streaming.planning_s",
         "streaming.add_batch_s", "streaming.wal_commit_s",
         "streaming.generator_late_s", "pipeline.clean_s",
         "pipeline.dedup_s"], "s") | {
        "streaming.files_per_batch": "count",
        "streaming.backlog_max_files": "count",
        "streaming.snapshot_bytes_per_input_byte": "ratio"},
    "registry_slice": {k: u for q in REGISTRY_QUERIES for k, u in (
        (f"queries.{q}_s", "s"), (f"queries.{q}.jobs", "count"))},
    "contacts_validate": {
        "api.request_overhead_s": "s", "pipeline.ingest_s": "s",
        "pipeline.validate_s": "s", "pipeline.pins_leaked": "count"},
    "contacts_batch": dict.fromkeys(
        ["api.request_overhead_s", "pipeline.ingest_s", "pipeline.fill_s",
         "pipeline.clean_s", "pipeline.dedup_s", "pipeline.validate_s",
         "pipeline.sink_s"], "s") | {
        "pipeline.shuffle_per_input_byte": "ratio",
        "pipeline.pins_leaked": "count"},
}
JVM_BUDGET_S = 170
# offline resolution, as the repository's own test command runs sbt
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    # the program's sources and build definition, and the harness
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{ROOT}/build.sbt") + glob.glob(f"{ROOT}/project/*")
                   + glob.glob(f"{HERE}/src/**/*.scala", recursive=True)
                   + glob.glob(f"{HERE}/build/**/*", recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source state; returns the
    runtime classpath."""
    if not glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True):
        fail(f"no program sources under {ROOT}/src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    digest = sources_digest()
    with open(f"{BUILD}/lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp, cp_file = f"{BUILD}/stamp", f"{BUILD}/classpath"
        if os.path.exists(stamp) and open(stamp).read() == digest \
                and os.path.exists(cp_file):
            return open(cp_file).read().strip()
        sbt_dir = f"{BUILD}/sbt"
        shutil.copytree(f"{HERE}/build", sbt_dir, dirs_exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dperfbench.root={ROOT}", "compile",
             "export Runtime/fullClasspath"],
            cwd=sbt_dir, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=850)
        with open(f"{BUILD}/build.log", "w") as f:
            f.write(p.stdout)
        lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln
                 and not ln.startswith("[")]
        if p.returncode != 0 or not lines:
            fail(f"build failed (see {BUILD}/build.log)")
        with open(cp_file, "w") as f:
            f.write(lines[-1].strip())
        with open(stamp, "w") as f:
            f.write(digest)
        return lines[-1].strip()


def generate(workload, work, seed, size, seconds):
    if workload in ("contacts_validate", "contacts_batch"):
        return gen.contacts_batch(f"{work}/contacts", seed, size["n_master"])
    if workload == "contacts_stream":
        n_files = int(seconds * 1000 / size["interval_ms"]) + 3
        return gen.contacts_stream(f"{work}/stream", seed, size["n_master"],
                                   n_files, size["rows_per_file"])
    gen.registry_tables(f"{work}/registry", seed, size["n_docs"],
                        size["n_customers"], size["n_lineitems"])
    return {}


def run_jvm(classpath, work, deadline):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Djava.awt.headless=true"] + ADD_OPENS
           + ["-cp", classpath, "perfbench.Harness", work])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                             start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("interrupted; the harness JVM was stopped")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness JVM exceeded its time budget (see {work}/jvm.log)")
    if p.returncode != 0:
        fail(f"harness JVM exited with {p.returncode} (see {work}/jvm.log)")
    with open(f"{work}/result.json") as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def read_tsv(path):
    csv.field_size_limit(1 << 30)
    with open(path, encoding="utf-8", newline="") as f:
        return list(csv.reader(f, delimiter="\t", quotechar='"'))


def check_contacts_op(op_dir, answers):
    """Planted answers against the artifacts fetched over HTTP."""
    rows = read_tsv(f"{op_dir}/cleaned_contacts.tsv")
    with open(f"{op_dir}/fill_missing_log.json") as f:
        log = json.load(f)
    with open(f"{op_dir}/validation_errors.json") as f:
        report = json.load(f)
    keys = ("row", "field", "old_value", "new_value", "source_file",
            "matched_on")
    got_log = sorted((tuple(e[k] for k in keys) for e in log))
    want_log = sorted(tuple(e[k] for k in keys) for e in answers["change_log"])
    problems = []
    if len(rows) - 1 != answers["golden"]:
        problems.append(f"golden records {len(rows) - 1} != {answers['golden']}")
    if got_log != want_log:
        problems.append(f"change log differs ({len(got_log)} vs {len(want_log)} rows)")
    if any(e["source_file"] in answers["skipped"] for e in log):
        problems.append("a headerless file was not skipped")
    if len(report) != answers["validation_records"] or sum(
            len(r["errors"]) for r in report) != answers["validation_errors"]:
        problems.append(f"validation report {len(report)} records != "
                        f"{answers['validation_records']}")
    return problems


def check_contacts(work, res, answers):
    failed, notes = 0, []
    warm = f"{work}/ops/warmup-0"
    for op in res["ops"]:
        d = f"{work}/ops/{op['tag']}"
        problems = [] if op["ok"] else ["request failed"]
        if op["ok"]:
            problems += check_contacts_op(d, answers)
        if op.get("traced") and not problems:
            for n in os.listdir(warm):
                with open(f"{warm}/{n}", "rb") as a, open(f"{d}/{n}", "rb") as b:
                    if a.read() != b.read():
                        problems.append(f"traced composition changed {n}")
        if problems:
            failed += 1
            notes.append(f"{op['tag']}: {'; '.join(problems)}")
    return len(res["ops"]), failed, notes


def canon_hash(df):
    df = df[sorted(df.columns)].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def check_registry(work):
    """Oracle SQL in DuckDB over the same tables, canonicalized the way
    tools/check_oracle.py does; returns the names that mismatch."""
    con = duckdb.connect()
    for t in ("documents", "customer", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/registry/{t}.parquet')")
    with open(f"{work}/results/oracle_sql.json") as f:
        oracle = json.load(f)
    bad = []
    for name, sql in oracle.items():
        try:
            want = con.execute(sql).df()
            got = con.execute(f"SELECT * FROM read_parquet("
                              f"'{work}/results/{name}/*.parquet')").df()
            if len(want) != len(got) or canon_hash(want) != canon_hash(got):
                bad.append(name)
        except Exception as e:  # a broken result is a wrong output
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            bad.append(name)
    return bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)

    classpath = build()
    deadline = time.time() + JVM_BUDGET_S
    work = f"{ROOT}/.bench_work/{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    size = SIZES[a.workload]["smoke" if a.smoke else "full"]
    t_gen = time.time()
    answers = generate(a.workload, work, a.seed, size, a.seconds)
    t_jvm = time.time()
    cores = len(os.sched_getaffinity(0))
    with open(f"{work}/config.json", "w") as f:
        json.dump(dict(size, workload=a.workload, seconds=a.seconds,
                       trace=bool(a.trace), cores=cores,
                       queries=REGISTRY_QUERIES), f)
    res = run_jvm(classpath, work, deadline)
    t_check = time.time()

    attempted, failed, notes = res["attempted"], res["failed"], []
    if a.workload == "contacts_batch":
        attempted, failed, notes = check_contacts(work, res, answers)
    elif a.workload == "contacts_validate":
        want = f"{answers['raw_validation_errors']} validation errors"
        bad = [op["tag"] for op in res["ops"] if not op["ok"] or op["log"] != want]
        attempted, failed = len(res["ops"]), len(bad)
        notes = [f"{t}: response is not '{want}'" for t in bad]
    elif a.workload == "contacts_stream":
        if not res["ops"][0]["golden_equal"]:
            notes.append("newest golden snapshot != dedupe over every dropped row")
    else:
        bad = check_registry(work)
        passes = len(res["latencies"])
        failed += len(bad) * passes
        notes += [f"{n}: result differs from its oracle" for n in bad]
    for n in notes:
        print(f"perfbench: {n}", file=sys.stderr)
    print(f"perfbench: generate {t_jvm - t_gen:.1f} s, jvm {t_check - t_jvm:.1f} s, "
          f"checks {time.time() - t_check:.1f} s", file=sys.stderr)

    if a.trace:
        own = SPARK_LAYERS | LAYERS[a.workload]
        missing = sorted(set(own) - set(res["layers"]))
        if missing:
            fail(f"traced run did not report {', '.join(missing)}")
        # every per-layer metric of BENCHMARK.json; 0 where the workload
        # does not run that layer
        units = {m["name"]: m["unit"] for m in spec["per_layer"]} | own
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        values = {"latency_p50_s": statistics.median(res["latencies"]),
                  "setup_s": res["setup_s"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    detail = dict(res["detail"], workload=a.workload, seed=a.seed,
                  trace=a.trace, setup_s=res["setup_s"],
                  session_s=res["session_s"], samples=len(res["latencies"]),
                  error_rate=failed / max(1, attempted))
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0 and not notes,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
