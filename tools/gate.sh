#!/bin/sh
# Oracle gate: run the FULL query registry against the DuckDB oracle at
# sf0.001 and stamp the verified src/main content. The pre-commit hook
# (tools/hooks/pre-commit) compares the stamp against what is being
# committed, so no registry query can land unexecuted (the round-6 q90
# failure mode). Usage:
#   tools/gate.sh            # sf0.001 sweep (~2 min)
#   GATE_FULL=1 tools/gate.sh  # also sf0.01 (the driver's gate scale)
#   GATE_CONTACTS=1 tools/gate.sh  # also the contacts core-count lane
set -e
cd "$(git rev-parse --show-toplevel)"

# self-heal the hook installation (.git/hooks is not version-controlled)
if ! cmp -s tools/hooks/pre-commit .git/hooks/pre-commit 2>/dev/null; then
  cp tools/hooks/pre-commit .git/hooks/pre-commit
  chmod +x .git/hooks/pre-commit
  echo "[gate] installed pre-commit hook"
fi

out=/tmp/gate_out_001
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $out" >/tmp/gate_sbt.log 2>&1 || {
  echo "[gate] sbt Verify failed — tail of log:"; tail -20 /tmp/gate_sbt.log; exit 1; }
python3 tools/check_oracle.py /root/testdata/sf0.001 "$out"

# Recall lane (every gate run): the recall-bearing ANN/LSH queries verified
# at the BENCH scale (sf0.1). Their probabilistic parameters (bands, tables,
# nprobe) are tuned so the candidate set provably covers the oracle's exact
# answer — but coverage degrades with corpus size, so a parameter trade that
# stays green at sf0.001/sf0.01 can silently lose recall at sf0.1 (the r9
# q29 tables=8 miss, caught only by a voluntary sweep). This lane makes that
# failure mode mechanical: GATE_NO_RECALL=1 skips it for inner-loop
# iteration but then NO stamp is written, so a skipped-recall tree cannot
# be committed (the pre-commit hook requires a current stamp).
if [ "${GATE_NO_RECALL:-0}" != "1" ]; then
  RECALL_QS="q20_minhash_lsh_pairs,q29_embed_neardup_lsh,q34_ann_lsh"
  RECALL_QS="$RECALL_QS,q35_ann_ivf,q87_quantized_ivf,q93_pq_ann"
  RECALL_QS="$RECALL_QS,q95_pq_residual,q97_ann_binary,q100_incremental_lsh"
  RECALL_QS="$RECALL_QS,q117_bitext_margin,q217_ann_rerank_recall"
  RECALL_QS="$RECALL_QS,q220_ann_rerank_scaled"
  outr=/tmp/gate_out_recall
  SPARK_GRAFT_ONLY="$RECALL_QS" sbt -batch \
    "runMain graft.Verify /root/testdata/sf0.1 $outr" \
    >/tmp/gate_sbt_recall.log 2>&1 || {
    echo "[gate] sbt Verify (sf0.1 recall lane) failed — tail of log:"
    tail -20 /tmp/gate_sbt_recall.log; exit 1; }
  GRAFT_ALLOW_SUBSET=1 python3 tools/check_oracle.py /root/testdata/sf0.1 "$outr"
  echo "[gate] sf0.1 recall lane green"
fi

if [ "${GATE_FULL:-0}" = "1" ]; then
  out01=/tmp/gate_out_01
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $out01" >/tmp/gate_sbt01.log 2>&1 || {
    echo "[gate] sbt Verify (sf0.01) failed — tail of log:"; tail -20 /tmp/gate_sbt01.log; exit 1; }
  python3 tools/check_oracle.py /root/testdata/sf0.01 "$out01"
fi

# Round-close lane (GATE_SF01_FULL=1): the ENTIRE registry oracle-verified
# at sf0.1 — the bench scale the driver never correctness-checks. The
# default gate's recall lane covers only the ten probabilistic ANN/LSH
# queries; scale-dependent thresholds elsewhere (doc-freq caps, histogram
# boundaries, sampling rates) can drift green at sf0.001/sf0.01 and wrong
# at sf0.1. Run once per round before the closing commit and record the
# result in STATUS.md (~10 min).
if [ "${GATE_SF01_FULL:-0}" = "1" ]; then
  out1=/tmp/gate_out_sf1
  sbt -batch "runMain graft.Verify /root/testdata/sf0.1 $out1" >/tmp/gate_sbt_sf1.log 2>&1 || {
    echo "[gate] sbt Verify (sf0.1 FULL) failed — tail of log:"
    tail -20 /tmp/gate_sbt_sf1.log; exit 1; }
  python3 tools/check_oracle.py /root/testdata/sf0.1 "$out1"
  echo "[gate] sf0.1 FULL registry lane green"
fi

# Reference-execution parity (GATE_PARITY=1): run the reference's own
# clean/fill scripts against the engine on real fixtures and classify
# every cell difference into DIVERGENCES.md classes (tools/parity.py).
# Not part of the default gate (it is input-fixture-bound, not
# registry-bound) — run it whenever pipeline/Clean/Fill/Cleaning
# semantics change.
if [ "${GATE_PARITY:-0}" = "1" ]; then
  python3 tools/parity.py > /tmp/gate_parity.log 2>&1 || {
    grep '\[parity\]' /tmp/gate_parity.log; exit 1; }
  grep '\[parity\]' /tmp/gate_parity.log | tail -6
fi

# REST-contract parity (GATE_REST=1): backend_api.py run in-process vs
# the engine's RestServer over HTTP, compared on the JSON shapes the
# reference frontend consumes (tools/rest_parity.py). Run it whenever
# api/RestServer response shapes change.
if [ "${GATE_REST:-0}" = "1" ]; then
  python3 tools/rest_parity.py > /tmp/gate_rest.log 2>&1 || {
    grep '\[restparity\]' /tmp/gate_rest.log; exit 1; }
  grep '\[restparity\]' /tmp/gate_rest.log | tail -2
fi

# Contacts core-count lane (GATE_CONTACTS=1): the three ContactsMain
# artifacts must not depend on the core count. Generates the seed-1
# contacts_batch input (a 2,500-row master and six sources, with
# perfbench/gen.py imported read-only) and runs ContactsMain at
# SPARK_GRAFT_CPUS=2 and 4; every artifact must match byte for byte and
# its recorded md5. ContactsMain exits 1 when the planted validation
# errors are critical, so a run counts as done when it prints its
# [result] line. Run it whenever Fill, the pipeline's stages or its
# sinks change.
if [ "${GATE_CONTACTS:-0}" = "1" ]; then
  cin=/tmp/gate_contacts_in
  rm -rf "$cin" /tmp/gate_contacts_c2 /tmp/gate_contacts_c4
  PYTHONDONTWRITEBYTECODE=1 python3 -c "import sys; sys.path.insert(0, 'perfbench'); \
import gen; gen.contacts_batch('$cin', 1, 2500)"
  for c in 2 4; do
    SPARK_GRAFT_CPUS=$c sbt -batch "runMain graft.pipeline.ContactsMain \
$cin/master.tsv $cin/sources /tmp/gate_contacts_c$c" \
      >/tmp/gate_sbt_contacts_c$c.log 2>&1 || true
    grep -q '\[result\]' /tmp/gate_sbt_contacts_c$c.log || {
      echo "[gate] ContactsMain at $c cores failed — tail of log:"
      tail -20 /tmp/gate_sbt_contacts_c$c.log; exit 1; }
  done
  for f in cleaned_contacts.tsv fill_missing_log.json validation_errors.json; do
    cmp /tmp/gate_contacts_c2/$f /tmp/gate_contacts_c4/$f || {
      echo "[gate] contacts lane: $f differs between 2 and 4 cores"; exit 1; }
  done
  # the recorded seed-1 md5s: a change across commits fails the lane too;
  # a change that means to alter an artifact updates its digest here
  for fd in cleaned_contacts.tsv:a4ddc7a330daa293cf92764acac3780c \
      fill_missing_log.json:d0db69cf7e196e025f2ba8577ea98f4b \
      validation_errors.json:e587e0c04d5059ca53828011a7d6b275; do
    f=${fd%%:*}; want=${fd#*:}
    got=$(md5sum /tmp/gate_contacts_c2/$f | cut -d' ' -f1)
    [ "$got" = "$want" ] || {
      echo "[gate] contacts lane: $f md5 $got, recorded $want"; exit 1; }
  done
  echo "[gate] contacts lane green: artifacts identical at 2 and 4 cores" \
    "and equal to the recorded seed-1 digests"
fi

if [ "${GATE_NO_RECALL:-0}" = "1" ]; then
  echo "[gate] green EXCEPT skipped recall lane — NOT stamping; run the full gate before committing"
  exit 0
fi

# stamp = digest of the working-tree src/main that just verified green;
# the hook requires staged src/main == working tree, so this digest also
# describes the staged content being committed
find src/main -type f | LC_ALL=C sort | xargs sha1sum | sha1sum | cut -d' ' -f1 > .gate_stamp
echo "[gate] green — stamped $(cat .gate_stamp)"
