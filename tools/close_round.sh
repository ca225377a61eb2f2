#!/usr/bin/env bash
# Round-closing gate runner (round-12 verdict ask #6): the gate set
# that caught real defects in rounds 8, 9, and 12 — full ScalaTest
# suite, Verify + DuckDB oracle at three SFs, the total-order lint,
# the layout/AQE invariance axes, the entry smoke, and the dual-timing
# bench sweeps at sf0.1 and sf1 — scripted in order, failing fast,
# emitting the per-round artifacts under bench/.
#
# Usage: tools/close_round.sh <round-number> [--skip-sf1]
#   round-number  tags the emitted artifacts (bench/BENCH_FULL_r{N}_*,
#                 bench/VERIFY_SF01_r{N}.json hand-authored afterwards)
#   --skip-sf1    dev loop: skip the sf1 corpus build + sweep + oracle
#
# Artifacts / logs land under /tmp/graft-close-r{N}/ and bench/.
# Every gate's exit code is enforced; the script stops at the first red.
set -euo pipefail
cd "$(dirname "$0")/.."

R="${1:?usage: tools/close_round.sh <round> [--skip-sf1]}"
SKIP_SF1="${2:-}"
OUT="/tmp/graft-close-r$R"
mkdir -p "$OUT" bench

step() { echo; echo "=== [$(date +%H:%M:%S)] $*"; }

# The CorpusCache families must be COLD for honest bench numbers; the
# scale corpora (/tmp/graft-sf{1,5,10}) deliberately survive (an r9
# session once deleted the sf1 corpus mid-round with a wholesale glob).
clear_caches() {
  rm -rf /tmp/graft-ivf-* /tmp/graft-ivfpq-* /tmp/graft-pq-* \
    /tmp/graft-bands-* /tmp/graft-postings-* /tmp/graft-aggview-* \
    /tmp/graft-sess-* /tmp/graft-src-* /tmp/graft-bpe-* /tmp/graft-knng-*
}

step "gate 1/8: full ScalaTest suite"
sbt -batch test > "$OUT/test.log" 2>&1 || {
  grep -E "FAILED|\*\*\*" "$OUT/test.log" | tail -20; exit 1; }
grep -E "Tests: succeeded" "$OUT/test.log" | tail -1

step "gate 2/8: Verify + DuckDB oracle at sf0.001 and sf0.01"
for SF in 0.001 0.01; do
  rm -rf "$OUT/verify-sf$SF"
  SPARK_GRAFT_CPUS=8 sbt -batch \
    "runMain graft.Verify /root/testdata/sf$SF $OUT/verify-sf$SF" \
    > "$OUT/verify-sf$SF.log" 2>&1
  if grep "\[verify\]" "$OUT/verify-sf$SF.log"; then
    echo "verify dump failures at sf$SF"; exit 1
  fi
  python3 tools/check_oracle.py "/root/testdata/sf$SF" \
    "$OUT/verify-sf$SF" | tail -1
done

# (gate 2a — the same sweep under a forced manifest protocol, diffed
# against the rename dump — is gone with the rename protocol: gate 2
# runs the only publish protocol there is.)

step "gate 2b: kNN-graph recall vs DuckDB's own exact kNN (engine-"\
  "outside, round-14 ask #3; input = gate 2's edge exports)"
: > "bench/KNNG_RECALL_r${R}.json"
for SF in 0.001 0.01; do
  python3 tools/knn_recall.py "/root/testdata/sf$SF" \
    >> "bench/KNNG_RECALL_r${R}.json"
done
tail -2 "bench/KNNG_RECALL_r${R}.json"

step "gate 3/8: total-order lint (sf0.01 dump)"
python3 tools/lint_total_order.py "$OUT/verify-sf0.01" \
  /root/testdata/sf0.01 | tail -2

step "gate 4/8: layout + AQE invariance axes (sf0.01)"
rm -rf "$OUT/v-p1" "$OUT/v-p16" "$OUT/v-aqeoff"
SPARK_GRAFT_CPUS=1 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 $OUT/v-p1" \
  > "$OUT/v-p1.log" 2>&1
SPARK_GRAFT_CPUS=16 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 $OUT/v-p16" \
  > "$OUT/v-p16.log" 2>&1
python3 tools/diff_verify.py "$OUT/v-p1" "$OUT/v-p16" | tail -1
SPARK_GRAFT_CPUS=8 SPARK_GRAFT_AQE=false sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 $OUT/v-aqeoff" \
  > "$OUT/v-aqeoff.log" 2>&1
python3 tools/diff_verify.py "$OUT/verify-sf0.01" "$OUT/v-aqeoff" | tail -1

step "gate 5/8: entry smoke"
sbt -batch "runMain graft.Smoke" > "$OUT/smoke.log" 2>&1
grep "ENTRY_ROWS" "$OUT/smoke.log"
grep -q "ENTRY_ROWS=0" "$OUT/smoke.log" && { echo "entry empty"; exit 1; }

step "gate 6/8: Verify + oracle at sf0.1 (the bench SF — where the"\
  "adaptive gates fire; 600 s per-key oracle budget)"
rm -rf "$OUT/verify-sf0.1"
SPARK_GRAFT_CPUS=16 sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.1 $OUT/verify-sf0.1" \
  > "$OUT/verify-sf0.1.log" 2>&1
if grep "\[verify\]" "$OUT/verify-sf0.1.log"; then
  echo "verify dump failures at sf0.1"; exit 1
fi
python3 tools/check_oracle.py /root/testdata/sf0.1 "$OUT/verify-sf0.1" \
  600 | tail -1
python3 tools/knn_recall.py /root/testdata/sf0.1 \
  >> "bench/KNNG_RECALL_r${R}.json"
tail -1 "bench/KNNG_RECALL_r${R}.json"

step "gate 6c: NON-DEGENERATE large-corpus recall (round-14 verdict"\
  "ask #2 — the exact-clone sf1 corpus reads 1.0 by construction;"\
  "these perturbed 20k-vector corpora make the engine actually FIND"\
  "the neighbors: sibling regime eps=0.25 (cos~0.99) and natural"\
  "regime eps=3.0 (cos~0.4, top-5 is real 20k-cloud structure)"
if [ ! -d /tmp/graft-sf1p ]; then
  python3 tools/scale_testdata.py /root/testdata/sf0.1 /tmp/graft-sf1p \
    10 --perturb-emb
fi
if [ ! -d /tmp/graft-sf1pn ]; then
  python3 tools/scale_testdata.py /root/testdata/sf0.1 /tmp/graft-sf1pn \
    10 --perturb-emb=3.0
fi
sbt -batch "Test/runMain graft.RecallProbe /tmp/graft-sf1p --export /tmp/graft-recall-export" \
  > "$OUT/recall-export-p.log" 2>&1
python3 tools/knn_recall.py /tmp/graft-sf1p /tmp/graft-recall-export 500 \
  >> "bench/KNNG_RECALL_r${R}.json"
sbt -batch "Test/runMain graft.RecallProbe /tmp/graft-sf1pn --export /tmp/graft-recall-export-n" \
  > "$OUT/recall-export-n.log" 2>&1
python3 tools/knn_recall.py /tmp/graft-sf1pn /tmp/graft-recall-export-n 500 \
  >> "bench/KNNG_RECALL_r${R}.json"
tail -2 "bench/KNNG_RECALL_r${R}.json"

# Host-drift calibration (round-14 ask #6): stamp each committed sweep
# with its own cdc_scan warm2 against the round-13 committed reference,
# so cross-round sweep comparisons can normalize the documented ~17%
# same-day host drift instead of re-litigating it narratively.
calibrate() { # $1 = bench json path, $2 = r13 reference warm2 (same SF)
  python3 - "$1" "$2" <<'PY'
import json, sys
path, ref = sys.argv[1], float(sys.argv[2])
d = json.load(open(path))
w = d.get("warm2", {}).get("cdc_scan")
d["calibration"] = {
    "query": "cdc_scan", "warm2": w, "r13_warm2": ref,
    "host_drift_ratio": round(w / ref, 4) if w else None}
json.dump(d, open(path, "w"))
print(f"calibration: cdc_scan warm2={w} vs r13 {ref} -> "
      f"ratio {d['calibration']['host_drift_ratio']}")
PY
}

step "gate 7/8: committed bench sweep at sf0.1 (cold caches)"
clear_caches
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  SPARK_GRAFT_BENCH_OUT="bench/BENCH_FULL_r${R}_sf0.1.json" \
  sbt -batch "runMain graft.Bench" > "$OUT/bench-sf0.1.log" 2>&1
grep -o '"metric":"total[^,]*,"value":[0-9.]*' "$OUT/bench-sf0.1.log" \
  | tail -1 || tail -3 "$OUT/bench-sf0.1.log"
calibrate "bench/BENCH_FULL_r${R}_sf0.1.json" 0.322

if [ "$SKIP_SF1" != "--skip-sf1" ]; then
  step "gate 8/8: sf1 — corpus, sweep, oracle (13 quadratic-class skips expected to shrink per round)"
  if [ ! -d /tmp/graft-sf1 ]; then
    python3 tools/scale_testdata.py /root/testdata/sf0.1 /tmp/graft-sf1 10
  fi
  clear_caches
  SPARK_GRAFT_SF_DIR=/tmp/graft-sf1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_OUT="bench/BENCH_FULL_r${R}_sf1.json" \
    sbt -batch "runMain graft.Bench" > "$OUT/bench-sf1.log" 2>&1
  grep -o '"metric":"total[^,]*,"value":[0-9.]*' "$OUT/bench-sf1.log" \
    | tail -1 || tail -3 "$OUT/bench-sf1.log"
  calibrate "bench/BENCH_FULL_r${R}_sf1.json" 0.4206
  rm -rf "$OUT/verify-sf1"
  SPARK_GRAFT_CPUS=16 sbt -batch \
    "runMain graft.Verify /tmp/graft-sf1 $OUT/verify-sf1" \
    > "$OUT/verify-sf1.log" 2>&1
  if grep "\[verify\]" "$OUT/verify-sf1.log"; then
    echo "verify dump failures at sf1"; exit 1
  fi
  # NOT -e-fatal: stream_view_sketch is in its DESIGNED estimation
  # regime at sf1 (documented 0.088% theta error), so the oracle
  # exits 1 with that one key by contract — record per-key results,
  # fail only on unexpected keys
  python3 tools/check_oracle.py /tmp/graft-sf1 "$OUT/verify-sf1" 600 \
    > "$OUT/oracle-sf1.log" 2>&1 || true
  tail -1 "$OUT/oracle-sf1.log"
  if grep "^FAIL" "$OUT/oracle-sf1.log" \
      | grep -v "^FAIL stream_view_sketch:"; then
    echo "unexpected sf1 oracle failures (above)"; exit 1
  fi
  python3 tools/lint_total_order.py "$OUT/verify-sf1" | tail -2
  # recall at the exact-clone sf1 corpus is NOT measured: byte-identical
  # clones are served by identity (reads 1.0 by construction — round-14
  # verdict). Gate 6c's perturbed 20k corpora are the honest >=sf1 rows.
else
  step "gate 8/8: SKIPPED (--skip-sf1)"
fi

step "ALL GATES GREEN — remaining by hand: commit the bench/ artifacts,"
echo "  record VERIFY_SF01_r$R / VERIFY_SF1_r$R json summaries, and sync"
echo "  README/SURVEY closing counts to the artifacts."
