#!/usr/bin/env bash
# One-command round ritual (VERDICT r18 #7): every closing gate in
# sequence — schema sweep → full test suite → dual-SF verify+selfcheck
# → gated bench → DuckDB baseline + paired table → dual-SF plan audit
# diff → repo benchmark specs + smoke — failing non-zero on ANY red gate, so the round's closing
# record is ONE artifact instead of five hand-run tools.
#
# Usage:
#   tools/round_gate.sh [outDir]          # default target/round_gate
# Env:
#   ROUND_GATE_SKIP_TESTS=1   skip the sbt test step (iteration aid —
#                             the official closing record must include it)
#   ROUND_GATE_SERIAL=1       also run the serial per-query bench and
#                             emit the SCALE.md-style paired table
#   SPARK_GRAFT_CPUS          local[] width (default 32)
#
# Output: $OUT/record.txt (the committed closing record), plus every
# sub-artifact ($OUT/verify_sf*/, bench_summary.json, duckdb.json,
# PLANS_*.md, paired_table.md, perfbench_*.json).
set -u
cd "$(dirname "$0")/.."
OUT=${1:-target/round_gate}
mkdir -p "$OUT"
REC="$OUT/record.txt"
: > "$REC"
# bench_serial.json is only written by ROUND_GATE_SERIAL=1 runs; a stale
# copy from a previous run would silently become THIS run's paired table
rm -f "$OUT/bench_serial.json"
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
FAIL=0

note() { echo "$*" | tee -a "$REC"; }
step() { echo; note "=== $1"; }
gate() { # gate <name> <exitcode>
  if [ "$2" -ne 0 ]; then note "GATE FAIL: $1 (exit $2)"; FAIL=1
  else note "gate ok: $1"; fi
}

note "round_gate @ $(git rev-parse --short HEAD) $(date -u +%FT%TZ) cpus=$SPARK_GRAFT_CPUS loadavg=$(cut -d' ' -f1 /proc/loadavg)"

step "1/7 schema sweep (testdata drift vs committed manifest)"
python3 tools/schema_sweep.py 2>&1 | tail -5 | tee -a "$REC"
gate schema_sweep "${PIPESTATUS[0]}"

step "2/7 full test suite"
if [ "${ROUND_GATE_SKIP_TESTS:-0}" = "1" ]; then
  note "SKIPPED (ROUND_GATE_SKIP_TESTS=1) — not a closing record"
else
  sbt -batch test > "$OUT/sbt_test.log" 2>&1
  rc=$?
  grep -E "^\[info\] (Tests:|Suites:|All tests|Total number)" "$OUT/sbt_test.log" | tail -4 | tee -a "$REC"
  gate sbt_test "$rc"
fi

step "3/7 dual-SF verify + selfcheck (the correctness gate)"
for sf in sf0.01 sf0.1; do
  vout="$OUT/verify_$sf"
  sbt -batch "runMain graft.Verify /root/testdata/$sf $vout" > "$OUT/verify_$sf.log" 2>&1
  rc=$?
  grep "\[verify\]" "$OUT/verify_$sf.log" | tail -2 | tee -a "$REC"
  gate "verify_$sf" "$rc"
  python3 tools/selfcheck.py "/root/testdata/$sf" "$vout" > "$OUT/selfcheck_$sf.txt" 2>&1
  rc=$?
  tail -1 "$OUT/selfcheck_$sf.txt" | tee -a "$REC"
  gate "selfcheck_$sf" "$rc"
done

step "4/7 gated bench (concurrent contract mode, sf0.1)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
SPARK_GRAFT_BENCH_SUMMARY="$OUT/bench_summary.json" \
  sbt -batch "runMain graft.Bench" > "$OUT/bench.log" 2>&1
rc=$?
gate bench_ran "$rc"
python3 - "$OUT/bench_summary.json" <<'EOF' 2>&1 | tee -a "$REC"
import json, sys
try:
    b = json.load(open(sys.argv[1]))
except Exception as e:
    print(f"bench summary unreadable: {e}"); sys.exit(1)
drift = b.get("drift") or {}
loadsus = b.get("drift_load_suspect") or {}
print(f"bench warm best {b['value']:.3f}s / {len(b.get('queries', {}))} queries, "
      f"cold {b.get('cold_total_sec')}s, contended={b.get('contended')}, "
      f"drift={drift}, load_suspect={loadsus}, canary={b.get('canary')}")
if b.get("contended"):
    print("bench record CONTENDED — not a valid closing record"); sys.exit(1)
if drift:
    print("bench drift CONFIRMED — investigate before closing"); sys.exit(1)
EOF
gate bench_clean "${PIPESTATUS[0]}"

step "5/7 DuckDB baseline + ratio (2x contract) + paired table"
python3 tools/duckdb_times.py /root/testdata/sf0.1 "$OUT/verify_sf0.1" "$OUT/duckdb.json" \
  > /dev/null 2>&1
gate duckdb_baseline "$?"
if [ "${ROUND_GATE_SERIAL:-0}" = "1" ]; then
  step "5b: serial per-query bench (paired-table regime)"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_PARALLEL=1 \
  SPARK_GRAFT_BENCH_SUMMARY="$OUT/bench_serial.json" \
    sbt -batch "runMain graft.Bench" > "$OUT/bench_serial.log" 2>&1
  gate bench_serial "$?"
fi
python3 - "$OUT" <<'EOF' 2>&1 | tee -a "$REC"
import json, os, sys
out = sys.argv[1]
bench = json.load(open(f"{out}/bench_summary.json"))
duck = json.load(open(f"{out}/duckdb.json"))
ratio = bench["value"] / duck["total_best_sum"]
print(f"batch {bench['value']:.3f}s / {len(bench['queries'])} vs DuckDB serial "
      f"{duck['total_best_sum']:.3f}s / {duck['n']} oracle = {ratio:.2f}x  (contract: <=2.0x)")
serial_path = f"{out}/bench_serial.json"
gq, regime = (json.load(open(serial_path))["queries"], "serial best-across-warm-passes") \
    if os.path.exists(serial_path) else (bench["queries"], "CONCURRENT in-batch best-across-warm-passes")
with open(f"{out}/paired_table.md", "w") as fh:
    fh.write(f"| query | graft s ({regime}) | DuckDB serial best-of-2 s | ratio |\n|---|---|---|---|\n")
    for q in sorted(gq):
        d = duck["queries"].get(q)
        cell = (f"{d:.3f}", f"{gq[q]/d:.2f}x") if isinstance(d, float) and d > 0 else ("—", "—")
        fh.write(f"| {q} | {gq[q]:.3f} | {cell[0]} | {cell[1]} |\n")
print(f"paired table ({regime}) -> {out}/paired_table.md")
sys.exit(0 if ratio <= 2.0 else 1)
EOF
gate ratio_contract "${PIPESTATUS[0]}"

step "6/7 plan audit: dual-SF diff + drift vs committed PLANS.md"
sbt -batch "runMain graft.tools.PlanAudit /root/testdata/sf0.01 $OUT/PLANS_sf0.01.md" \
  > "$OUT/planaudit_sf0.01.log" 2>&1
gate planaudit_sf0.01 "$?"
sbt -batch "runMain graft.tools.PlanAudit /root/testdata/sf0.1 $OUT/PLANS_sf0.1.md" \
  > "$OUT/planaudit_sf0.1.log" 2>&1
gate planaudit_sf0.1 "$?"
# AQE divergence gate: the table rows must be identical across SFs
if diff <(grep '^|' "$OUT/PLANS_sf0.01.md") <(grep '^|' "$OUT/PLANS_sf0.1.md") \
    > "$OUT/plans_sf_diff.txt" 2>&1; then
  note "gate ok: plans identical across sf0.01/sf0.1 (no AQE divergence)"
else
  note "GATE FAIL: plan rows DIVERGE across SFs — $OUT/plans_sf_diff.txt"
  head -10 "$OUT/plans_sf_diff.txt" | tee -a "$REC"; FAIL=1
fi
# drift gate vs the committed audit: a plan change must be reviewed,
# PLANS.md+PLANS_sf0.1.md refreshed, and committed WITH the code change
if diff <(grep '^|' PLANS.md) <(grep '^|' "$OUT/PLANS_sf0.01.md") \
    > "$OUT/plans_drift.txt" 2>&1; then
  note "gate ok: plans match committed PLANS.md"
else
  note "GATE FAIL: plans drifted vs committed PLANS.md — review $OUT/plans_drift.txt, then refresh+commit PLANS.md/PLANS_sf0.1.md"
  head -10 "$OUT/plans_drift.txt" | tee -a "$REC"; FAIL=1
fi

step "7/7 repo benchmark: perfbench specs + a 1 s smoke of each BENCHMARK.json workload"
(cd perfbench && sbt -batch test) > "$OUT/perfbench_test.log" 2>&1
rc=$?
grep -E "^\[info\] (Tests:|All tests)" "$OUT/perfbench_test.log" | tail -2 | tee -a "$REC"
gate perfbench_test "$rc"
for w in $(python3 -c 'import json; print(" ".join(w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]))'); do
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 1 --trace 0 \
    > "$OUT/perfbench_$w.json" 2> "$OUT/perfbench_$w.log"
  rc=$?
  python3 - "$OUT/perfbench_$w.json" "$w" "$rc" <<'EOF' 2>&1 | tee -a "$REC"
import json, sys
path, w, rc = sys.argv[1], sys.argv[2], int(sys.argv[3])
try:
    r = json.loads(open(path).read().strip().splitlines()[-1])
except Exception as e:
    print(f"perfbench {w}: no result (run.py exit {rc}): {e}"); sys.exit(1)
print(f"perfbench {w}: correct={r.get('correct')} failed={r.get('failed')}/{r.get('attempted')}")
sys.exit(0 if rc == 0 and r.get("correct") is True and r.get("failed") == 0 else 1)
EOF
  gate "perfbench_smoke_$w" "${PIPESTATUS[0]}"
done

echo
if [ "$FAIL" -ne 0 ]; then
  note "ROUND GATE: FAIL"
else
  note "ROUND GATE: ALL GREEN"
fi
exit "$FAIL"
