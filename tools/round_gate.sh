#!/usr/bin/env bash
# One-command round close-out gate (r14, verdict #8).
#
# Runs the round's full evidence chain in the SAFE order the repo's lore
# demands (BENCH_NOTES, memory notes — now encoded here):
#   1. no concurrent heavy jobs (load check up front, hard refusal)
#   2. sbt test            — the spec tier
#   2b. PlanAudit at sf0.01 — the plan contract (PlanAudit.table), written
#      to a temp path; any failing check fails the gate, and the output
#      is compared with the committed PLANS.md
#   3. Verify + verify_local at sf0.01 — the DuckDB correctness gate
#   4. ORACLE_TIMES freshness check — every oracled query must have a
#      committed DuckDB baseline at the bench SF (regen is a separate,
#      deliberate step: it re-times the whole suite)
#   5. Bench at sf0.1, FULL inventory (never restricted — restricted
#      selections skip warmups and inflate fit-adjacent rows)
#   6. anchor refresh LAST, from the bench detail just produced, under
#      the sub-flag-mover guard (update_anchor.py exits 2 and this gate
#      FAILS if an unattributed >1.3x-residual mover is present —
#      isolate + attribute, then rerun)
# Scale (SCALE.md) is NOT in the default chain (60-90 min); pass
# --scale to include it between steps 3 and 5.
#
# Usage: tools/round_gate.sh [--scale] [--skip-tests]
# Env: SPARK_GRAFT_SF_DIR (bench SF, default /root/testdata/sf0.1),
#      GATE_LOAD_MAX (default 4.0)
set -u
cd "$(dirname "$0")/.."

SCALE=0
SKIP_TESTS=0
for a in "$@"; do
  case "$a" in
    --scale) SCALE=1 ;;
    --skip-tests) SKIP_TESTS=1 ;;
    *) echo "unknown arg: $a" >&2; exit 64 ;;
  esac
done

BENCH_SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
VERIFY_SF=/root/testdata/sf0.01
VERIFY_OUT=/tmp/round_gate_verify
LOAD_MAX="${GATE_LOAD_MAX:-4.0}"
declare -a RESULTS=()
FAIL=0

step() { echo; echo "== round_gate: $1 =="; }
record() { # name status
  RESULTS+=("$1: $2")
  [ "$2" = PASS ] || FAIL=1
}

step "load check (no concurrent heavy jobs)"
LOAD=$(awk '{print $1}' /proc/loadavg)
if awk -v l="$LOAD" -v m="$LOAD_MAX" 'BEGIN{exit !(l > m)}'; then
  echo "load $LOAD > $LOAD_MAX — another heavy job is running." >&2
  echo "A bench/Scale measurement under contention ships a disturbed artifact" >&2
  echo "(r10: 1.54x vs 0.95x clean). Drain the box, then rerun." >&2
  exit 75
fi
echo "load $LOAD <= $LOAD_MAX — clear"

if [ "$SKIP_TESTS" = 1 ]; then
  record "sbt test" "SKIPPED (--skip-tests)"
else
  step "sbt test"
  if sbt -batch test > /tmp/round_gate_sbt_test.log 2>&1; then
    grep -E "Tests: succeeded" /tmp/round_gate_sbt_test.log | tail -1
    record "sbt test" PASS
  else
    tail -30 /tmp/round_gate_sbt_test.log
    record "sbt test" "FAIL (log: /tmp/round_gate_sbt_test.log)"
  fi
fi

step "PlanAudit @ sf0.01 (plan contract)"
PLANS_OUT=/tmp/round_gate_PLANS.md
if SPARK_GRAFT_CPUS=4 sbt -batch "runMain graft.PlanAudit $VERIFY_SF $PLANS_OUT" \
     > /tmp/round_gate_plans.log 2>&1; then
  if cmp -s "$PLANS_OUT" PLANS.md; then
    record "plan audit" PASS
  else
    echo "PLANS.md is stale: regenerate with" >&2
    echo "  SPARK_GRAFT_CPUS=4 sbt \"runMain graft.PlanAudit $VERIFY_SF PLANS.md\"" >&2
    record "plan audit" "FAIL (PLANS.md differs from $PLANS_OUT)"
  fi
else
  grep -E "FAIL|fail the plan contract" /tmp/round_gate_plans.log | tail -20
  record "plan audit" "FAIL (log: /tmp/round_gate_plans.log)"
fi

step "Verify @ sf0.01 + DuckDB compare"
rm -rf "$VERIFY_OUT"
if SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $VERIFY_SF $VERIFY_OUT" \
     > /tmp/round_gate_verify.log 2>&1 \
   && python3 tools/verify_local.py "$VERIFY_SF" "$VERIFY_OUT" \
     > /tmp/round_gate_verify_cmp.log 2>&1; then
  tail -4 /tmp/round_gate_verify_cmp.log
  record "verify+oracle" PASS
else
  tail -20 /tmp/round_gate_verify_cmp.log 2>/dev/null || tail -20 /tmp/round_gate_verify.log
  record "verify+oracle" "FAIL (logs: /tmp/round_gate_verify*.log)"
fi

step "ORACLE_TIMES freshness vs oracle_sql.json"
MISSING=$(python3 - "$VERIFY_OUT/oracle_sql.json" <<'EOF'
import json, sys
try:
    sql = json.load(open(sys.argv[1]))
except FileNotFoundError:
    print("NO_DUMP"); raise SystemExit
times = json.load(open("ORACLE_TIMES.json"))
t = times.get("times", times)
missing = sorted(set(sql) - set(t))
print(",".join(missing) if missing else "OK")
EOF
)
if [ "$MISSING" = OK ]; then
  record "oracle_times fresh" PASS
else
  echo "queries missing a committed DuckDB baseline: $MISSING" >&2
  echo "regen: python3 tools/oracle_times.py $BENCH_SF $VERIFY_OUT/oracle_sql.json ORACLE_TIMES.json" >&2
  record "oracle_times fresh" "FAIL (missing: $MISSING)"
fi

if [ "$SCALE" = 1 ]; then
  step "Scale harness -> SCALE.md"
  if SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Scale SCALE.md" \
       > /tmp/round_gate_scale.log 2>&1; then
    record "scale" PASS
  else
    tail -20 /tmp/round_gate_scale.log
    record "scale" "FAIL (log: /tmp/round_gate_scale.log)"
  fi
fi

step "Bench @ $BENCH_SF (full inventory)"
if SPARK_GRAFT_SF_DIR="$BENCH_SF" SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" \
     > /tmp/round_gate_bench.log 2>&1; then
  grep '{"metric"' /tmp/round_gate_bench.log | sed 's/^\[info\] //' | head -c 400; echo
  RATIO=$(python3 -c "
import json
d = json.load(open('BENCH_DETAIL.json'))
print(d.get('spark_vs_duck_ratio'), d.get('n_flagged'), d.get('anchor_drift_median'))")
  echo "ratio/n_flagged/drift: $RATIO"
  record "bench" PASS
else
  tail -20 /tmp/round_gate_bench.log
  record "bench" "FAIL (log: /tmp/round_gate_bench.log)"
fi

step "anchor refresh (guarded, LAST)"
if [ "$FAIL" = 1 ]; then
  echo "skipping anchor refresh: an earlier step failed — never re-seed from an untrusted run"
  record "anchor refresh" "SKIPPED (earlier failure)"
elif python3 tools/update_anchor.py BENCH_DETAIL.json BENCH_ANCHOR.json; then
  record "anchor refresh" PASS
else
  echo "update_anchor refused (sub-flag mover) — isolate each offender" >&2
  echo "(SPARK_GRAFT_ONLY=<name>), then rerun the refresh with --attribute name:reason" >&2
  record "anchor refresh" "FAIL (unattributed mover)"
fi

echo
echo "== round_gate summary =="
for r in "${RESULTS[@]}"; do echo "  $r"; done
if [ "$FAIL" = 1 ]; then echo "ROUND GATE: FAIL"; exit 1; fi
echo "ROUND GATE: PASS"
