#!/usr/bin/env bash
# Mechanical round close-out: runs every per-round evidence artifact and
# refuses to close on any gate violation. Round-6 lesson: PLANAUDIT shipped
# stale (153/177 rows) because regeneration was manual.
#
# Usage: tools/close_round.sh <round_number> [sf_dir_bench] [sf_dir_verify]
#   e.g. tools/close_round.sh 7
#
# Produces, in the repo root:
#   PLANAUDIT_r<N>.txt   — plan shapes for EVERY declared query (count-asserted)
#   bench_out.json       — full two-pass per-query bench map at sf0.1
# and checks:
#   1. sbt test green
#   2. Verify + check_oracle: 0 fails at sf0.01
#   3. PlanAudit: zero cartesians, zero FAILED plans, row count == query count
#   4. Bench runs and parses; bench_diff vs bench_history tail is advisory
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: close_round.sh <round_number>}"
SF_BENCH="${2:-/root/testdata/sf0.1}"
SF_VERIFY="${3:-/root/testdata/sf0.01}"
AUDIT="PLANAUDIT_r${ROUND}.txt"

echo "== close_round r${ROUND}: sbt test =="
sbt -batch test 2>&1 | tail -4 | tee /tmp/close_test.log
grep -q "All tests passed." /tmp/close_test.log || {
  echo "CLOSE FAILED: sbt test not green"; exit 1; }

echo "== close_round: Verify + oracle at ${SF_VERIFY} =="
sbt -batch "runMain graft.Verify ${SF_VERIFY} /tmp/close_verify" >/dev/null 2>&1
python3 tools/check_oracle.py "${SF_VERIFY}" /tmp/close_verify \
  | tee /tmp/close_oracle.log | tail -3
grep -qE "^[0-9]+ pass / 0 fail" /tmp/close_oracle.log || {
  echo "CLOSE FAILED: oracle failures"; exit 1; }

echo "== close_round: PlanAudit over every declared query =="
SPARK_GRAFT_SF_DIR="${SF_VERIFY}" sbt -batch "runMain graft.PlanAudit" \
  2>/dev/null | grep -E '^\[(plan|memo|memo-total)\]' > "${AUDIT}"
N_DECLARED=$(python3 - <<'EOF'
import json
with open('/tmp/close_verify/oracle_sql.json') as f:
    oracle = json.load(f)
import os
dirs = [d for d in os.listdir('/tmp/close_verify')
        if os.path.isdir(os.path.join('/tmp/close_verify', d))]
print(len(dirs))
EOF
)
N_AUDIT=$(grep -c '^\[plan\]' "${AUDIT}")
echo "declared=${N_DECLARED} audited=${N_AUDIT}"
[ "${N_AUDIT}" -eq "${N_DECLARED}" ] || {
  echo "CLOSE FAILED: ${AUDIT} has ${N_AUDIT} rows, expected ${N_DECLARED}"; exit 1; }
if grep -E " cart=[1-9]" "${AUDIT}"; then
  echo "CLOSE FAILED: cartesian product in a declared plan"; exit 1; fi
# NOTE: every field grep is anchored on its LEADING SPACE — "over=" is a
# substring of "auxover="/"strigover=", so an unanchored grep would fire
# the wrong gate with the wrong message on an aux/trigger violation.
# r10 lesson: segmented_trend_fit aggregated the events table twice in one
# query and no gate saw it — PlanAudit now counts base-table scans per query
# against PlanAudit.scanBounds (default 2; measured exceptions declared with
# reasons). over>0 = a table scanned above its declared bound: land the
# stage or declare the bound, never ship the silent recompute.
if grep -E " over=[1-9]" "${AUDIT}"; then
  echo "CLOSE FAILED: a query scans a base table above its declared bound"
  exit 1; fi
# r11 advisory: the final plan cannot see scans inside eagerly-executed
# landing/probe jobs — PlanAudit now gates every auxiliary job's plan too.
# CAVEAT (PlanAudit.auxScanBounds scaladoc): landings are memoized per
# session, so an aux job is charged to the FIRST consumer in sorted run
# order — renaming a query can silently MOVE a charge to a different row;
# re-measure and move the auxScanBounds entry when a rename shifts it.
echo "NOTE: aux-job charges follow sorted run order (first consumer pays) —"
echo "      a query rename can move a charge; re-measure auxScanBounds then."
if grep -E " auxover=[1-9]" "${AUDIT}"; then
  echo "CLOSE FAILED: an auxiliary job (landing/probe) scans a base table above its bound"
  exit 1; fi
# r12 verdict: per-trigger IncrementalExecutions are invisible to the
# QueryExecutionListener — PlanAudit now captures every started streaming
# query and gates the last trigger's plan (strigover); sbad>0 means a
# started query escaped capture and its triggers went ungated.
if grep -E " strigover=[1-9]" "${AUDIT}"; then
  echo "CLOSE FAILED: a streaming trigger scans a base table above its bound"
  exit 1; fi
if grep -E " sbad=[1-9-]" "${AUDIT}"; then
  echo "CLOSE FAILED: a started streaming query escaped per-trigger capture"
  exit 1; fi
# r13 verdict gate-legibility: strigsrc names what each captured trigger
# plan actually reads (replay/memory/file/flush — flush = the terminal
# no-input watermark-eviction batch of a stateful query). An empty
# strigscans= is benign ONLY when strigsrc names an in-memory source;
# strigsrc=unknown means a trigger plan had NO recognizable source — the
# capture drifted and the per-trigger gate is no longer trustworthy.
if grep -E " strigsrc=unknown" "${AUDIT}"; then
  echo "CLOSE FAILED: a captured trigger plan has no recognizable source (capture drift)"
  exit 1; fi
# locbad>0 = a scan leaf the plan-tree walk (PlanAudit.nodes) cannot name:
# a file scan without a root path, or a v2 scan over a file table — scan
# counts are untrustworthy
if grep -E " locbad=[1-9]" "${AUDIT}"; then
  echo "CLOSE FAILED: unnamed scan leaves — scan counting is untrustworthy"
  exit 1; fi
if grep -q "FAILED" "${AUDIT}"; then
  echo "CLOSE FAILED: a declared query failed to plan/execute"; exit 1; fi
# r13 verdict "Next" #5: the memo families are each bounded, but nothing
# gated the AGGREGATE driver-heap footprint across a full-suite session.
# PlanAudit now prints a [memo] line per family; refuse entry counts above
# the committed per-family bounds (growth = edit tools/memo_bounds.json
# WITH A REASON, the scanBounds discipline) and the global est-bytes ceiling.
python3 - "${AUDIT}" <<'EOF' || { echo "CLOSE FAILED: memo ledger out of bounds"; exit 1; }
import json, re, sys
with open('tools/memo_bounds.json') as f:
    spec = json.load(f)
bounds = spec['families']
fams = {}
total_bytes = 0
for line in open(sys.argv[1]):
    m = re.match(r'\[memo\] family=(\S+)\s+entries=(\d+)\s+est_bytes=(\d+)', line)
    if m:
        fams[m.group(1)] = int(m.group(2))
        total_bytes += int(m.group(3))
bad = False
for fam, n in sorted(fams.items()):
    if fam not in bounds:
        print(f'memo ledger: UNKNOWN family {fam} ({n} entries) — add a bound with a reason')
        bad = True
    elif n > bounds[fam]:
        print(f'memo ledger: {fam} has {n} entries > bound {bounds[fam]}')
        bad = True
if total_bytes > spec['total_est_bytes_max']:
    print(f'memo ledger: total est_bytes {total_bytes} > ceiling {spec["total_est_bytes_max"]}')
    bad = True
print(f'memo ledger: {len(fams)} families, total est_bytes {total_bytes} '
      f'(ceiling {spec["total_est_bytes_max"]})')
sys.exit(1 if bad else 0)
EOF
# r8 lesson: DECIMAL-typed output columns were the only driver-gate hash
# failures and were invisible to every local signal — refuse them at close.
if grep -E " dec=[1-9]" "${AUDIT}"; then
  echo "CLOSE FAILED: a declared query emits a DECIMAL-typed output column"
  exit 1; fi
# belt-and-braces: scan the Verify parquet footers too (catches a dec column
# that PlanAudit's schema walk would miss only if the two ever diverge)
python3 - <<'EOF' || { echo "CLOSE FAILED: decimal column in Verify output"; exit 1; }
import os, sys
import pyarrow.parquet as pq
import pyarrow.types as pt
def has_decimal(t):
    if pt.is_decimal(t): return True
    if pt.is_list(t) or pt.is_large_list(t): return has_decimal(t.value_type)
    if pt.is_struct(t): return any(has_decimal(f.type) for f in t)
    if pt.is_map(t): return has_decimal(t.key_type) or has_decimal(t.item_type)
    return False
bad = []
root = '/tmp/close_verify'
for d in sorted(os.listdir(root)):
    p = os.path.join(root, d)
    if not os.path.isdir(p): continue
    for f in os.listdir(p):
        if f.endswith('.parquet'):
            sch = pq.read_schema(os.path.join(p, f))
            for field in sch:
                if has_decimal(field.type): bad.append((d, field.name))
            break
if bad:
    print('DECIMAL output columns:', bad); sys.exit(1)
EOF

echo "== close_round: Bench at ${SF_BENCH} (two interleaved passes) =="
SPARK_GRAFT_SF_DIR="${SF_BENCH}" sbt -batch "runMain graft.Bench" \
  2>/dev/null | grep '{"metric"' | tail -1 > /tmp/close_bench_short.json
python3 -m json.tool < /tmp/close_bench_short.json >/dev/null || {
  echo "CLOSE FAILED: bench short line did not parse"; exit 1; }
echo "bench total: $(python3 -c "import json;print(json.load(open('bench_out.json'))['value'])") s"

# sort -V by filename, not mtime: a fresh checkout resets every mtime to the
# clone instant, and `ls -t` then picks an arbitrary (observed: r7) baseline
PREV=$(ls bench_history/r*_close.json 2>/dev/null | sort -V | tail -1 || true)
if [ -n "${PREV}" ]; then
  echo "== close_round: bench_diff vs ${PREV} (advisory) =="
  python3 tools/bench_diff.py "${PREV}" bench_out.json || \
    echo "NOTE: regressions above — explain in SCALE.md or fix before closing"
fi
cp bench_out.json "bench_history/r${ROUND}_close.json" 2>/dev/null || true

echo "== close_round: stamping measured numbers into ROUND_STATS.md =="
# round-7 lesson: prose carried three different hand-transcribed timings;
# totals now flow from the close artifacts through one tool
python3 tools/round_stats.py "${ROUND}"

echo "== close_round r${ROUND}: ALL GATES GREEN =="
