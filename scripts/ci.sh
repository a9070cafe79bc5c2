#!/usr/bin/env bash
# One-command gate: compile, full test suite, Verify at sf0.01, DuckDB
# oracle compare, committed golden hashes. Mirrors the driver's t2 flow.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR=${1:-/root/testdata/sf0.01}
OUT=$(mktemp -d /tmp/graft-ci.XXXXXX)

sbt -batch compile

# Oracle dtype preflight (VERDICT r7 #2): HUGEINT/DECIMAL oracle columns
# hash-mismatch in the driver's pandas comparator even when values are
# identical; catch them in seconds before the expensive sweep.
sbt -batch "runMain graft.OracleDump $OUT"
python3 scripts/oracle_dtypes.py /root/testdata/sf0.001 "$OUT"

# Provenance hygiene (VERDICT r7 #5): fails on any non-public
# import/URL/bucket/credential-shaped string in shipped files.
python3 scripts/leakcheck.py "${GRAFT_ROUND:-0}" "$OUT/leakcheck.json"

sbt -batch test
sbt -batch "runMain graft.Verify $SF_DIR $OUT"
# Spark-output dtype preflight (VERDICT r9 #3, the Q235 class): a bare
# decimal literal in a Spark SQL ROUND makes the OUTPUT column DECIMAL
# while the oracle computes DOUBLE — ban decimal output columns outright.
python3 scripts/output_dtypes.py "$OUT"
python3 scripts/check.py "$SF_DIR" "$OUT"
python3 scripts/golden.py check "$OUT" golden/sf0.01.json

# Scaling tripwire (VERDICT r4 #7): the sf0.001 bench leg is seconds-cheap;
# a generous 3x per-family budget catches an accidentally super-linear
# rewrite (the Q99-HOF class of bug) before it reaches a judge. Budgets are
# regenerated on a quiet machine with `scaling.py budget`.
BENCH_OUT=$(mktemp /tmp/graft-ci-bench.XXXXXX.json)
BENCH_RAW=$(mktemp /tmp/graft-ci-bench-raw.XXXXXX.log)
# Bench prints the full per-query map first and a short summary line last
# (for the driver's bounded stdout tail); the budget check wants the full
# map. grep -m1 (not `| head -1`): under pipefail, head exiting after the
# first match SIGPIPEs the producer and 141-fails the whole gate AFTER
# every real check has passed (observed once at the 329-gate size).
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt -batch "runMain graft.Bench" \
  > "$BENCH_RAW"
grep -m1 -o '{"metric".*}' "$BENCH_RAW" > "$BENCH_OUT"
python3 scripts/scaling.py check "$BENCH_OUT" golden/bench_budget_sf0.001.json

# Rehearsal row format: both legs must print an error-free row, and
# sf10_table.py must still read it, so a renamed row key fails here and
# not in a later sweep.
REH_LOG=$(mktemp /tmp/graft-ci-rehearsal.XXXXXX.log)
sbt -batch "runMain graft.Sf10Rehearsal /root/testdata/sf0.001 daily_grid_build Q13" \
  > "$REH_LOG"
python3 - "$REH_LOG" <<'EOF'
import json, sys
rows = {}
for line in open(sys.argv[1]):
    if line.startswith('{"leg"'):
        row = json.loads(line)
        rows[row["leg"]] = row
for leg in ("daily_grid_build", "Q13"):
    if leg not in rows or "error" in rows[leg]:
        sys.exit(f"rehearsal leg {leg}: {rows.get(leg, 'no row')}")
EOF
python3 scripts/sf10_table.py "$REH_LOG"

echo "CI GREEN ($SF_DIR)"
