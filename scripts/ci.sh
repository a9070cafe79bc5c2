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

# Leg rows: every leg of the full line (each query, each `*_build` key,
# cpals, nnhals and tucker) must have printed exactly one error-free row,
# with `gc_s` no larger than `sec`, and on every job a non-empty
# `description` that names its query, not Spark's pool thread
# (`CompletableFuture.java`), a `tucker` row whose `fallbacks` (Lanczos
# solves that dsyev answered) is 0, and `cpals` and `nnhals` rows with at most
# 4 jobs described by a bare `CPALS.scala` call site (the pack's 3 and the
# fit's one; the Q43 query runs once, into the leg's `localCheckpoint`, so its
# jobs are named by Bench's call site); and
# `scaling.py rows` must read them, so a renamed row key fails here and not in
# a later sweep.
python3 - "$BENCH_OUT" "$BENCH_RAW" <<'EOF'
import collections, json, re, sys
full = json.load(open(sys.argv[1]))
legs = (list(full["queries"]) + [k for k in full if k.endswith("_build")]
        + ["cpals", "nnhals", "tucker"])
rows = [json.loads(line) for line in open(sys.argv[2]) if line.startswith('{"leg"')]
count = collections.Counter(row["leg"] for row in rows)
bad = [f"{leg}: {count[leg]} rows" for leg in legs if count[leg] != 1]
bad += [f"{leg}: a row for a leg not in the full line" for leg in count if leg not in legs]
bad += [f"{row['leg']}: {row['error']}" for row in rows if "error" in row]
bad += [f"{row['leg']}: gc_s {row['gc_s']} > sec {row['sec']}" for row in rows
        if row["gc_s"] > row["sec"]]
bad += [f"{row['leg']}: job {job['id']} has an empty description" for row in rows
        for job in row["jobs"] if not job["description"]]
bad += [f"{row['leg']}: job {job['id']} is named {job['description']!r}" for row in rows
        for job in row["jobs"] if "CompletableFuture.java" in job["description"]]
bad += [f"tucker: fallbacks {row.get('fallbacks')}" for row in rows
        if row["leg"] == "tucker" and "error" not in row and row.get("fallbacks") != 0]
for row in rows:
    cp_jobs = [job["description"] for job in row["jobs"]
               if re.fullmatch(r"\S+ at CPALS\.scala:\d+", job["description"])]
    if row["leg"] in ("cpals", "nnhals") and len(cp_jobs) > 4:
        bad.append(f"{row['leg']}: {len(cp_jobs)} CPALS.scala jobs (pack 3 + fit 1): {cp_jobs}")
if bad:
    sys.exit("bench rows:\n" + "\n".join(bad))
print(f"bench rows: {len(rows)} legs, one error-free row each, gc_s <= sec, every job described by its query, no Tucker fallback, one job per CP fit")
EOF
python3 scripts/scaling.py rows "$BENCH_RAW"

# A subset run that selects no build leg still prints a full line and a
# summary line that parse as JSON.
SUBSET_RAW=$(mktemp /tmp/graft-ci-subset.XXXXXX.log)
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt -batch "runMain graft.Bench cpals nnhals tucker" \
  > "$SUBSET_RAW"
python3 - "$SUBSET_RAW" <<'EOF'
import json, sys
lines = [line for line in open(sys.argv[1]) if line.startswith('{"metric"')]
if len(lines) != 2:
    sys.exit(f"bench subset: {len(lines)} total lines, want the full and the summary line")
for line in lines:
    json.loads(line)
print("bench subset: full and summary lines parse as JSON")
EOF

# Benchmark build and tensor fits: perfbench compiles against the engine's
# private[graft] tensor API, so a signature change fails here and not first
# in a benchmark run. One untraced pass of its tensors workload checks the
# Q43 CP-ALS and NN-HALS fits against perfbench/expected.json, and the
# Tucker and skewed-tensor fits; its last stdout line must read correct.
PERF_LAST=$(python3 perfbench/run.py --workload tensors --seed 1 --seconds 0 --trace 0 | tail -1)
python3 - "$PERF_LAST" <<'EOF'
import json, sys
result = json.loads(sys.argv[1])
if result.get("correct") is not True:
    sys.exit(f"perfbench tensors: {result}")
EOF

echo "CI GREEN ($SF_DIR)"
