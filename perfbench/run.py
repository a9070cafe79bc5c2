#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/NOTES.md):
  registry  a seeded, cost- and module-stratified sample of the query legs at
            sf0.1, run back to back into the noop sink; set-up force-rebuilds
            the daily-cents-grid artifact that a share of them read and runs
            a few fixed warm-up legs.
  tensors   CP-ALS, NN-HALS and Tucker on the Q43 events tensor, and CP-ALS
            on a seeded planted-rank tensor whose slice sizes are Zipf over
            its rows.

The script builds the engine and the benchmark from source with sbt (once per
source state), runs the workload in a JVM of its own with every Spark and
engine directory under a fresh scratch root, checks every output against
perfbench/expected.json, and prints the metrics. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 0
gives the end-to-end metrics, --trace 1 the per-layer ones. A full record of
the run is written under perfbench/.out/results/.

The dataset directory is $SPARK_GRAFT_SF_DIR, by default ~/testdata/sf0.1.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(HERE, ".out")
DEADLINE_S = 170          # the whole run, build excluded
JVM_HEAP = "4g"
CPUS = 4
LEGS_PER_PASS = 12        # registry sample size
WARMUP_LEGS = 6           # fixed legs run during registry set-up
TUCKER_EXACT_FIT = 0.140947

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt unless this source state is built."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp_file
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} -Xmx4g")
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "writeClasspath"],
                             cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file


# ---------------------------------------------------------------- inputs

def warmup_legs(expected):
    """The legs that warm the JVM up during registry set-up: the same in
    every run, one from the middle of each of WARMUP_LEGS cost strata of
    the cheaper half of the pool, and never in a sample."""
    legs = expected["legs"]
    pool = sorted(legs, key=lambda q: (legs[q]["cost_s"], q))[:len(legs) // 2]
    return [pool[len(pool) * (2 * k + 1) // (2 * WARMUP_LEGS)] for k in range(WARMUP_LEGS)]


def registry_sample(expected, seed):
    """Cost-stratified, module-balanced sample of the registry legs.

    The pool is every leg recorded in expected.json (record.py chooses
    them) but the warm-up legs.
    Sorted by cost, it is cut into LEGS_PER_PASS equal strata; from each the
    seed picks a leg, preferring the operator module sampled least so far.
    Cost strata keep the pass time steady across seeds; the module rule
    spreads the sample over the operator modules.
    """
    rng = random.Random(seed)
    legs = expected["legs"]
    warm = set(warmup_legs(expected))
    pool = sorted((q for q in legs if q not in warm), key=lambda q: (legs[q]["cost_s"], q))
    seen = {}
    chosen = []
    for s in range(LEGS_PER_PASS):
        stratum = pool[len(pool) * s // LEGS_PER_PASS: len(pool) * (s + 1) // LEGS_PER_PASS]
        rng.shuffle(stratum)
        pick = min(stratum, key=lambda q: seen.get(legs[q]["module"], 0))
        seen[legs[pick]["module"]] = seen.get(legs[pick]["module"], 0) + 1
        chosen.append(pick)
    rng.shuffle(chosen)
    return chosen


# ---------------------------------------------------------------- checks

def check_op(op, expected):
    """Returns None when the operation's output is right, else why not."""
    if op["error"] is not None:
        return "raised:\n" + op["error"]
    kind, name, facts = op["kind"], op["name"], op["facts"]
    if kind in ("leg", "build"):
        want = expected["artifacts" if kind == "build" else "legs"].get(name)
        if want is None:
            return f"no recorded fingerprint for {kind} {name}"
        if facts["rows"] != want["rows"]:
            return f"{facts['rows']} rows, recorded {want['rows']}"
        if want["hash"] is not None and facts["hash"] != want["hash"]:
            return f"row hash {facts['hash']}, recorded {want['hash']}"
        return None
    if kind == "pack":
        return None if len(facts["slab_nnz"]) == CPUS and sum(facts["slab_nnz"]) == facts["nnz"] \
            else f"slabs hold {sum(facts['slab_nnz'])} of {facts['nnz']} nonzeros"
    fit = facts["fit"]
    if name in ("cpals", "nnhals"):
        want = expected["tensors"][name + "_fit"]
        return None if abs(fit - want) <= 1e-6 else f"fit {fit!r}, recorded {want!r}"
    if name == "tucker":
        return None if abs(fit - TUCKER_EXACT_FIT) <= 1e-4 else \
            f"fit {fit!r}, exact {TUCKER_EXACT_FIT}"
    if name == "skew_cpals":
        return None if fit >= 0.99 else f"fit {fit!r} after {facts['starts']} starts, need >= 0.99"
    return f"unknown operation {kind} {name}"


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_len(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def op_seconds(op):
    """An operation's time. The skewed-tensor fit restarts when a start
    stalls, a number of times that depends on the seed's tensor, so its
    time is taken per iteration and scaled to one start's iterations."""
    f = op["facts"]
    if op["name"] == "skew_cpals" and op["error"] is None:
        return op["wall_s"] / f["iterations"] * f["max_iter"]
    return op["wall_s"]


def timed(ops):
    """The measured operations, without the self-check's forced failure."""
    return [o for o in ops if o["stage"] == "measure" and o["name"] != "forced_failure"]


def end_to_end(rec, launch_s, ops):
    measured = timed(ops)
    walls = [op_seconds(o) for o in measured]
    names = [o["name"] for o in measured]
    per_pass = len(set(names))
    passes = [sum(walls[i:i + per_pass]) for i in range(0, len(walls) - per_pass + 1, per_pass)]
    return {
        "setup_s": rec["setup_end_ms"] / 1000.0 - launch_s,
        "pass_s": statistics.median(passes),
    }


def named_metrics(rec, ops):
    """The workload's own figures, printed by name next to the JSON line."""
    measured = timed(ops)
    out = {}
    if rec["workload"] == "registry":
        legs = [o["wall_s"] for o in measured]
        builds = [o for o in ops if o["kind"] == "build"]
        per_pass = len(set(o["name"] for o in measured))
        out["leg_p50_s"] = (statistics.median(legs), f"n={len(legs)}")
        out["leg_p90_s"] = (quantile(legs, 0.9), f"n={len(legs)}, {sum(x > quantile(legs, 0.9) for x in legs)} beyond")
        out["legs_total_s"] = (sum(legs[:per_pass]), f"first pass, {per_pass} legs")
        out["build_total_s"] = (sum(o["wall_s"] for o in builds), f"{len(builds)} artifacts, set-up")
        out["artifact_disk_mb"] = (sum(o["facts"].get("disk_bytes", 0) for o in builds) / 1e6, "")
    else:
        def by(name):
            return [o for o in measured if o["name"] == name]
        for name, key in (("cpals", "cpals_iter_s"), ("nnhals", "nnhals_iter_s"),
                          ("skew_cpals", "skew_cpals_iter_s")):
            xs = [o["wall_s"] / o["facts"]["iterations"] for o in by(name) if o["error"] is None]
            out[key] = (statistics.median(xs) if xs else float("nan"), f"n={len(xs)}")
        xs = [o["wall_s"] for o in by("tucker")]
        out["tucker_s"] = (statistics.median(xs) if xs else float("nan"), f"n={len(xs)}")
    return out


def per_layer(rec, ops):
    spans = {s["id"]: s for s in rec["spans"]}
    kids = {}
    for s in rec["spans"]:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(i):
        out, todo = set(), [i]
        while todo:
            j = todo.pop()
            out.add(j)
            todo += kids.get(j, [])
        return out

    def deepest(t):
        best = None
        for s in rec["spans"]:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best["id"] if best else -1

    plan_phases = list(rec["plan_phases"])
    for o in ops:
        a = o["facts"].get("analysis_ms") if o["kind"] == "leg" else None
        if a:
            plan_phases.append({"phase": "analysis", "start": a[0], "end": a[1]})
    jobs = rec["jobs"]
    for j in jobs:
        if j["span"] < 0 or j["span"] not in spans:
            j["span"] = deepest(j["start"])
        if j["end"] != j["end"]:          # NaN: the job never ended
            j["end"] = j["start"]
    stages = {s["id"]: s for s in rec["stages"]}
    stage_job = {}
    for j in jobs:
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    jobs_by_id = {j["id"]: j for j in jobs}

    def op_view(op):
        tree = subtree(op["span"])
        js = [j for j in jobs if j["span"] in tree]
        jids = {j["id"] for j in js}
        sts = [s for sid, s in stages.items() if stage_job.get(sid) in jids]
        s0, s1 = spans[op["span"]]["start"], spans[op["span"]]["end"]
        plan = [p for p in plan_phases if s0 <= p["start"] <= s1]
        scans = [q for q in rec["scans"] if s0 <= q["at"] <= s1]
        return tree, js, sts, plan, scans

    def phase_ids(tree, name):
        return {i for i in tree if spans[i]["layer"] == "phase" and spans[i]["name"] == name}

    MB = 1e6
    m = {}
    measured = [o for o in timed(ops) if o["error"] is None]
    views = [(o,) + op_view(o) for o in measured]
    n = max(1, len(views))

    def mean(f):
        return sum(f(v) for v in views) / n

    def construct_jobs(v):
        ids = set()
        for p in phase_ids(v[1], "construct"):
            ids |= subtree(p)
        return [j for j in v[2] if j["span"] in ids]

    m["operators.construct_s"] = mean(lambda v: sum(spans[p]["end"] - spans[p]["start"]
                                                     for p in phase_ids(v[1], "construct")) / 1000)
    m["operators.eager_jobs"] = mean(lambda v: len(construct_jobs(v)))
    for ph in ("analysis", "optimization", "planning"):
        m[f"plan.{ph}_s"] = mean(lambda v: sum(p["end"] - p["start"] for p in v[4]
                                               if p["phase"] == ph) / 1000)
    m["exec.jobs"] = mean(lambda v: len(v[2]))
    m["exec.stages"] = mean(lambda v: len(v[3]))
    m["exec.tasks"] = mean(lambda v: sum(s["tasks"] for s in v[3]))
    m["exec.job_s"] = mean(lambda v: union_len([(j["start"], j["end"]) for j in v[2]]) / 1000)
    m["exec.task_critical_s"] = mean(lambda v: sum(s["max_run_ms"] for s in v[3]) / 1000)
    m["exec.driver_gap_s"] = mean(lambda v: v[0]["wall_s"]
                                  - union_len([(j["start"], j["end"]) for j in v[2]]) / 1000)
    m["exec.executor_cpu_s"] = mean(lambda v: sum(s["cpu_ns"] for s in v[3]) / 1e9)
    m["exec.gc_s"] = mean(lambda v: sum(s["gc_ms"] for s in v[3]) / 1000)
    m["exec.shuffle_write_mb"] = mean(lambda v: sum(s["shuffle_write"] for s in v[3]) / MB)
    m["exec.shuffle_read_mb"] = mean(lambda v: sum(s["shuffle_read"] for s in v[3]) / MB)
    m["exec.spill_mb"] = mean(lambda v: sum(s["spill_mem"] + s["spill_disk"] for s in v[3]) / MB)
    m["exec.peak_task_mem_mb"] = max([s["peak_mem"] for v in views for s in v[3]] + [0]) / MB
    m["exec.failed_tasks"] = sum(s["failed_tasks"] for s in rec["stages"])
    m["scan.input_mb"] = mean(lambda v: sum(q["bytes"] for q in v[5]) / MB)
    m["scan.input_rows"] = mean(lambda v: sum(q["rows"] for q in v[5]))

    grid = [o for o in ops if o["kind"] == "build" and o["error"] is None]
    if grid:
        _, _, sts, _, _ = op_view(grid[0])
        m["derived.daily_grid.build_s"] = grid[0]["wall_s"]
        m["derived.daily_grid.disk_mb"] = grid[0]["facts"]["disk_bytes"] / MB
        m["derived.daily_grid.shuffle_write_mb"] = sum(s["shuffle_write"] for s in sts) / MB
        m["derived.daily_grid.spill_mb"] = sum(s["spill_mem"] + s["spill_disk"] for s in sts) / MB
    else:
        for k in ("build_s", "disk_mb", "shuffle_write_mb", "spill_mb"):
            m[f"derived.daily_grid.{k}"] = 0.0

    pack = [o for o in ops if o["kind"] == "pack" and o["error"] is None]
    if pack:
        tree = subtree(pack[0]["span"])
        m["tensor.pack_s"] = sum(spans[p]["end"] - spans[p]["start"] for p in phase_ids(tree, "pack")) / 1000
        for key, fact in (("tensor.slab_imbalance", "slab_nnz"),
                          ("tensor.hash_imbalance", "hash_slab_nnz")):
            slabs = pack[0]["facts"][fact]
            m[key] = max(slabs) / (sum(slabs) / len(slabs))
    else:
        m["tensor.pack_s"] = m["tensor.slab_imbalance"] = m["tensor.hash_imbalance"] = 0.0
    for name, key in (("cpals", "cpals"), ("skew_cpals", "skew"), ("nnhals", "nnhals")):
        vs = [v for v in views if v[0]["name"] == name]
        job, drv, task, skew = [], [], [], []
        for v in vs:
            it = v[0]["facts"]["iterations"]
            js = union_len([(j["start"], j["end"]) for j in v[2]]) / 1000
            job.append(js / it)
            drv.append((v[0]["wall_s"] - js) / it)
            iter_ids = set()
            for p in phase_ids(v[1], "iterate"):
                iter_ids |= subtree(p)
            iter_jobs = {j["id"] for j in v[2] if j["span"] in iter_ids}
            slab_stages = [s for s in v[3]
                           if stage_job.get(s["id"]) in iter_jobs and s["tasks"] == CPUS]
            task.append(sum(s["max_run_ms"] for s in slab_stages) / 1000 / it)
            skew += [s["max_run_ms"] / max(1, s["median_run_ms"]) for s in slab_stages]
        m[f"tensor.{key}.job_s_per_iter"] = statistics.median(job) if job else 0.0
        m[f"tensor.{key}.driver_s_per_iter"] = statistics.median(drv) if drv else 0.0
        m[f"tensor.{key}.task_s_per_iter"] = statistics.median(task) if task else 0.0
        m[f"tensor.{key}.task_skew"] = statistics.median(skew) if skew else 0.0
    tk = [v for v in views if v[0]["name"] == "tucker"]
    tjob = [union_len([(j["start"], j["end"]) for j in v[2]]) / 1000 for v in tk]
    m["tensor.tucker.job_s"] = statistics.median(tjob) if tjob else 0.0
    m["tensor.tucker.driver_s"] = statistics.median(
        [v[0]["wall_s"] - t for v, t in zip(tk, tjob)]) if tk else 0.0

    m["jvm.heap_peak_mb"] = rec["jvm"]["heap_peak_bytes"] / MB
    m["jvm.driver_gc_s"] = rec["jvm"]["gc_ms"] / 1000

    # Self time per layer: a span's duration minus what its children
    # cover. Planning phases and Spark jobs are children of the span they
    # ran under.
    nodes = [(s["id"], s["parent"], s["layer"], s["start"], s["end"]) for s in rec["spans"]]
    nid = max(spans) + 1
    for j in jobs:
        nodes.append((nid, j["span"], "job", j["start"], j["end"]))
        nid += 1
    for p in plan_phases:
        nodes.append((nid, deepest(p["start"]), "plan", p["start"], p["end"]))
        nid += 1
    children = {}
    for node in nodes:
        children.setdefault(node[1], []).append(node)
    self_by_layer = {}
    for i, _, layer, s0, s1 in nodes:
        cover = union_len([(max(s0, c[3]), min(s1, c[4])) for c in children.get(i, [])
                           if min(s1, c[4]) > max(s0, c[3])])
        self_by_layer[layer] = self_by_layer.get(layer, 0.0) + (s1 - s0) - cover
    total = sum(self_by_layer.values()) or 1.0
    for layer in ("workload", "operation", "phase", "plan", "job"):
        m[f"self.{layer}_share"] = self_by_layer.get(layer, 0.0) / total
    return m


LAYER_UNITS = {"_s": "s", "_mb": "MB", "jobs": "count", "stages": "count", "tasks": "count",
               "rows": "count", "imbalance": "ratio", "skew": "ratio", "share": "ratio",
               "_iter": "s"}


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def run_jvm(run_id, data, workload, seed, seconds, trace, force_failure, legs, deadline_s,
            warmup=()):
    """Runs one workload in a fresh JVM under a fresh scratch root and
    returns its raw record and the launch time. `legs` None means every
    registry leg; `warmup` are registry legs run during set-up. The scratch
    root is removed afterwards."""
    with open(build()) as f:
        classpath = ":".join(line.strip() for line in f if line.strip())
    scratch = os.path.join(OUT, "scratch", run_id)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    if legs is not None:
        with open(os.path.join(scratch, "legs.txt"), "w") as f:
            f.write("\n".join(legs) + "\n")
    if warmup:
        with open(os.path.join(scratch, "warmup.txt"), "w") as f:
            f.write("\n".join(warmup) + "\n")
    raw = os.path.join(scratch, "record.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-cp", classpath, "graft.perfbench.Main", workload, str(seed),
            repr(float(seconds)), str(trace), data, scratch, raw,
            "1" if force_failure else "0"])
    log_path = os.path.join(scratch, "jvm.log")
    launch_s = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=deadline_s)
            except BaseException:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = None
        if rc != 0 or not os.path.exists(raw):
            with open(log_path, errors="replace") as f:
                tail = [l for l in f.readlines() if " INFO " not in l][-60:]
            sys.stderr.write("".join(tail))
            die("the benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"), 4)
        with open(raw) as f:
            return json.load(f), launch_s
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------- run

def dataset():
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    data = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isdir(data):
        die(f"dataset directory {data} not found (set SPARK_GRAFT_SF_DIR)")
    return data


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["registry", "tensors"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--force-failure", action="store_true",
                    help="self-check: add one operation that fails, with a cause chain")
    args = ap.parse_args()

    data = dataset()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    registry = args.workload == "registry"
    legs = registry_sample(expected, args.seed) if registry else None
    rec, launch_s = run_jvm(run_id, data, args.workload, args.seed, args.seconds, args.trace,
                            args.force_failure, legs, DEADLINE_S,
                            warmup_legs(expected) if registry else ())

    ops = rec["ops"]
    failures = []
    for op in ops:
        why = check_op(op, expected)
        op["check"] = why
        if why is not None:
            failures.append(op)
            print(f"FAILED {op['kind']} {op['name']}: {why}", file=sys.stderr)
    attempted, failed = len(ops), len(failures)

    named = named_metrics(rec, ops)
    for key, (value, note) in named.items():
        print(f"{key:<20} {value:.6g}" + (f"  ({note})" if note else ""))
    print(f"{'fail_ratio':<20} {failed / attempted:.6g}  ({failed} of {attempted} operations)")

    # End-to-end figures are kept for traced runs too: the traced/untraced
    # ratio is the tracing overhead.
    e2e = end_to_end(rec, launch_s, ops)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(rec, ops).items()}
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    for k, v in metrics.items():
        print(f"{k:<34} {v['value']:.6g} {v['unit']}")

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(launch_s))
    with open(os.path.join(OUT, "results", f"{run_id}-{stamp}.json"), "w") as f:
        json.dump({"args": vars(args), "result": result,
                   "named": {k: v for k, (v, _) in named.items()},
                   "end_to_end": e2e,
                   "fail_ratio": failed / attempted,
                   "failures": [{"kind": o["kind"], "name": o["name"], "why": o["check"]}
                                for o in failures],
                   "ops": [{k: o[k] for k in ("kind", "name", "stage", "wall_s", "facts", "check")}
                           for o in ops],
                   "spans": rec.get("spans")}, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
