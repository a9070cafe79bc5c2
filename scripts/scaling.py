#!/usr/bin/env python3
"""Scaling-curve harness (VERDICT r4 items #2/#7).

Modes:
  table  <bench_sf0.001.json> <bench_sf0.01.json> <bench_sf0.1.json>
      Per-family wall-time-vs-sf markdown table with the fitted growth
      exponent over the top decade (sf0.01 -> sf0.1, where data cost
      dominates constant Spark overhead), plus per-query outliers:
      super-linear growth (exponent > 1.3) with non-trivial absolute
      time (> 1s at sf0.1).

  budget <bench.json> <budget.json>
      Write per-family budgets = 3x the measured family totals (and 3x
      the tensor-leg timings). Run on a quiet machine at sf0.001.

  check  <bench.json> <budget.json>
      Exit non-zero if any family exceeds its committed budget — the CI
      tripwire that catches an accidentally super-linear rewrite (the
      Q99 HOF class of bug) at the seconds-cheap sf0.001 tier. Also exit
      non-zero if a budgeted family or leg is missing from the run or the
      run reports failed legs (`n_failed` > 0): a failed leg is left out
      of the timings, so it would otherwise pass as a fast one.

  minmerge <out.json> <bench.json> [bench.json ...]
      Per-query minimum across independent full-session runs. A long GC
      or I/O stall inside one session can span all three protocol runs
      of whichever query it lands on (observed: a 9x one-off on a query
      that re-measures at 1x in the next session and in isolation); the
      cross-session minimum is the standard noise-robust estimator.
      `failed` / `n_failed` become the union over the runs.

  rows   <log> [log ...]
      Per-family table of the leg rows (`{"leg"...}` lines) that Bench
      prints: wall seconds, spill and shuffle write per family, the
      slowest legs and the failed ones. A later row of a leg wins, so a
      clean re-measure in a later log supersedes an earlier error.

The query -> family mapping is parsed from the operator sources (each
operators/*.scala registers its own queries), so new gates land in the
right family without touching this script.
"""
import glob
import json
import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def family_map():
    """Parse '"Qnn" ->' registrations out of each operators/*.scala."""
    fams = {}
    for path in sorted(glob.glob(f"{REPO}/src/main/scala/graft/operators/*.scala")):
        fam = os.path.basename(path)[:-len(".scala")]
        with open(path) as f:
            src = f.read()
        for q in re.findall(r'"(Q[0-9]+b?)"\s*->', src):
            fams[q] = fam
    return fams


def build_legs(bench):
    """The artifact build legs: every `*_build` key of a bench line."""
    return [k for k in bench if k.endswith("_build")]


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip())


def family_totals(bench):
    fams = family_map()
    tot = {}
    missing = []
    for q, sec in bench["queries"].items():
        if sec is None or sec < 0:
            continue
        fam = fams.get(q)
        if fam is None:
            missing.append(q)
            continue
        tot[fam] = tot.get(fam, 0.0) + sec
    if missing:
        print(f"WARN: queries with no source family: {sorted(missing)}",
              file=sys.stderr)
    # Tensor/bench legs keyed by their JSON field. Stdout flattens each leg
    # to its bare headline number (tail-size budget, VERDICT r7 #8) while
    # docs/BENCH_LAST.json keeps the full object — accept both.
    for leg, field in (("cpals", "sec_per_iter"), ("nnhals", "sec_per_iter"),
                       ("tucker", "sec")):
        v = bench.get(leg, {})
        if isinstance(v, dict):
            v = v.get(field, -1)
        if isinstance(v, (int, float)) and v > 0:
            tot[f"leg:{leg}"] = v
    for legname in build_legs(bench):
        if bench[legname] > 0:
            tot[f"leg:{legname}"] = bench[legname]
    return tot


def cmd_table(paths):
    benches = [load(p) for p in paths]
    sfs = [0.001, 0.01, 0.1]
    fams = family_map()
    # Per-family totals at each tier.
    tiers = [family_totals(b) for b in benches]
    names = sorted(set().union(*[t.keys() for t in tiers]))
    print("| family | sf0.001 s | sf0.01 s | sf0.1 s | exp (0.01→0.1) |")
    print("|---|---|---|---|---|")
    grand = [0.0, 0.0, 0.0]
    for name in names:
        ts = [t.get(name, float("nan")) for t in tiers]
        for i, v in enumerate(ts):
            if not math.isnan(v) and not name.startswith("leg:"):
                grand[i] += v
        if ts[1] and ts[1] > 0 and ts[2] and ts[2] > 0:
            exp = math.log10(ts[2] / ts[1])
        else:
            exp = float("nan")
        print(f"| {name} | {ts[0]:.2f} | {ts[1]:.2f} | {ts[2]:.2f} | {exp:+.2f} |")
    print(f"| **all queries** | **{grand[0]:.1f}** | **{grand[1]:.1f}** "
          f"| **{grand[2]:.1f}** | "
          f"**{math.log10(grand[2]/grand[1]):+.2f}** |")
    # Per-query outliers over the top decade.
    print()
    print("Super-linear outliers (exponent > 1.3 over sf0.01→sf0.1 AND "
          "> 1s at sf0.1):")
    q1, q2 = benches[1]["queries"], benches[2]["queries"]
    out = []
    for q, t_hi in q2.items():
        t_lo = q1.get(q, -1)
        if t_lo and t_lo > 0 and t_hi and t_hi > 1.0:
            exp = math.log10(t_hi / t_lo)
            if exp > 1.3:
                out.append((exp, q, fams.get(q, "?"), t_lo, t_hi))
    if not out:
        print("  (none)")
    for exp, q, fam, t_lo, t_hi in sorted(out, reverse=True):
        print(f"  {q} ({fam}): {t_lo:.2f}s -> {t_hi:.2f}s  exp={exp:+.2f}")


def cmd_budget(bench_path, budget_path):
    tot = family_totals(load(bench_path))
    budget = {k: round(3.0 * v, 3) for k, v in sorted(tot.items())}
    with open(budget_path, "w") as f:
        json.dump(budget, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(budget)} family budgets (3x measured) to {budget_path}")


def cmd_check(bench_path, budget_path):
    bench = load(bench_path)
    tot = family_totals(bench)
    budget = load(budget_path)
    bad = []
    for fam, cap in sorted(budget.items()):
        v = tot.get(fam)
        if v is None:
            print(f"MISS {fam}: in budget but not in bench run")
            bad.append(fam)
            continue
        status = "OK" if v <= cap else "OVER"
        print(f"{status:4} {fam}: {v:.2f}s (budget {cap:.2f}s)")
        if v > cap:
            bad.append(fam)
    new = sorted(set(tot) - set(budget))
    if new:
        print(f"WARN: families with no budget yet (re-run budget mode): {new}",
              file=sys.stderr)
    n_failed = bench.get("n_failed", 0)
    if n_failed > 0:
        print(f"FAIL: the run reports {n_failed} failed leg(s): "
              f"{bench.get('failed', '(see the run log)')}", file=sys.stderr)
    if bad:
        print(f"FAIL: {len(bad)} famil{'y' if len(bad)==1 else 'ies'} over "
              f"budget or missing: {bad}", file=sys.stderr)
    if bad or n_failed > 0:
        sys.exit(1)
    print(f"== {len(budget)} families within budget ==")


def cmd_minmerge(out_path, paths):
    benches = [load(p) for p in paths]
    merged = dict(benches[0])
    qs = {}
    for q in benches[0]["queries"]:
        vals = [b["queries"].get(q, -1) for b in benches]
        vals = [v for v in vals if v is not None and v > 0]
        qs[q] = min(vals) if vals else -1
    merged["queries"] = qs
    merged["value"] = sum(v for v in qs.values() if v > 0)
    for leg, field in (("cpals", "sec_per_iter"), ("nnhals", "sec_per_iter"),
                       ("tucker", "sec")):
        vals = [b.get(leg, {}) for b in benches]
        vals = [v for v in vals if isinstance(v, dict) and v.get(field, -1) > 0]
        if vals:
            merged[leg] = min(vals, key=lambda v: v[field])
    for leg in build_legs(merged):
        vals = [b.get(leg, -1) for b in benches]
        vals = [v for v in vals if v and v > 0]
        merged[leg] = min(vals) if vals else -1
    failed = []
    for b in benches:
        failed += [leg for leg in b.get("failed", []) if leg not in failed]
    merged["failed"] = failed
    merged["n_failed"] = len(failed)
    with open(out_path, "w") as f:
        json.dump(merged, f)
        f.write("\n")
    print(f"min-merged {len(paths)} runs -> {out_path}")


def cmd_rows(paths):
    fams = family_map()
    byleg = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith('{"leg"'):
                    try:
                        d = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    byleg[d["leg"]] = d
    rows = [d for d in byleg.values() if "error" not in d]
    errors = [d for d in byleg.values() if "error" in d]
    agg = {}
    for r in rows:
        leg = r["leg"]
        fam = fams.get(leg, "build" if leg.endswith("_build")
                       else "tensor" if leg in ("cpals", "nnhals", "tucker") else "?")
        a = agg.setdefault(fam, dict(n=0, sec=0.0, spill=0.0, shuf=0.0, worst=(0.0, "")))
        a["n"] += 1
        a["sec"] += r["sec"]
        a["spill"] += r["spill_mem_mb"] + r["spill_disk_mb"]
        a["shuf"] += r["shuffle_write_mb"]
        if r["sec"] > a["worst"][0]:
            a["worst"] = (r["sec"], leg)
    print("| family | legs | total s | spill GB | shuffle-w GB | slowest leg |")
    print("|---|---|---|---|---|---|")
    for fam in sorted(agg):
        a = agg[fam]
        print(f"| {fam} | {a['n']} | {a['sec']:.1f} | {a['spill']/1024:.1f} "
              f"| {a['shuf']/1024:.1f} | {a['worst'][1]} ({a['worst'][0]:.1f} s) |")
    tot = sum(a["sec"] for a in agg.values())
    print(f"| **all** | {sum(a['n'] for a in agg.values())} | **{tot:.1f}** | "
          f"{sum(a['spill'] for a in agg.values())/1024:.1f} | "
          f"{sum(a['shuf'] for a in agg.values())/1024:.1f} | |")
    print()
    print("Slowest 12 legs:")
    for r in sorted(rows, key=lambda r: -r["sec"])[:12]:
        print(f"  {r['leg']} ({fams.get(r['leg'], '?')}): {r['sec']:.1f} s, "
              f"spill {(r['spill_mem_mb'] + r['spill_disk_mb'])/1024:.1f} GB")
    if errors:
        print()
        print("Errored legs:")
        for d in errors:
            print(f"  {d['leg']}: {d['error'][:110]}")


def main():
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    mode = sys.argv[1]
    if mode == "table":
        cmd_table(sys.argv[2:5])
    elif mode == "budget":
        cmd_budget(sys.argv[2], sys.argv[3])
    elif mode == "check":
        cmd_check(sys.argv[2], sys.argv[3])
    elif mode == "minmerge":
        cmd_minmerge(sys.argv[2], sys.argv[3:])
    elif mode == "rows":
        cmd_rows(sys.argv[2:])
    else:
        print(__doc__)
        sys.exit(2)


main()
