#!/usr/bin/env python3
"""Summarises benchmark runs recorded under perfbench/.out/results/.

    python3 perfbench/summarize.py [--since 20261017T070000] [--json out.json]

For each workload it prints every end-to-end metric of the untraced runs,
the per-layer metrics of the traced runs, and the workload's named figures,
each as n, median, first and third quartile and spread — the distance
between the quartiles as a share of the median, with quartiles as
statistics.quantiles(values, n=4) gives them. The tracing overhead is the
traced runs' median pass_s over the untraced runs' median pass_s, minus one.
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def stats(values):
    values = [v for v in values if v == v]
    if not values:
        return None
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--since", default="", help="only runs launched at or after this UTC stamp")
    ap.add_argument("--json", help="also write the summary to this file")
    args = ap.parse_args()

    runs = []
    for path in sorted(glob.glob(os.path.join(HERE, ".out", "results", "*.json"))):
        if os.path.basename(path).rsplit("-", 1)[-1][:-5] < args.since:
            continue
        with open(path) as f:
            r = json.load(f)
        if not r["args"].get("force_failure"):
            runs.append(r)

    summary = {}
    for wl in sorted({r["args"]["workload"] for r in runs}):
        plain = [r for r in runs if r["args"]["workload"] == wl and not r["args"]["trace"]]
        traced = [r for r in runs if r["args"]["workload"] == wl and r["args"]["trace"]]
        s = {"runs": len(plain), "traced_runs": len(traced),
             "seeds": sorted(r["args"]["seed"] for r in plain),
             "failed": sum(r["result"]["failed"] for r in plain + traced),
             "attempted": sum(r["result"]["attempted"] for r in plain + traced)}
        s["end_to_end"] = {k: stats([r["result"]["metrics"][k]["value"] for r in plain])
                           for k in (plain[0]["result"]["metrics"] if plain else {})}
        s["named"] = {k: stats([r["named"][k] for r in plain]) for k in (plain[0]["named"] if plain else {})}
        if traced:
            s["per_layer"] = {k: stats([r["result"]["metrics"][k]["value"] for r in traced])
                              for k in traced[0]["result"]["metrics"]}
            if plain:
                s["tracing_overhead"] = {
                    k: statistics.median(r["end_to_end"][k] for r in traced)
                    / statistics.median(r["end_to_end"][k] for r in plain) - 1
                    for k in ("pass_s",)}
        summary[wl] = s

        print(f"== {wl}: {s['runs']} untraced runs (seeds {s['seeds']}), {s['traced_runs']} traced, "
              f"{s['failed']} of {s['attempted']} operations failed")
        for group in ("end_to_end", "named", "per_layer"):
            for k, v in s.get(group, {}).items():
                if v:
                    print(f"  {group:<10} {k:<34} n={v['n']:<3} median={v['median']:<12.6g} "
                          f"q1={v['q1']:<12.6g} q3={v['q3']:<12.6g} spread={v['spread']:.3f}")
        for k, v in s.get("tracing_overhead", {}).items():
            print(f"  tracing overhead on {k}: {v:+.3f}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
