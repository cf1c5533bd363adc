#!/usr/bin/env python3
"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json ...

Each file is a full result as perfbench/run.py keeps it
(.bench_out/result-<workload>-<seed>-t<trace>.json). For every workload and
every end-to-end metric it prints the median and quartiles of each side and
flags a regression when the new median is worse than the base median by more
than the metric's bound in BENCHMARK.json. For the catalog workload it also
prints each query's ratio of median times (new / base), flags any query more
than 1.3x slower, and says whether the query's plan hash changed.

Comparing untraced runs (base) with traced runs (new) of the same seeds
gives the tracing overhead.

Exit code 1 when anything is flagged.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
QUERY_SLOWDOWN = 1.3


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def load(paths):
    """workload -> list of result dicts."""
    by = defaultdict(list)
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        by[r["workload"]].append(r)
    return by


def per_query(runs):
    """query -> (median seconds over runs, set of plan hashes)."""
    times, hashes = defaultdict(list), defaultdict(set)
    for r in runs:
        for q in r.get("notes", {}).get("per_query", []):
            times[q["query"]].append(q["median_s"])
            if q.get("plan_hash"):
                hashes[q["query"]].add(q["plan_hash"])
    return {q: (statistics.median(t), hashes[q]) for q, t in times.items()}


def compare(base, new, spec):
    """Returns (report lines, flags)."""
    lines, flags = [], []
    for w in sorted(set(base) & set(new)):
        lines.append(f"== {w}: {len(base[w])} base runs, {len(new[w])} new runs")
        for m in spec["end_to_end"]:
            name = m["name"]
            a = [r["e2e"][name]["value"] for r in base[w] if name in r["e2e"]]
            b = [r["e2e"][name]["value"] for r in new[w] if name in r["e2e"]]
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            if m["better"] == "lower":
                worse = qb[1] > qa[1] * (1 + m["bound"])
            else:
                worse = qb[1] < qa[1] * (1 - m["bound"])
            ratio = qb[1] / qa[1] if qa[1] else float("inf")
            flag = "  REGRESSION" if worse else ""
            lines.append(
                f"  {name:16s} base {qa[1]:12.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                f"  new {qb[1]:12.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
                f"  x{ratio:.3f} (bound {m['bound']}, {m['better']} is better){flag}")
            if worse:
                flags.append(f"{w} {name}")
        qa, qb = per_query(base[w]), per_query(new[w])
        common = sorted(set(qa) & set(qb))
        if common:
            lines.append(f"  per query (new/base median time; flag > {QUERY_SLOWDOWN}x):")
            ratios = []
            for q in common:
                ratio = qb[q][0] / qa[q][0]
                ratios.append(ratio)
                plan = ("plan changed" if qa[q][1] and qb[q][1] and qa[q][1] != qb[q][1]
                        else "plan same")
                flag = "  SLOWER" if ratio > QUERY_SLOWDOWN else ""
                lines.append(f"    {q:36s} {qa[q][0]:8.3f}s -> {qb[q][0]:8.3f}s"
                             f"  x{ratio:.3f}  {plan}{flag}")
                if ratio > QUERY_SLOWDOWN:
                    flags.append(f"{w} {q}")
            geo = statistics.geometric_mean(ratios)
            lines.append(f"    geomean ratio x{geo:.3f} over {len(common)} queries")
    return lines, flags


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.spec) as f:
        spec = json.load(f)
    lines, flags = compare(load(a.base), load(a.new), spec)
    print("\n".join(lines))
    print(f"flagged: {len(flags)}" + ("" if not flags else " (" + ", ".join(flags) + ")"))
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
