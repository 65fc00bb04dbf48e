#!/usr/bin/env python3
"""Summarise or compare perfbench artifacts (the JSON files run.py writes to
<build dir>/perfbench/results/).

    python3 perfbench/compare.py A.json B.json ...          # median and quartiles
    python3 perfbench/compare.py --base A*.json --new B*.json  # regression check

Artifacts whose configuration differs (workload, cpus, driver memory, Spark,
Java, data, run length, traced mode) are refused, and so is any file that
is not a perfbench artifact, such as graft.Bench's BENCH_*.json or a
baseline taken at another core count. Exit code: 0 fine, 1 regression,
2 refused.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def bounds():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["end_to_end"]}


def load(paths):
    arts = []
    for p in paths:
        with open(p) as fh:
            try:
                arts.append(json.load(fh))
            except json.JSONDecodeError as e:
                raise stats.ConfigMismatch(f"{p}: not JSON ({e})")
    return arts


def by_workload(arts):
    groups = {}
    for a in arts:
        groups.setdefault(a["config"]["workload"], []).append(a)
    for w, group in groups.items():
        stats.check_comparable(group)
    return groups


def summary(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    return stats.quartiles(values)


def describe(arts):
    for w, group in sorted(by_workload(arts).items()):
        print(f"{w}: {len(group)} runs, seeds {sorted(a['config']['seed'] for a in group)}")
        for k in group[0]["end_to_end"]:
            vals = [a["end_to_end"][k] for a in group]
            q1, med, q3 = summary(vals)
            print(f"  {k:<12} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {stats.spread(vals) if len(vals) > 1 else 0:.3f}")
        steal = [a["noise"]["host.steal_pct"] for a in group]
        print(f"  host.steal_pct median {statistics.median(steal):.2f}  max {max(steal):.2f}")


def compare(base, new):
    gb, gn = by_workload(base), by_workload(new)
    for w in gb:
        if w in gn:
            stats.check_comparable([gb[w][0], gn[w][0]])
    spec = bounds()
    regress = False
    for w in sorted(gb):
        if w not in gn:
            continue
        for k, m in spec.items():
            b = [a["end_to_end"][k] for a in gb[w]]
            n = [a["end_to_end"][k] for a in gn[w]]
            bq1, bmed, bq3 = summary(b)
            _, nmed, _ = summary(n)
            change = (nmed - bmed) / bmed if m["better"] == "lower" else (bmed - nmed) / bmed
            if (bq3 - bq1) / bmed > m["bound"] and not (max(n) < min(b) if m["better"] == "lower"
                                                         else min(n) > max(b)):
                verdict = "unresolved"
            elif change > m["bound"]:
                verdict, regress = "REGRESSION", True
            else:
                verdict = "ok"
            print(f"{w:<14} {k:<12} base {bmed:10.4f}  new {nmed:10.4f}  "
                  f"worse by {change:+.3f} (bound {m['bound']})  {verdict}")
    return 1 if regress else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("files", nargs="*")
    ap.add_argument("--base", nargs="+")
    ap.add_argument("--new", nargs="+")
    a = ap.parse_args()
    try:
        if a.base or a.new:
            if not (a.base and a.new):
                ap.error("--base and --new go together")
            return compare(load(a.base), load(a.new))
        describe(load(a.files))
        return 0
    except stats.ConfigMismatch as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
