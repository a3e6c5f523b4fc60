#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent and a change.

    python3 perfbench/compare.py PARENT CHANGE

Each side is a directory of run records (as `run.py` keeps them under
`.bench_build/results/`) or a file of captured `run.py` stdout. For every
workload and end-to-end metric it prints each side's median and
quartiles, the share of run pairs the change wins and whether the
difference is unresolved (choosing-metrics §8: a gain or loss counts only
when one side wins at least nine tenths of the pairs and the medians
differ by more than the parent's interquartile distance). From traced
runs it ranks the layers by the change in their median self time.
"""
import json
import os
import statistics
import sys

PB = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, PB)
from pb import stats  # noqa: E402


def higher_is_better():
    """End-to-end metrics BENCHMARK.json marks `"better": "higher"`."""
    with open(os.path.join(os.path.dirname(PB), "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)["end_to_end"] if m["better"] == "higher"}


def load(path):
    """Run records from a results directory or a captured stdout file,
    in the order they were made."""
    recs = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".json"):
                with open(os.path.join(path, name)) as f:
                    recs.append(json.load(f))
    else:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith('{"record"'):
                    recs.append(json.loads(line)["record"])
    return recs


def by_workload(recs, trace):
    out = {}
    for r in recs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def stamp_line(recs):
    s = [r["stamp"] for r in recs]
    commits = sorted({x["commit"] for x in s})
    loads = [x["loadavg_before"][0] for x in s if x.get("loadavg_before")]
    return (f"commit {','.join(c[:12] for c in commits)}, nproc {s[0]['nproc']}, "
            f"heap {s[0]['heap']}, spark {s[0]['spark_version']}, "
            f"loadavg before {min(loads, default=0):.2f}..{max(loads, default=0):.2f}")


def main(parent_path, change_path):
    parent, change = load(parent_path), load(change_path)
    if not parent or not change:
        print("compare: no run records on one side", file=sys.stderr)
        return 2
    print(f"parent: {len(parent)} runs, {stamp_line(parent)}")
    print(f"change: {len(change)} runs, {stamp_line(change)}")
    higher = higher_is_better()
    p_runs, c_runs = by_workload(parent, 0), by_workload(change, 0)
    for w in sorted(set(p_runs) & set(c_runs)):
        pr, cr = p_runs[w], c_runs[w]
        print(f"\n{w}  (parent {len(pr)} runs, change {len(cr)} runs; "
              f"failed {sum(r['failed'] for r in pr)}/{sum(r['attempted'] for r in pr)} "
              f"vs {sum(r['failed'] for r in cr)}/{sum(r['attempted'] for r in cr)})")
        print(f"  {'metric':<14}{'parent median [q1, q3]':>32}{'change median [q1, q3]':>32}"
              f"{'delta':>9}{'won':>6}  verdict")
        for m in pr[0]["end_to_end"]:
            res = stats.compare([r["end_to_end"][m] for r in pr],
                                [r["end_to_end"][m] for r in cr],
                                lower_is_better=m not in higher)
            p, c = res["parent"], res["change"]
            verdict = "unresolved" if res["unresolved"] else (
                "better" if res["won"] >= 0.9 else "worse")
            print(f"  {m:<14}{p['median']:>12.4f} [{p['q1']:.4f}, {p['q3']:.4f}]"
                  f"{c['median']:>12.4f} [{c['q1']:.4f}, {c['q3']:.4f}]"
                  f"{100 * (res['delta_frac'] or 0):>8.1f}%{res['won']:>6.2f}  {verdict}")

    pt, ct = by_workload(parent, 1), by_workload(change, 1)
    for w in sorted(set(pt) & set(ct)):
        print(f"\n{w} traced: per-layer self time, median per pass "
              f"(parent {len(pt[w])} runs, change {len(ct[w])} runs), largest change first")
        rows = []
        for m in pt[w][0]["per_layer"]:
            if not m.startswith("self."):
                continue
            a = statistics.median(r["per_layer"][m][0] for r in pt[w])
            b = statistics.median(r["per_layer"][m][0] for r in ct[w])
            if a or b:
                rows.append((b - a, m, a, b))
        for d, m, a, b in sorted(rows, key=lambda x: -abs(x[0])):
            print(f"  {m:<34}{a:>10.4f} s{b:>10.4f} s{d:>+10.4f} s")
        a, b = (statistics.median(r["per_layer"]["trace.overhead_frac"][0] for r in side)
                for side in (pt[w], ct[w]))
        print(f"  {'trace.overhead_frac':<34}{a:>10.4f}  {b:>10.4f}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
