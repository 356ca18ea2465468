#!/usr/bin/env python3
"""A/B the repository benchmark between two checkouts, in alternating pairs.

    python3 tools/ab_pairs.py PARENT_TREE CHANGE_TREE --workload W \
        --seeds A-B [--seconds 15] [--trace 0|1] [--jsonl FILE]

Runs `perfbench/run.py` of each tree once per seed, one pair per seed,
swapping which tree goes first on every pair (parent first on the first
pair), so a drifting host load falls on both sides alike. Each tree
builds into its own `.bench_build/`. For every metric both runs report
it prints the parent's and the change's median and quartiles, the
change/parent ratio of the medians, how many pairs the change won
(direction from the change tree's BENCHMARK.json; `?` when the metric is
not listed there) and whether the gap between the medians exceeds the
parent's interquartile range. Quartiles are the inclusive-method
quartiles of Python's `statistics.quantiles`.

For each end-to-end metric, the last column judges no-regression against
that metric's `bound` in the change tree's BENCHMARK.json: `worse` when
the change's median is worse than the parent's by more than the bound
(as a fraction of the parent's median), `ok` when not, and `unresolved`
when the parent's own spread (IQR over median) exceeds the bound, unless
every change run is better than every parent run.

Each op kind's median latency, as the harness logs it at the end of a
run, is listed too, as `kind.<op>_ms` (direction `?`), so a move of an
end-to-end latency can be traced to the op kinds that moved it.

Exits 1 when any run failed, reported `correct: false` or counted failed
ops; every run still goes ahead, so the table shows what was measured.
"""

import argparse
import json
import os
import re
import statistics
import subprocess
import sys


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range: {text}")
    return list(range(lo, hi + 1))


def benchmark_spec(tree):
    """(metric name -> 'lower'/'higher', end-to-end metric name -> bound)
    from the tree's BENCHMARK.json."""
    path = os.path.join(tree, "BENCHMARK.json")
    if not os.path.isfile(path):
        return {}, {}
    with open(path) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"]
              for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}
    bounds = {m["name"]: m["bound"]
              for m in spec.get("end_to_end", []) if "bound" in m}
    return better, bounds


def regression(ps, cs, pq, cq, sign, bound):
    """No-regression verdict of one end-to-end metric; see the module doc."""
    if min(sign * (p - c) for p in ps for c in cs) > 0:
        return "ok"  # every change run is better than every parent run
    if not pq[1] or (pq[2] - pq[0]) / abs(pq[1]) > bound:
        return "unresolved"
    return "worse" if sign * (pq[1] - cq[1]) / abs(pq[1]) < -bound else "ok"


# the harness's per-kind summary line: "[perfbench +41.2s] search  n=  3
# median=    69.0 ms min=…"
KIND_LINE = re.compile(r"^\[perfbench [^\]]*\] (\S+)\s+n=\s*\d+ median=\s*([\d.]+) ms")


def run(tree, workload, seed, seconds, trace):
    """One benchmark run; (result dict or None, error text). The op kinds'
    median latencies join the result's metrics."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        tail = "\n".join(p.stderr.splitlines()[-20:])
        return None, f"exit {p.returncode}\n{tail}"
    result = json.loads(lines[-1])
    for m in map(KIND_LINE.match, p.stderr.splitlines()):
        if m:
            result.setdefault("metrics", {})[f"kind.{m[1]}_ms"] = float(m[2])
    return result, ""


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_tree")
    ap.add_argument("change_tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range,
                    help="inclusive range A-B, one pair per seed")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--jsonl", help="append every run's result here")
    a = ap.parse_args()

    trees = {"parent": os.path.abspath(a.parent_tree),
             "change": os.path.abspath(a.change_tree)}
    better, bounds = benchmark_spec(trees["change"])
    runs = {"parent": [], "change": []}  # per pair, same order as seeds
    bad = False
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result, err = run(trees[side], a.workload, seed, a.seconds,
                              a.trace)
            runs[side].append(result)
            if result is None:
                bad = True
                print(f"[ab] seed {seed} {side}: run failed: {err}",
                      file=sys.stderr)
                continue
            ok = result.get("correct") and not result.get("failed")
            bad |= not ok
            print(f"[ab] seed {seed} {side}: correct={result.get('correct')} "
                  f"failed={result.get('failed')}/{result.get('attempted')}",
                  file=sys.stderr, flush=True)
            if a.jsonl:
                with open(a.jsonl, "a") as f:
                    f.write(json.dumps({"seed": seed, "side": side,
                                        "tree": trees[side],
                                        "result": result}) + "\n")

    def values(result):
        return {k: v["value"] if isinstance(v, dict) else v
                for k, v in result["metrics"].items()}
    pairs = [(values(p), values(c))
             for p, c in zip(runs["parent"], runs["change"]) if p and c]
    names = sorted({k for pm, cm in pairs for k in pm if k in cm})
    print(f"{a.workload}: {len(pairs)} complete pairs, seeds "
          f"{a.seeds[0]}-{a.seeds[-1]}")
    print(f"{'metric':32} {'parent med [q1, q3]':>30} "
          f"{'change med [q1, q3]':>30} {'ratio':>7} {'wins':>6} gap>IQR "
          f"bound")
    for name in names:
        both = [(pm[name], cm[name]) for pm, cm in pairs
                if name in pm and name in cm]
        ps, cs = [x for x, _ in both], [y for _, y in both]
        pq, cq = quartiles(ps), quartiles(cs)
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        way = better.get(name)
        verdict = ""
        if way is None:
            wins, gap = "?", "?"
        else:
            sign = 1 if way == "lower" else -1
            wins = f"{sum(sign * (x - y) > 0 for x, y in both)}/{len(both)}"
            gap = "yes" if sign * (pq[1] - cq[1]) > pq[2] - pq[0] else "no"
            if name in bounds:
                verdict = regression(ps, cs, pq, cq, sign, bounds[name])

        def fmt(q):
            return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:32} {fmt(pq):>30} {fmt(cq):>30} {ratio:7.3f} "
              f"{wins:>6} {gap:7} {verdict}")
    if bad:
        print("[ab] at least one run failed or was not correct",
              file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
