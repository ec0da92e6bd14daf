#!/usr/bin/env python3
"""Same-window A/B of two checkouts on one perfbench workload.

    python3 tools/perf_ab.py PARENT_DIR CHANGE_DIR --workload brc_text --pairs 10

Runs `python3 perfbench/run.py` in each checkout, alternating (the order
flips every pair, so a drifting host favours neither side), and reads only
the last stdout line of each run, the JSON object run.py prints. It prints
every pair's metrics, then per metric each side's median and quartiles,
the median delta, the spread of the parent's runs (the distance between
its quartiles) and how many pairs the change won, ties counting for
neither. A metric's direction ("better": lower or higher) comes from
CHANGE_DIR's BENCHMARK.json. --json FILE keeps the raw runs. The first run
in a checkout also builds it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, a):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    # the build, data generation and JVM start, then the timed seconds
    timeout = 1200 + 3 * a.seconds
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit(f"perf_ab: no JSON line from {checkout} (rc {p.returncode}):\n{p.stderr[-2000:]}")
    return {"correct": out["correct"], "failed": out["failed"], "attempted": out["attempted"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()}}


def directions(checkout):
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        b = json.load(f)
    return {m["name"]: m["better"] for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--json", help="write the raw runs here")
    a = p.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    better = directions(sides["change"])

    pairs = []
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {side: run(sides[side], a) for side in order}
        pairs.append(pair)
        for side in ("parent", "change"):
            r = pair[side]
            vals = " ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items()))
            print(f"pair {i + 1:2d} {side:6s} correct={str(r['correct']).lower()} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)

    names = sorted(set.intersection(*(set(pr[s]["metrics"]) for pr in pairs for s in sides)))
    print(f"\n{'metric':31s} {'better':6s} {'parent median [quartiles]':>32s} "
          f"{'change median [quartiles]':>32s} {'delta':>7s} {'parent IQR':>10s} {'won':>6s}")
    summary = {}
    for k in names:
        pa = [pr["parent"]["metrics"][k] for pr in pairs]
        ch = [pr["change"]["metrics"][k] for pr in pairs]
        d = better.get(k, "lower")
        won = sum((c < q) if d == "lower" else (c > q) for q, c in zip(pa, ch))
        mp, mc = statistics.median(pa), statistics.median(ch)
        (p1, p3), (c1, c3) = quartiles(pa), quartiles(ch)
        delta = (mc - mp) / mp if mp else 0.0
        summary[k] = dict(better=d, parent=mp, parent_q=[p1, p3], change=mc, change_q=[c1, c3],
                          delta=delta, parent_iqr=p3 - p1, won=won)
        print(f"{k:31s} {d:6s} {f'{mp:.5g} [{p1:.5g}, {p3:.5g}]':>32s} "
              f"{f'{mc:.5g} [{c1:.5g}, {c3:.5g}]':>32s} {delta:+7.1%} {p3 - p1:10.4g} "
              f"{won:3d}/{len(pairs)}")
    wrong = sum(not pr[s]["correct"] for pr in pairs for s in sides)
    print(f"\nruns with a wrong answer or a failed operation: {wrong}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"args": vars(a), "pairs": pairs, "summary": summary}, f, indent=1)
    sys.exit(1 if wrong else 0)


if __name__ == "__main__":
    main()
