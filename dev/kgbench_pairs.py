#!/usr/bin/env python3
"""Alternated before/after runs of one kgbench workload.

Usage:

    python3 dev/kgbench_pairs.py BASE CHANGE --workload kg_batch --seeds 11-20

BASE and CHANGE are two checkouts of this repository (for the parent
commit, `git archive <rev> | tar -x -C <dir>`). For each seed the
script runs `python3 kgbench/run.py --workload W --seed S --seconds N
--trace 0` once in each checkout, in alternated order: base first on
even pairs, change first on odd ones. N is BASE's `BENCHMARK.json`
`run_seconds`, so both sides run for the same length. Each run's
metrics go to stderr as it finishes.

A run is bad if it does not finish, is not correct, or fails an
operation. The script prints each side's bad runs and failed
operations, then, for every end-to-end metric BASE's `BENCHMARK.json`
declares: each side's median and quartiles over its good runs, the
pairs the change won, whether the change's median is worse than the
parent's by more than the metric's bound (relative to the parent's
median), and whether a gain is shown. A pair counts as won only when
both runs are good and the change's value is better; ties, and pairs
with a bad run, count for neither side. A gain needs at least nine
tenths of all pairs run won, a median gap in the better direction
larger than the parent's interquartile range, and no more bad runs
or failed operations on the change than on the parent.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    """The result JSON of one untraced run, or None if it did not finish."""
    cmd = [sys.executable, os.path.join("kgbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def good(res):
    return res is not None and res.get("correct") is True and res.get("failed", 1) == 0


def value(res, name):
    """The metric's value in a good run, else None."""
    return res["metrics"].get(name, {}).get("value") if good(res) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,3,5-7")
    a = ap.parse_args()

    with open(os.path.join(a.base, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    pairs = []  # {"seed": S, "base": result or None, "change": result or None}
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("base", a.base), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {"seed": seed}
        for side, checkout in order:
            res = got[side] = run(checkout, a.workload, seed, seconds)
            shown = {m["name"]: res["metrics"].get(m["name"], {}).get("value")
                     for m in metrics} if res else "did not finish"
            print(f"seed {seed} {side}: {'ok' if good(res) else 'BAD'} {shown}",
                  file=sys.stderr, flush=True)
        pairs.append(got)

    bad = {side: [p["seed"] for p in pairs if not good(p[side])]
           for side in ("base", "change")}
    failed = {side: sum(p[side].get("failed", 0) for p in pairs if p[side] is not None)
              for side in ("base", "change")}
    steady = len(bad["change"]) <= len(bad["base"]) and failed["change"] <= failed["base"]
    print(f"{a.workload}: {len(pairs)} pairs, seeds {a.seeds}, --seconds {seconds}")
    for side in ("base", "change"):
        print(f"{side}: {len(bad[side])} bad runs {bad[side]}, "
              f"{failed[side]} failed operations")
    print(f"{'metric':<14} {'base median (q1-q3)':>28} {'change median (q1-q3)':>28} "
          f"{'won':>6} {'regress':>8} {'gain':>5}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(value(p["base"], name), value(p["change"], name)) for p in pairs]
        base = [x for x, _ in got if x is not None]
        chg = [y for _, y in got if y is not None]
        if not base or not chg:
            print(f"{name:<14} (not reported)")
            continue
        won = sum(1 for x, y in got if x is not None and y is not None
                  and (y < x if lower else y > x))
        bmed, cmed = statistics.median(base), statistics.median(chg)
        (bq1, bq3), (cq1, cq3) = quartiles(base), quartiles(chg)
        gap = (bmed - cmed) if lower else (cmed - bmed)
        regress = -gap > m["bound"] * abs(bmed)
        gain = steady and won >= 0.9 * len(pairs) and gap > bq3 - bq1
        print(f"{name:<14} {f'{bmed:.5g} ({bq1:.5g}-{bq3:.5g})':>28} "
              f"{f'{cmed:.5g} ({cq1:.5g}-{cq3:.5g})':>28} "
              f"{f'{won}/{len(pairs)}':>6} {'yes' if regress else 'no':>8} "
              f"{'yes' if gain else 'no':>5}")


if __name__ == "__main__":
    main()
