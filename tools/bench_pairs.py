#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent commit and a change.

Usage:
    tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A..B

For each seed in A..B (inclusive) this runs `python3 bench/run.py
--workload W --seed N --seconds S --trace 0` once in each checkout (S is the
`run_seconds` of the parent's BENCHMARK.json), alternating which side runs
first, and then prints, for every end-to-end metric in BENCHMARK.json: each side's median and quartiles, the ratio of
the medians, the range of the per-pair ratios, the pairs the change won
(k/n; ties count for neither side) and a verdict against the metric's
`bound`: `within bound` or `WORSE than bound` by the ratio of the medians,
or `unresolved` when the parent's own spread (IQR / median) exceeds the
bound, unless every change run beats every parent run. A run that is not
`correct` or has a failed op is reported and makes the exit status 1. The
benchmark itself is only run, never modified.

Create the two checkouts with `git worktree add DIR COMMIT` or `git clone`,
never with `cp -r` of a built tree: sbt's incremental-compile state in
`target/` holds absolute paths, so a copied `target/` makes a build in the
copy rewrite the classes of the source tree.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """(stamp, result) of one bench run; the last two stdout lines."""
    cmd = [sys.executable, "bench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"bench_pairs: run failed in {checkout} (seed {seed}, "
                         f"exit {p.returncode})")
    return json.loads(lines[-2]).get("stamp", {}), json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, bound, lower):
    """`within bound`, `WORSE than bound` or `unresolved` for one metric."""
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    beats_all = max(change) < min(parent) if lower else min(change) > max(parent)
    if pm and (q3 - q1) / pm > bound and not beats_all:
        return "unresolved"
    worse = (cm / pm - 1 if lower else 1 - cm / pm) if pm else 0.0
    return "WORSE than bound" if worse > bound else "within bound"


def seed_range(text):
    a, _, b = text.partition("..")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A..B, inclusive")
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    sides = {"parent": args.parent, "change": args.change}
    vals = {side: {m["name"]: [] for m in metrics} for side in sides}
    bad = 0
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            stamp, res = run_once(sides[side], args.workload, seed, seconds)
            ok = res.get("correct") and res.get("failed", 1) == 0
            bad += not ok
            for m in metrics:
                vals[side][m["name"]].append(res["metrics"][m["name"]]["value"])
            print(f"seed {seed} {side:6s} load {stamp.get('loadavg_launch', ['?'])[0]:>5s} "
                  f"pass_s {res['metrics']['pass_s']['value']:.3f}"
                  + ("" if ok else f"  NOT OK: correct={res.get('correct')} "
                                   f"failed={res.get('failed')}"), flush=True)

    n = len(args.seeds)
    print(f"\n{args.workload}, {n} pairs; ratio = change / parent")
    print(f"{'metric':18s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s} "
          f"{'ratio':>7s} {'pair ratios':>15s} {'wins':>6s}  verdict (bound)")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p, c = vals["parent"][name], vals["change"][name]
        pm, cm = statistics.median(p), statistics.median(c)
        ratios = [b / a for a, b in zip(p, c) if a]
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))

        def show(xs, med):
            q1, q3 = quartiles(xs)
            return f"{med:.3f} [{q1:.3f}, {q3:.3f}]"
        print(f"{name:18s} {show(p, pm):>30s} {show(c, cm):>30s} "
              f"{cm / pm if pm else float('nan'):7.3f} "
              f"{min(ratios):7.3f}-{max(ratios):.3f} {wins:>3d}/{n}  "
              f"{verdict(p, c, m['bound'], lower)} ({m['bound']})")
    if bad:
        print(f"\n{bad} run(s) not correct or with failed ops", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
