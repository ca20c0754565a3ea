#!/usr/bin/env python3
"""Interleaved A/B of one perfbench workload across two checkouts.

Usage: perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W --seeds 1-10
                       [--metric wall_s] [--seconds 10]

Runs `python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
in both checkouts for each seed, as one pair per seed. The side that runs
first alternates from pair to pair, so drift on the machine falls on both
sides alike. Prints each pair's values, each side's median and quartiles,
and how many pairs the change won (lower is better, except for rows_per_s),
then every other metric's median on each side.
For curate_docs it also checks that each seed's recorded corpus digest
(.bench_build/records/*/curate_docs-<seed>-corpus.digest) is equal in the
two checkouts. Exits 1 when a run fails or a digest differs.

--seeds takes a range (1-10), a list (1,3,7) or both (1-10,13).
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HIGHER_IS_BETTER = {"rows_per_s"}


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            seeds.extend(range(int(lo), int(hi) + 1))
        else:
            seeds.append(int(part))
    return seeds


def run(checkout, workload, seed, seconds):
    """One perfbench run; returns its metrics dict, or None on failure."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  run failed in {checkout} (seed {seed}, exit "
              f"{proc.returncode}): {proc.stderr.strip()[-400:]}")
        return None
    result = json.loads(lines[-1])
    if result.get("failed"):
        print(f"  {checkout} seed {seed}: {result['failed']} of "
              f"{result['attempted']} operations failed")
    return {name: m["value"] for name, m in result["metrics"].items()}


def digest(checkout, seed):
    """The corpus digest the checkout recorded for `seed`, or None."""
    found = sorted(glob.glob(os.path.join(
        checkout, ".bench_build", "records", "*",
        f"curate_docs-{seed}-corpus.digest")), key=os.path.getmtime)
    if not found:
        return None
    with open(found[-1]) as f:
        return f.read().strip()


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--metric", default="wall_s")
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    higher = args.metric in HIGHER_IS_BETTER
    runs = {"parent": [], "change": []}
    wins, pairs, ok = 0, 0, True
    print(f"{'seed':>4s} {'first':>6s} {'parent':>10s} {'change':>10s} "
          f"{'change/parent':>13s}   ({args.metric})")
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {s: run(sides[s], args.workload, seed, args.seconds) for s in order}
        if any(m is None or args.metric not in m for m in got.values()):
            ok = False
            continue
        for s in got:
            runs[s].append(got[s])
        p, c = got["parent"][args.metric], got["change"][args.metric]
        pairs += 1
        wins += (c > p) if higher else (c < p)
        line = (f"{seed:4d} {order[0]:>6s} {p:10.4g} {c:10.4g} "
                f"{c / p if p else float('inf'):13.3f}")
        if args.workload == "curate_docs":
            dp, dc = digest(sides["parent"], seed), digest(sides["change"], seed)
            same = dp is not None and dp == dc
            ok &= same
            line += "   digest " + ("equal" if same else f"DIFFERS {dp} {dc}")
        print(line, flush=True)
    if pairs:
        medians = {}
        for side, rs in runs.items():
            q1, medians[side], q3 = quartiles([r[args.metric] for r in rs])
            print(f"{side:>6s}: median {medians[side]:.4g}  q1 {q1:.4g}  "
                  f"q3 {q3:.4g}  iqr {q3 - q1:.4g}")
        mp, mc = medians["parent"], medians["change"]
        print(f"change won {wins} of {pairs} pairs; median change "
              f"{(mc - mp) / mp * 100:+.1f}%")
        for name in sorted(set(runs["parent"][0]) - {args.metric}):
            mp = statistics.median(r[name] for r in runs["parent"])
            mc = statistics.median(r[name] for r in runs["change"])
            print(f"  {name}: median parent {mp:.4g}  change {mc:.4g}")
    sys.exit(0 if ok and pairs else 1)


if __name__ == "__main__":
    main()
