#!/usr/bin/env python3
"""Compare two bench_full JSON records (per-query min/median spread).

Usage: bench_compare.py OLD.json NEW.json [--key min|median | --key=min|median]

OLD/NEW accept either the compact driver record (queries = scalar
seconds) or the full record (spread = {min, median, max} per query).
Prints per-query old/new/ratio sorted by ratio, plus shared-query
totals — the round-over-round adjudication table SURVEY §6 records.
"""
import json
import sys


def load(path, key):
    with open(path) as f:
        rec = json.loads(f.read().strip().splitlines()[-1])
    if "parsed" in rec:  # driver wrapper (BENCH_r{N}.json): medians only
        rec = rec["parsed"]
    if "spread" in rec:
        return {q: v[key] for q, v in rec["spread"].items() if v["min"] >= 0}
    return {q: v for q, v in rec["queries"].items() if v >= 0}


def main():
    args, key = [], "min"
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--key":
            key = next(it, key)
        elif a.startswith("--key="):
            key = a.split("=", 1)[1]
        else:
            args.append(a)
    old, new = load(args[0], key), load(args[1], key)
    shared = sorted(set(old) & set(new))
    rows = [(q, old[q], new[q], new[q] / old[q] if old[q] > 0 else float("inf"))
            for q in shared]
    rows.sort(key=lambda r: -r[3])
    print(f"{'query':34s} {'old':>8s} {'new':>8s} {'ratio':>7s}   ({key})")
    for q, o, n, r in rows:
        flag = " <-- " if r > 1.15 or r < 0.85 else ""
        print(f"{q:34s} {o:8.3f} {n:8.3f} {r:7.2f}{flag}")
    to, tn = sum(old[q] for q in shared), sum(new[q] for q in shared)
    print(f"\nshared {len(shared)} queries: total {to:.1f} -> {tn:.1f} s "
          f"({tn / to:.2f}x)")
    print("only-old:", sorted(set(old) - set(new)))
    print("only-new:", sorted(set(new) - set(old)))


if __name__ == "__main__":
    main()
