#!/usr/bin/env python3
"""Partition-invariance check: a query's rows must not depend on how many
cores (and so shuffle partitions) the run had.

Runs graft.Verify at SPARK_GRAFT_CPUS 1, 4 and 8 into three dump dirs,
runs tools/local_verify.py (the DuckDB oracle compare) on each dump, then
compares every query's result rows, column names and types across the
three dumps. Exits non-zero if any oracle check fails or any query's
output differs between core counts.

Usage: python3 tools/cpu_sweep.py <sfDir> [query ...]
  [--out DIR]   where the three dumps go (default: a fresh temp dir)
  [--cpus 1,4,8]

Verify is launched through `sbt --batch runMain`, so run it from a shell
that can start sbt for this repo (and with no other sbt holding the
project's server lock).
"""
import argparse, os, subprocess, sys, tempfile
from pathlib import Path

import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]


def run_verify(sf_dir, out_dir, cpus, queries):
    args = " ".join(["graft.Verify", sf_dir, out_dir] + queries)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = Path(out_dir + ".log")
    with open(log, "w") as f:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              f"runMain {args}"],
                             cwd=REPO, env=env, stdout=f, stderr=f)
    if rc != 0:
        sys.exit(f"Verify at {cpus} cpus exited {rc} (log: {log})")


def rows(dump, query):
    """(column names and types, rows) of one query's dump, or None."""
    d = Path(dump) / query
    if not any(d.glob("*.parquet")):
        return None
    t = pq.read_table(d)
    return ([(f.name, str(f.type)) for f in t.schema], t.to_pylist())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--cpus", default="1,4,8")
    a = ap.parse_args()
    out = a.out or tempfile.mkdtemp(prefix="cpu_sweep_")
    os.makedirs(out, exist_ok=True)
    cpus = [int(c) for c in a.cpus.split(",")]
    dumps = {c: f"{out}/cpus{c}" for c in cpus}
    bad = 0
    for c, dump in dumps.items():
        run_verify(a.sf_dir, dump, c, a.queries)
        rc = subprocess.call([sys.executable, str(REPO / "tools/local_verify.py"),
                              a.sf_dir, dump])
        if rc != 0:
            print(f"FAIL oracle compare at {c} cpus ({dump})")
            bad += 1
    first = dumps[cpus[0]]
    names = sorted(p.name for p in Path(first).iterdir()
                   if p.is_dir() and p.name.startswith("q"))
    names = sorted(set(names) | set(a.queries))
    for q in names:
        base = rows(first, q)
        for c in cpus[1:]:
            other = rows(dumps[c], q)
            if base is None or other is None:
                print(f"DIFF {q}: no dump at {cpus[0] if base is None else c} cpus")
                bad += 1
            elif base != other:
                what = ("columns" if base[0] != other[0] else
                        "row order only" if sorted(map(repr, base[1])) ==
                        sorted(map(repr, other[1])) else "rows")
                print(f"DIFF {q}: {what} differ between {cpus[0]} and {c} cpus")
                bad += 1
    print(f"cpu_sweep: {len(names)} queries at cpus {cpus}, "
          f"{bad} problem(s); dumps in {out}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
