#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness
(perfbench/build.py), then runs one JVM that sets up the workload, measures
it for --seconds seconds (or, with --trace 1, makes one traced pass) and
checks its outputs. Prints every metric as `name value unit`, then, as the
last line, one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list.

Every file the run writes lives under .bench_build/ in the repository; the
run's own directory is deleted when it ends. .bench_build/records/ keeps
each seed's reference output digest, so later runs of the same code can
be checked against it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 175
GENERATORS = ["gen_docs.py", "gen_embeddings.py"]
# what Spark needs opened on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    try:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"run from the repository root: {e}")
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace == "1" else spec["end_to_end"]

    build.build()
    # reference outputs per seed, kept across runs of the same code and
    # generators (a new build or generator starts a new record)
    key = hashlib.sha256()
    for f in [build.STAMP] + [os.path.join(HERE, g) for g in GENERATORS]:
        with open(f, "rb") as fh:
            key.update(fh.read())
    records = os.path.abspath(os.path.join(
        build.BUILD, "records", key.hexdigest()[:16]))

    rel = os.path.relpath(HERE)
    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log_path = os.path.join(build.BUILD, f"last-{args.workload}.log")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.dir={rel}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--root", run_dir, "--records", records]
    if args.trace == "1":
        cmd += ["--layers", ",".join(m["name"] for m in wanted),
                "--spans", os.path.abspath(os.path.join(
                    build.BUILD, f"last-{args.workload}-spans.jsonl"))]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            # the limit leaves out the build, which only a first run makes
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run timed out; log in {log_path}")
        finally:
            # the JVM's children (input generators) share its group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(run_dir):
        fail(f"could not remove {run_dir}")
    lines = out.splitlines()
    for line in lines:
        if not line.startswith("PERFBENCH_RESULT "):
            print(line)
    result = [line for line in lines if line.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not result:
        fail(f"JVM exited with {proc.returncode}; log in {log_path}")
    raw = json.loads(result[-1][len("PERFBENCH_RESULT "):])
    # everything the JVM measured, including per-span totals
    with open(os.path.join(build.BUILD, f"last-{args.workload}.json"), "w") as f:
        json.dump(raw, f, indent=1, sort_keys=True)
    metrics = {}
    for m in wanted:
        if m["name"] not in raw["metrics"]:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": raw["metrics"][m["name"]],
                              "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    ratio = raw["failed"] / max(raw["attempted"], 1)
    print(f"failed_ratio {ratio} ratio ({raw['failed']} of {raw['attempted']})")
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
