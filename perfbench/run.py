#!/usr/bin/env python3
"""Runs one benchmark workload end to end and prints its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload sql --seed 1 --seconds 20 --trace 0

The first call builds the program and the benchmark's own code from source
into `.bench_build/classes` (rebuilt whenever a source file changes). Each
run starts one JVM at `local[<cores>]` in a fresh working directory under
`.bench_build/work`, hands it the workload's query names and a private
copy of the committed fixture, and reads back its record. The seed sets
the query order of every pass.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics of a run whose passes alternate untraced and traced; its spans go
to `.bench_build/traces/`. The last stdout line is one JSON object with
the keys `correct`, `attempted`, `failed` and `metrics`. Other options
are for the benchmark's own upkeep: `--fixture` picks another committed
fixture, `--expected` another expected-output file, and `--record`
rewrites the expected-output file from this run's outputs.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """$SPARK_HOME/jars, else the jars next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark jars: set SPARK_HOME")
    return jars


def build(root, jars):
    """Compiles into .bench_build/classes unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources (src/main/scala) in the working directory")
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                     + glob.glob("perfbench/src/*.scala")
                     + ["perfbench/build.sh"])
    h = hashlib.sha256()
    for s in sources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes")
    stamp = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp) \
            and open(stamp).read() == h.hexdigest():
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".log", "w") as log:
        r = subprocess.run(["bash", "perfbench/build.sh", tmp, jars], cwd=root,
                           stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail(f"build failed, see {out}.log")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture")
    ap.add_argument("--expected")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    # metric names and units: BENCHMARK.json is the one list
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; "
             f"one of {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    fixture_name = args.fixture or spec["fixture"]
    fixture = os.path.join(HERE, "fixtures", fixture_name)
    expected = args.expected or os.path.join(HERE, "expected",
                                             fixture_name + ".json")
    if not os.path.isdir(fixture):
        fail(f"no fixture {fixture}")
    jars = spark_jars()
    classes = build(root, jars)

    work = os.path.join(root, ".bench_build", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")  # Spark's and the JVM's scratch files
    os.makedirs(tmp)
    digits = ",".join(f"{q}:{d}" for q, d in spec["approx_digits"].items())
    jvm_args = [
        f"queries={','.join(wl['queries'])}", f"fixture={fixture}",
        f"seed={args.seed}",
        f"seconds={args.seconds}", f"pass_seconds={wl['pass_seconds']}",
        f"trace={args.trace}",
        f"cores={spec['cores']}", f"digits={digits}", f"out={record}",
        (f"record={expected}.new" if args.record else f"expected={expected}"),
    ]
    # fixed-size generations keep the peak footprint repeatable run to run
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "perfbench.PerfBench"] + jvm_args)
    started = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S} s; log in {work}/jvm.log")
    if proc.returncode != 0 or not os.path.exists(record):
        fail(f"JVM exited {proc.returncode}; log in {work}/jvm.log")
    with open(record) as f:
        rec = json.load(f)
    if args.record:
        merged = {}
        if os.path.exists(expected):
            with open(expected) as f:
                merged = json.load(f)
        with open(expected + ".new") as f:
            merged.update(json.load(f))
        with open(expected, "w") as f:
            json.dump(dict(sorted(merged.items())), f, indent=1)
            f.write("\n")
        os.remove(expected + ".new")

    e2e = {k: float(v) for k, v in rec["end_to_end"].items()}
    e2e["setup_s"] = rec["first_timed_epoch_ms"] / 1e3 - started
    if args.trace:
        units = layer_units
        values = {k: float(v) for k, v in rec["per_layer"].items()}
        traces = os.path.join(root, ".bench_build", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
            traces, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        units = e2e_units
        values = e2e
    for q, msg in sorted(rec["failures"].items()):
        print(f"FAILED {q}: {msg}")
    tail = rec["tail_pct"]
    print(f"workload {args.workload}: {len(wl['queries'])} queries, "
          f"{rec['passes']} passes in {rec['measured_s']:.1f} s, "
          f"{rec['samples']} untraced samples")
    if tail is None:
        print("  query_tail_s: no percentile has 10 samples above it")
    else:
        print(f"  query_tail_s = {e2e['query_tail_s']:.4f} s (p{tail:g})")
    print(f"  failed_share = {e2e['failed_share']:.4f} share "
          f"({rec['failed']}/{rec['attempted']})")
    for k, u in e2e_units.items():
        print(f"  {k} = {e2e[k]:.4f} {u}")
    for q, samples in rec["query_s"].items():
        med = statistics.median(samples) if samples else float("nan")
        print(f"  {q}: check pass {rec['check_s'][q]:.3f} s, "
              f"median {med:.3f} s of {len(samples)} untraced")
    if args.trace:
        for k, u in layer_units.items():
            print(f"  {k} = {values[k]:.4f} {u}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
