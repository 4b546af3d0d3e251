"""Feature-store benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload store_serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --pin    # re-pin the ops_mix digests

Builds the program with the benchmark (build.py), runs the workload and
prints, as the last line of standard output, one JSON object with the keys
correct, attempted, failed and metrics. Metric names and units come from
BENCHMARK.json: the end_to_end metrics with --trace 0, the per_layer
metrics with --trace 1. Logs go to standard error. On any failure the
command exits non-zero without printing a result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("store_serve", "ops_mix")
DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata/sf0.1")
HERE = os.path.join(build.ROOT, "perfbench")
PINS = os.path.join(HERE, "ops_mix_pins.json")
RUN_TIMEOUT_S = 170
# what spark-submit passes on JDK 17 (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def metric_units(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def run_jvm(classes, workload, seed, seconds, trace, work):
    """Runs one JVM to completion; kills it on timeout or interruption."""
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", classes + ":" + build.SPARK_JARS + "/*",
              "perfbench.FsBench",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--data", DATA, "--work", work,
              "--out", os.path.join(work, "result.json"),
              "--cores", str(len(os.sched_getaffinity(0))),
              "--pins", PINS])
    # Spark's scratch space stays inside the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S} s\n")
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()
    if not args.pin and args.workload is None:
        ap.error("--workload is required")
    # a terminated benchmark still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    try:
        classes = build.build()
        units = None if args.pin else metric_units(args.trace)
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        sys.exit(f"perfbench: {e}")
    if not os.path.isdir(DATA):
        sys.exit(f"perfbench: no input data at {DATA}")
    workload = "pin" if args.pin else args.workload
    work = os.path.join(build.OUT, "runs", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rc = run_jvm(classes, workload, args.seed, args.seconds, args.trace, work)
        if rc != 0:
            sys.exit(f"perfbench: run failed (exit {rc})")
        if args.pin:
            return
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        if args.trace:
            traces = os.path.join(build.OUT, "trace")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                traces, f"{workload}-seed{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = result["metrics"]
    if set(got) != set(units):
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(units) - set(got))}, "
                 f"extra {sorted(set(got) - set(units))}")
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": got[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
