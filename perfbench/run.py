"""End-to-end CDC pipeline benchmark: change log -> committed sink.

Usage::

    python3 perfbench/run.py --workload backfill_lake --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root.  Each run starts Spark on ``local[2]`` and
sets the pipeline up ``SETUPS`` times (session, compose, table
registration, one warm-up batch; ``setup_s`` is the median).  After each
set-up it drains ``SETTLE_BATCHES`` untimed batches, drives micro-batches
in a closed loop for its share of ``--seconds`` and checks the committed
sink against an independent replay of the generated log.  Workloads:
``tail_8t`` and
``wire_merge`` (the ones BENCHMARK.json lists), ``backfill_lake`` and
``tail_32t``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics: every other batch runs with spans around the engine's
layer entry points, and the difference between traced and untraced batch
medians is the tracing overhead.  Spans are written to
``perfbench/_out/spans-<workload>-<seed>.jsonl``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is the full record
(noise stamp, sample counts, state check).  ``--workload all`` runs every
workload in its own process and prints one table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "source_flink_cdc_3_5_0_spark"


def metric_units(section: str) -> dict:
    """``{name: unit}`` of one metric list in BENCHMARK.json, so the
    reported metrics are exactly the ones the benchmark defines."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def spark_jvms() -> list[int]:
    """PIDs of running Spark JVMs (any user, any process tree)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            pids.append(int(d))
    return pids


def wait_for_isolation(timeout: float = 20.0) -> bool:
    """True once no other Spark JVM runs; a JVM from a run that just
    exited gets ``timeout`` seconds to go away."""
    end = time.monotonic() + timeout
    while spark_jvms():
        if time.monotonic() > end:
            return False
        time.sleep(0.5)
    return True


def stop_spark() -> None:
    """Stop the session and the JVM this process launched, and wait."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def run_all(args) -> int:
    """One process per workload; prints every end-to-end metric by name."""
    from harness import WORKLOADS

    reported = dict(metric_units("end_to_end"), batch_tail_s="s",
                    batch_fail_ratio="ratio", state_error_ratio="ratio")
    print("%-14s %-20s %14s %s" % ("workload", "metric", "value", "unit"))
    rc = 0
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "0"], capture_output=True, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or len(lines) < 2:
            sys.stderr.write(out.stderr[-4000:])
            print("%-14s run failed (exit %d)" % (name, out.returncode))
            rc = 1
            continue
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        for metric, unit in reported.items():
            print("%-14s %-20s %14.4f %s" % (name, metric,
                                             record[metric], unit))
        print("%-14s %-20s %14s (%d measured batches, tail p%.0f with %d "
              "beyond%s)"
              % (name, "correct", result["correct"],
                 record["measured_batches"],
                 record["batch_tail_pct"], record["batch_tail_samples_beyond"],
                 "; known defect: " + record["known_defect"]
                 if record["known_defect"] else ""))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        sys.stderr.write(f"perfbench: the engine package {PACKAGE}/ is not "
                         f"beside perfbench/ under {ROOT}\n")
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    from bench import _host_noise_probe, _noise_stamp
    from harness import SPARK_CORES, WORKLOADS, run

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}\n")
        return 2
    if not wait_for_isolation():
        sys.stderr.write("perfbench: another Spark JVM is running "
                         f"(pids {spark_jvms()}); refusing to measure\n")
        return 3

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the engine from the checkout; scratch files
    # (Spark shuffle, JVM and Python temp files) stay inside the checkout,
    # so no SPARK_LOCAL_DIRS may override the session's spark.local.dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["TMPDIR"] = work
    # the pipeline is driver-bound (one task per job on the tail
    # workloads), so two task slots lose nothing and leave the other
    # cores to the JIT, the GC and the Python driver
    cpus = min(SPARK_CORES, len(os.sched_getaffinity(0)))
    before = _host_noise_probe()
    try:
        record = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), work, cpus, out_dir)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    record["noise"] = _noise_stamp(before, _host_noise_probe())
    record["cpus"] = cpus

    correct = (record["failed_batches"] == 0
               and (record["mismatched_rows"] == 0
                    or record["known_defect"] is not None))
    values = record["layers"] if args.trace else record
    metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units(
        "per_layer" if args.trace else "end_to_end").items()}
    print(json.dumps(record, default=sorted))
    print(json.dumps({"correct": correct, "attempted": record["batches"],
                      "failed": record["failed_batches"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
