"""Dedup benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload planted --seed 1 --seconds 20 --trace 0

Run it from the repository root. It starts Spark on local[4] through
`distill_spark.session.get_spark`, makes the workload's inputs from the
seed, warms up, measures, checks the outputs and prints two JSON lines:

- a report with every metric, including those that are not gated,
  the output fingerprints and the set-up breakdown;
- last, the result: {"correct", "attempted", "failed", "metrics"}, where
  the metrics are the end-to-end ones of BENCHMARK.json with --trace 0
  and its per-layer ones with --trace 1.

Everything it writes goes to .perfbench_work/ under the repository
root, which it removes again. Exit codes: 0 result printed, 1 the run
failed (one line on stderr says why), 2 the program under test cannot
be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
STOP_TIMEOUT_S = 60


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("planted", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, driver_memory: str) -> None:
    """Point every temporary file of the driver, the JVM and the Python
    workers into `work`; size the driver JVM."""
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    # Python workers import the package's UDF modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_session(work: str, driver_memory: str):
    from distill_spark.session import get_spark

    return get_spark("perfbench", cores=CORES, extra_conf={
        "spark.local.dir": work,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap is committed and touched at start, so peak RSS
        # moves with memory outside the fixed heap (JVM native memory,
        # the Python driver and workers), not with when GC ran
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
            f"-Xms{driver_memory} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job and stage of the run
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    })


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    from measure import process_tree, running

    started = process_tree()[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if proc is None or proc.poll() is None:  # else the JVM already died
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        alive = [p for p in started if running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run is still using it
        pass


def result_lines(spec: dict, args, outcome) -> tuple[dict, dict]:
    """(report, result) for one run."""
    from workloads import MIN_RECALL

    trace = bool(args.trace)
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    values = outcome.per_layer if trace else outcome.end_to_end
    metrics = {}
    for m in declared:
        name = m["name"]
        if name in values:
            metrics[name] = {"value": values[name], "unit": m["unit"]}
        elif trace and values:
            # a layer this workload does not run did no work
            metrics[name] = {"value": 0, "unit": m["unit"]}
    attempted = max(outcome.attempted, 1)
    failed = min(len(outcome.failures), attempted)
    correct = (len(metrics) == len(declared) and failed == 0
               and outcome.recall is not None and outcome.recall >= MIN_RECALL
               and outcome.false_merges == 0)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    extra = dict(outcome.extra)
    report_metrics = {k: {"value": v, "unit": units[k]} for k, v in
                      {**outcome.end_to_end, **outcome.per_layer}.items()}
    report_metrics["false_merges"] = {"value": outcome.false_merges, "unit": "count"}
    report_metrics["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    for name, unit in (("batch_s_p50", "s"), ("batch_s_tail", "s"),
                       ("state_bytes_per_row", "bytes")):
        if name in extra:
            report_metrics[name] = {"value": extra.pop(name), "unit": unit}
    if "batch_s_tail_percentile" in extra:
        report_metrics["batch_s_tail"]["percentile"] = extra.pop("batch_s_tail_percentile")
    report = {"report": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "metrics": report_metrics,
        "fingerprints": outcome.fingerprints, "failures": outcome.failures.messages,
        **extra,
    }}
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return report, result


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work, expected["driver_memory"])
    try:
        try:
            import distill_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the program under test is missing: {exc}",
                  file=sys.stderr)
            return 2
        import workloads
        from measure import SparkStatus

        spark = None
        try:
            t0 = perf_counter()
            spark = start_session(work, expected["driver_memory"])
            session_s = perf_counter() - t0
            run = getattr(workloads, args.workload)
            outcome = run(spark, SparkStatus(spark), args.seed, args.seconds,
                          bool(args.trace), work, session_s,
                          expected["fingerprints"].get(args.workload))
        except Exception as exc:  # one line and a failed result, not a traceback
            print(f"perfbench: {args.workload} failed: {workloads.describe(exc)}",
                  file=sys.stderr)
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                              "metrics": {}}), flush=True)
            return 1
        finally:
            if spark is not None:
                stop_session(spark)
    finally:
        remove_work(work)
    report, result = result_lines(spec, args, outcome)
    print(json.dumps(report))
    print(json.dumps(result), flush=True)
    return 0 if len(result["metrics"]) else 1


if __name__ == "__main__":
    sys.exit(main())
