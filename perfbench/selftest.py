"""Fast self-test of the benchmark (about three minutes at local[4]).

    python3 perfbench/selftest.py

Run it from the repository root. In one Spark session it checks that:

- both workloads, at about 2k rows, timed and traced, report every
  metric BENCHMARK.json names, with its unit, and pass their own gate;
- the status-store reader returns per-group numbers;
- the correctness gate trips on a deliberately wrong assignment.

Exits 0 when every check passes and 1 otherwise.
"""

from __future__ import annotations

import json
import os
import sys
from argparse import Namespace

import run

PLANTED_ROWS = 2_000
PLANTED_WARM_ROWS = 500
INGEST_BATCH_ROWS = 500   # four batches: the minimum a run makes


class Checks:
    def __init__(self):
        self.failed: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            self.failed.append(what)


def check_workloads(spark, spec: dict, work: str, checks: Checks) -> None:
    import workloads
    from measure import SparkStatus

    status = SparkStatus(spark)
    sizes = {"planted": {"rows": PLANTED_ROWS, "warm_rows": PLANTED_WARM_ROWS},
             "ingest": {"batch_rows": INGEST_BATCH_ROWS}}
    for name, size in sizes.items():
        for trace in (0, 1):
            args = Namespace(workload=name, seed=7, seconds=0, trace=trace)
            run_dir = os.path.join(work, f"{name}-{trace}")
            os.makedirs(run_dir)
            outcome = getattr(workloads, name)(
                spark, status, args.seed, args.seconds, bool(trace), run_dir,
                0.0, None, **size)
            report, result = run.result_lines(spec, args, outcome)
            declared = spec["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            missing = [m["name"] for m in declared
                       if got.get(m["name"], {}).get("unit") != m["unit"]]
            checks.expect(not missing and len(got) == len(declared),
                          f"{name} trace={trace}: every metric with its unit "
                          f"(missing: {missing})")
            checks.expect(result["correct"] and result["failed"] == 0,
                          f"{name} trace={trace}: gate passes "
                          f"{report['report']['failures']}")
            json.dumps(report)  # the report must serialise


def check_status_reader(spark, checks: Checks) -> None:
    from pyspark.sql import functions as F

    from measure import SparkStatus

    status = SparkStatus(spark)
    status.set_group("selftest.shuffle")
    spark.range(20_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    status.set_group("selftest.other")
    spark.range(10).collect()  # no exchange
    stats = status.read(["selftest.shuffle", "selftest.other", "selftest.none"])
    g = stats["selftest.shuffle"]
    checks.expect(g.jobs >= 1 and g.stages >= 2 and g.task_s > 0
                  and g.shuffle_bytes > 0 and g.job_covered_s() > 0,
                  f"status reader: per-group numbers {g}")
    checks.expect(stats["selftest.other"].shuffle_bytes == 0
                  and stats["selftest.none"].jobs == 0,
                  "status reader: groups are kept apart")


def check_gate(spark, checks: Checks) -> None:
    from distill_spark.config import DedupConfig
    from distill_spark.datagen import generate_images_pdf

    import workloads
    from measure import fingerprint

    pdf, truth = generate_images_pdf(n=300, seed=3)
    right = {i: i for i in pdf["image_id"]}
    for group in truth.dup_groups:
        for i in group:
            right[i] = min(group)
    oracle = workloads.Oracle(pdf, DedupConfig())
    exact_pair = truth.dup_groups[0]              # the generator plants these first
    negative = next(p for p in truth.negatives if not oracle.is_dup(*p))
    checks.expect(workloads.pair_recall(right, truth.dup_groups) == 1.0,
                  "gate: the planted truth has recall 1")

    wrong = dict(right)
    wrong[exact_pair[1]] = exact_pair[1]          # split a dup pair
    checks.expect(workloads.pair_recall(wrong, truth.dup_groups) < 1.0,
                  "gate: a split duplicate lowers recall")
    merges = sum(not oracle.is_dup(a, b) for a, b in (exact_pair, negative))
    checks.expect(merges == 1, "gate: an edge the oracle rejects is a false merge")

    schema = "image_id string, component string"
    fps = {name: fingerprint(spark.createDataFrame(sorted(m.items()), schema))
           for name, m in (("right", right), ("wrong", wrong))}
    failures = workloads.Failures()
    workloads.check_fingerprints({"assignments": fps["wrong"]},
                                 {"assignments": fps["right"]}, "selftest", failures)
    spec = {"end_to_end": [{"name": "recall", "unit": "ratio"}], "per_layer": []}
    args = Namespace(workload="planted", seed=3, seconds=0, trace=0)
    for what, failed, false_merges in (("a changed fingerprint", failures, 0),
                                       ("a false merge", workloads.Failures(), merges)):
        outcome = workloads.Outcome(attempted=1, failures=failed, recall=1.0,
                                    false_merges=false_merges, fingerprints={},
                                    end_to_end={"recall": 1.0})
        _, result = run.result_lines(spec, args, outcome)
        checks.expect(not result["correct"] and result["failed"] == len(failed),
                      f"gate: {what} makes the run incorrect")


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(run.HERE, "expected.json")) as f:
        expected = json.load(f)
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    run.prepare_env(work, expected["driver_memory"])
    checks = Checks()
    try:
        spark = run.start_session(work, expected["driver_memory"])
        try:
            check_status_reader(spark, checks)
            check_gate(spark, checks)
            check_workloads(spark, spec, work, checks)
        finally:
            run.stop_session(spark)
    finally:
        run.remove_work(work)
    print(f"{len(checks.failed)} check(s) failed" if checks.failed else "all checks passed")
    return 1 if checks.failed else 0


if __name__ == "__main__":
    sys.exit(main())
