"""The benchmark's workloads: inputs made from a seed, the timed and the
traced run of each, and the correctness gate.

planted  `datagen.generate_images_pdf` rows (exact, caption, phash and
         substring dups, chains, a 10 % hot bucket, singletons) written
         to parquet and read back; each operation is one `dedupe()`
         call, timed until assignments, representatives and stats are
         all materialised.
ingest   rows of the same generator under another seed, shuffled and
         streamed as micro-batches through
         `streaming.ingest.incremental_dedupe_batch` into a fresh
         `DedupeState`; each operation is one batch.

Sizes are fixed per workload; `--seconds` sets how many operations a run
makes (`ops_for`), so a run's work depends on its arguments only, never
on how fast the program was.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from dataclasses import dataclass, field
from time import perf_counter

import numpy as np

from statistics import median

from measure import (
    SparkStatus,
    fingerprint,
    tail,
    tree_cpu_s,
    tree_peak_rss_mb,
)

PLANTED_ROWS = 6_000
PLANTED_CALL_S = 10.0    # nominal seconds per warm dedupe() call at local[4]
PLANTED_MIN_CALLS = 2    # timed calls a run makes at least
PLANTED_WARM_ROWS = 1_000
PLANTED_WARM_CALLS = 2   # planted warm-up: calls on a smaller table of the same mix
INGEST_BATCH_ROWS = 1_000
INGEST_BATCH_S = 4.0     # nominal seconds per batch at local[4]
INGEST_SEED_OFFSET = 1_000_003
WARM_SEED_OFFSET = 2 * INGEST_SEED_OFFSET  # warm-up inputs of both workloads
WARM_BATCHES = 3         # ingest warm-up: small batches into a throwaway state
WARM_BATCH_ROWS = 100
LOAD_REPEATS = 3         # set-up input loading is timed this often
MIN_RECALL = 0.99


def ops_for(seconds: float, nominal_s: float, minimum: int) -> int:
    return max(minimum, round(seconds / nominal_s))


class Failures:
    """Failed operations, with one message each."""

    def __init__(self):
        self.messages: list[str] = []

    def add(self, what: str, exc: BaseException | None = None) -> None:
        self.messages.append(what if exc is None else f"{what}: {describe(exc)}")

    def __len__(self) -> int:
        return len(self.messages)


def describe(exc: BaseException) -> str:
    """One line for a failed operation; a dead JVM gets the memory hint."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is not None:
        return (f"the Spark JVM exited with code {proc.returncode}; "
                "it was most likely killed by the kernel's OOM killer. "
                "Lower the workload size or change driver_memory in "
                "perfbench/expected.json")
    first_line = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first_line[:300]}"


def jvm_alive() -> bool:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc is None or proc.poll() is None


@dataclass
class Outcome:
    """What one run measured; `run.py` turns it into the result line."""

    attempted: int
    failures: Failures
    recall: float | None
    false_merges: int | None
    fingerprints: dict
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


def pair_recall(components: dict[str, str], groups: list[list[str]]) -> float:
    """Share of within-group pairs whose two rows share a component."""
    together = total = 0
    for g in groups:
        total += len(g) * (len(g) - 1) // 2
        for n in Counter(components[i] for i in g).values():
            together += n * (n - 1) // 2
    return together / total if total else 1.0


class Oracle:
    """The brute-force oracle's exact dup predicates
    (`distill_spark.oracle`) over one input table.

    A false merge is a pair the program joined directly that the oracle
    keeps apart. Planted negatives are not a usable test of that: single
    linkage joins rows through chains of true edges, and the generator's
    every-other-token rewrite sometimes leaves a negative with a
    24-character common substring, that is, a true duplicate."""

    def __init__(self, pdf, cfg):
        self.cfg = cfg
        self.caption = dict(zip(pdf["image_id"], pdf["caption"]))
        self.phash = dict(zip(pdf["image_id"], pdf["phash"]))
        self._shingles: dict[str, set] = {}

    def jaccard(self, a: str, b: str) -> float:
        from distill_spark.oracle import jaccard, shingle_set

        for i in (a, b):
            if i not in self._shingles:
                self._shingles[i] = shingle_set(self.caption[i], self.cfg)
        return jaccard(self._shingles[a], self._shingles[b])

    def is_dup(self, a: str, b: str) -> bool:
        from distill_spark.oracle import hamming64, has_common_substring

        cfg = self.cfg
        return (self.jaccard(a, b) >= cfg.jaccard_threshold
                or hamming64(self.phash[a], self.phash[b]) <= cfg.phash_hamming_k
                or has_common_substring(self.caption[a], self.caption[b],
                                        cfg.lcs_min_len))


def check_fingerprints(got: dict, want: dict | None, what: str,
                       failures: Failures) -> None:
    """A fingerprint that differs from the reference is a failed operation.
    Compares the outputs both sides fingerprinted."""
    for key, value in (want or {}).items():
        if key in got and got[key] != value:
            failures.add(f"{what}: {key} fingerprint {got[key]} != {value}")


# ---------------------------------------------------------------- planted

def _dedupe_once(images, cfg):
    """One timed dedupe(): from the call until assignments,
    representatives and stats are materialised. Returns the wall time,
    the process tree's CPU time over the same span, the assignment and
    representative fingerprints and the result, which the caller
    releases with `_release`."""
    from distill_spark.operators import dedupe

    cpu0, t0 = tree_cpu_s(), perf_counter()
    res = dedupe(images, cfg)
    fps = {"assignments": fingerprint(res.assignments, ["image_id", "component"]),
           "representatives": fingerprint(res.representatives)}
    res.stats.collect()
    return perf_counter() - t0, tree_cpu_s() - cpu0, fps, res


def _release(res) -> None:
    res.unpersist()
    res.assignments.sparkSession.catalog.clearCache()


def _write_read(spark, pdf, path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # row groups well under the per-core split size, so the scan splits
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   row_group_size=1024)
    images = spark.read.parquet(path)
    images.count()
    return images


def _reference(res, fps: dict, pdf, truth, cfg) -> tuple[dict, float, int, int]:
    """A run's reference output, from one dedupe() result: its
    fingerprints with the edges', its recall against the planted truth,
    and its false merges and edge count by the oracle."""
    fps = {**fps, "edges": fingerprint(res.edges, ["a", "b"])}
    components = dict(res.assignments.toPandas().itertuples(index=False, name=None))
    edges = list(res.edges.toPandas().itertuples(index=False, name=None))
    oracle = Oracle(pdf, cfg)
    merges = sum(not oracle.is_dup(a, b) for a, b in edges)
    return fps, pair_recall(components, truth.dup_groups), merges, len(edges)


def planted(spark, status: SparkStatus, seed: int, seconds: float, trace: bool,
            work: str, session_s: float, expected: dict | None,
            rows: int = PLANTED_ROWS, warm_rows: int = PLANTED_WARM_ROWS) -> Outcome:
    from distill_spark.config import DedupConfig
    from distill_spark.datagen import generate_images_pdf

    cfg = DedupConfig()
    failures = Failures()
    t0 = perf_counter()
    pdf, truth = generate_images_pdf(n=rows, seed=seed)
    warm_pdf, _ = generate_images_pdf(n=warm_rows, seed=seed + WARM_SEED_OFFSET)
    gen_s = perf_counter() - t0
    load_s = []
    for i in range(LOAD_REPEATS):
        t0 = perf_counter()
        images = _write_read(spark, pdf, os.path.join(work, f"planted-{i}.parquet"))
        load_s.append(perf_counter() - t0)

    # warm-up: dedupe() calls on a smaller table of the same mix pay class
    # loading, codegen and most of the JIT before timing; the JVM is still
    # speeding up after a single call
    warm_images = _write_read(spark, warm_pdf, os.path.join(work, "warmup.parquet"))
    status.set_group("warmup")
    warm_s = []
    for _ in range(PLANTED_WARM_CALLS):
        wall, _, _, res = _dedupe_once(warm_images, cfg)
        _release(res)
        warm_s.append(wall)
    setup_s = session_s + gen_s + median(load_s) + sum(warm_s)
    key = f"{seed}/{rows}"
    out = Outcome(attempted=0, failures=failures, recall=None, false_merges=None,
                  fingerprints={})
    out.extra = {"fingerprint_key": key, "rows": rows, "warmup_rows": warm_rows,
                 "session_s": session_s, "generate_s": gen_s, "load_s": load_s,
                 "warmup_s": warm_s}

    def reference(res, fps: dict) -> None:
        """The first full-size result is the run's reference; it is
        checked against the planted truth, the oracle and expected.json."""
        out.fingerprints, out.recall, out.false_merges, n_edges = _reference(
            res, fps, pdf, truth, cfg)
        out.extra["edges_checked"] = n_edges
        check_fingerprints(out.fingerprints, (expected or {}).get(key),
                           "planted vs expected.json", failures)

    if trace:
        from traced import Tracer, traced_dedupe

        out.attempted = 2
        status.set_group("trace.untraced")
        wall, _, fps, res = _dedupe_once(images, cfg)
        reference(res, fps)
        _release(res)
        tracer = Tracer(status)
        got = traced_dedupe(images, cfg, tracer)
        check_fingerprints(got, out.fingerprints, "traced wiring vs dedupe()", failures)
        spark.catalog.clearCache()
        out.per_layer = tracer.metrics()
        out.per_layer["trace.total_s"] = got["total_s"]
        out.per_layer["trace.wall_s"] = wall
        return out

    walls, cpus, groups = [], [], []
    for i in range(ops_for(seconds, PLANTED_CALL_S, PLANTED_MIN_CALLS)):
        if not jvm_alive():
            break
        out.attempted += 1
        group = f"timed.{i}"
        status.set_group(group)
        try:
            wall, cpu, fps, res = _dedupe_once(images, cfg)
            status.set_group("check")
            if out.recall is None:
                reference(res, fps)
        except Exception as exc:  # a failed call is counted, not raised
            failures.add(f"dedupe() call {i}", exc)
            continue
        _release(res)
        cpus.append(cpu)
        walls.append(wall)
        groups.append(group)
        check_fingerprints(fps, out.fingerprints, f"dedupe() call {i}", failures)
    if walls:
        shuffles = [g.shuffle_bytes for g in status.read(groups).values()]
        out.end_to_end = {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "rows_per_s": rows / median(walls),
            "cpu_s": median(cpus),
            "shuffle_bytes": median(shuffles),
            "peak_rss_mb": tree_peak_rss_mb(),
            "recall": out.recall,
        }
    out.extra["wall_s_samples"] = walls
    out.extra["cpu_s_samples"] = cpus
    return out


# ----------------------------------------------------------------- ingest

def _ingest_frames(spark, pdf, batch_rows: int, n_batches: int, seed: int) -> list:
    order = np.random.default_rng(seed).permutation(len(pdf))
    pdf = pdf.iloc[order][["image_id", "caption", "phash"]]
    return [spark.createDataFrame(pdf.iloc[i * batch_rows:(i + 1) * batch_rows])
            for i in range(n_batches)]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def ingest(spark, status: SparkStatus, seed: int, seconds: float, trace: bool,
           work: str, session_s: float, expected: dict | None,
           batch_rows: int = INGEST_BATCH_ROWS) -> Outcome:
    from distill_spark.config import DedupConfig
    from distill_spark.datagen import generate_images_pdf
    from distill_spark.streaming.ingest import DedupeState, incremental_dedupe_batch

    failures = Failures()
    n_batches = ops_for(seconds, INGEST_BATCH_S, 4)
    t0 = perf_counter()
    pdf, _ = generate_images_pdf(n=n_batches * batch_rows,
                                 seed=seed + INGEST_SEED_OFFSET)
    gen_s = perf_counter() - t0
    load_s = []
    for _ in range(LOAD_REPEATS):
        t0 = perf_counter()
        batches = _ingest_frames(spark, pdf, batch_rows, n_batches, seed)
        load_s.append(perf_counter() - t0)

    warm_pdf, _ = generate_images_pdf(n=WARM_BATCHES * WARM_BATCH_ROWS,
                                      seed=seed + WARM_SEED_OFFSET)
    status.set_group("warmup")
    t0 = perf_counter()
    warm_state = DedupeState(spark, os.path.join(work, "ingest-warmup"))
    for i, df in enumerate(_ingest_frames(spark, warm_pdf, WARM_BATCH_ROWS,
                                          WARM_BATCHES, seed)):
        incremental_dedupe_batch(warm_state, df, i)
    warm_s = perf_counter() - t0
    shutil.rmtree(warm_state.path)
    setup_s = session_s + gen_s + median(load_s) + warm_s

    state = DedupeState(spark, os.path.join(work, "ingest-state"))
    batch_s: list[float] = []
    groups: list[str] = []
    dups = rows_in = novel = 0
    cpu0 = tree_cpu_s()
    for i, df in enumerate(batches):
        if not jvm_alive():
            break
        group = f"ingest.batch.{i}"
        status.set_group(group)
        t0 = perf_counter()
        try:
            m = incremental_dedupe_batch(state, df, i)
        except Exception as exc:  # a failed batch is counted, not raised
            failures.add(f"batch {i}", exc)
            continue
        batch_s.append(perf_counter() - t0)
        groups.append(group)
        dups += m["duplicates"]
        rows_in += m["rows_in"]
        novel += m["novel"]
    cpu_s = tree_cpu_s() - cpu0
    status.set_group("check")

    out = Outcome(attempted=n_batches, failures=failures, recall=None,
                  false_merges=None, fingerprints={})
    out.extra = {"batches": n_batches, "batch_rows": batch_rows,
                 "session_s": session_s, "generate_s": gen_s, "load_s": load_s,
                 "warmup_s": warm_s, "batch_s_samples": batch_s}
    if not batch_s or not jvm_alive():
        return out

    assign = state.assignments()
    out.fingerprints = {"assignments": fingerprint(assign, ["image_id", "component"])}
    key = f"{seed}/{batch_rows}x{n_batches}"
    check_fingerprints(out.fingerprints, (expected or {}).get(key),
                       "ingest vs expected.json", failures)
    components = dict(assign.toPandas().itertuples(index=False, name=None))
    ingested = pdf[pdf["image_id"].isin(components)]
    exact = [g for g in ingested.groupby("caption")["image_id"].apply(list) if len(g) > 1]
    out.recall = pair_recall(components, exact)
    # a duplicate row takes the id of the stored or earlier row it matched
    # as its component, so each such pair must pass the Jaccard verify
    oracle = Oracle(pdf, DedupConfig())
    merged = [(i, c) for i, c in components.items() if i != c]
    out.false_merges = sum(oracle.jaccard(i, c) < oracle.cfg.jaccard_threshold
                           for i, c in merged)
    out.extra["merges_checked"] = len(merged)

    t_reads = perf_counter()
    spans = list(status.read(groups).values())
    wall_s = sum(batch_s)
    p_tail, pct = tail(batch_s)
    out.extra.update({
        "batch_s_p50": median(batch_s),
        "batch_s_tail": p_tail,
        "batch_s_tail_percentile": pct,
        "state_bytes_per_row": _dir_bytes(state.path) / rows_in,
    })
    out.extra["fingerprint_key"] = key
    if trace:
        per = {
            "wall_s": batch_s,
            "task_s": [g.task_s for g in spans],
            "shuffle_bytes": [g.shuffle_bytes for g in spans],
            "jobs": [g.jobs for g in spans],
            "stages": [g.stages for g in spans],
            "driver_s": [w - g.job_covered_s() for w, g in zip(batch_s, spans)],
        }
        out.per_layer = {f"ingest.batch.{k}": median(v) for k, v in per.items()}
        out.per_layer.update({
            "ingest.batch.rows_out": novel / len(batch_s),
            "ingest.state_read_bytes": sum(g.input_bytes for g in spans),
            "ingest.state_write_bytes": sum(g.output_bytes for g in spans),
            "ingest.dup_ratio": dups / rows_in,
            "trace.wall_s": wall_s,
            "trace.total_s": wall_s + perf_counter() - t_reads,
        })
    else:
        out.end_to_end = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "rows_per_s": rows_in / wall_s,
            "cpu_s": cpu_s,
            "shuffle_bytes": sum(g.shuffle_bytes for g in spans),
            "peak_rss_mb": tree_peak_rss_mb(),
            "recall": out.recall,
        }
    return out
