"""dedupe()'s narrow-mode wiring, re-sequenced into one span per layer.

`dedupe()` (distill_spark/operators/pipeline.py) builds one lazy plan
and runs it in a handful of jobs, so its layers cannot be told apart
from outside. Here every layer's public functions are called in the
same order with the same arguments, and each layer's output is
materialised (`localCheckpoint`) inside a span that owns a Spark job
group. The next layer reads the materialised frame, so no layer
recomputes another's work. The run reports the traced pipeline's wall
time as `trace.total_s` next to an untraced `dedupe()` of the same
input (`trace.wall_s`); the difference is the cost of tracing.

The wiring is checked, not trusted: the caller compares the edge and
assignment fingerprints returned here with those of `dedupe()`.

Materialising two outputs of one plan runs their shared exchange once
per output: `winnow`'s small-bucket pairs and oversized members come
from one window exchange that `dedupe()` evaluates once.
"""

from __future__ import annotations

from contextlib import contextmanager
from time import perf_counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distill_spark.config import DedupConfig
from distill_spark.operators import (
    band_buckets,
    cluster_stats,
    connected_components,
    hamming_candidate_pairs,
    pairs_from_buckets,
    representatives,
    verify_hamming,
    verify_jaccard,
    verify_lcs,
    with_signatures,
)
from distill_spark.operators.lsh import pairs_and_overflow
from distill_spark.operators.winnow import refine_oversized

from measure import SparkStatus, fingerprint

_GLUE = "trace.glue"  # row counts taken between spans


def _cut(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class Tracer:
    """Spans keyed by layer name, each owning the job group
    `trace.<layer>`; counts are taken outside every span."""

    def __init__(self, status: SparkStatus):
        self.status = status
        self.wall: dict[str, float] = {}
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, layer: str):
        self.status.set_group(f"trace.{layer}")
        t0 = perf_counter()
        try:
            yield
        finally:
            self.wall[layer] = perf_counter() - t0
            self.status.set_group(_GLUE)

    def metrics(self) -> dict[str, float]:
        """`<layer>.<metric>` for every span plus the recorded counts."""
        out: dict[str, float] = {}
        stats = self.status.read([f"trace.{layer}" for layer in self.wall])
        for layer, wall in self.wall.items():
            g = stats[f"trace.{layer}"]
            out[f"{layer}.wall_s"] = wall
            out[f"{layer}.task_s"] = g.task_s
            out[f"{layer}.shuffle_bytes"] = g.shuffle_bytes
            out[f"{layer}.jobs"] = g.jobs
            out[f"{layer}.stages"] = g.stages
        out.update(self.counts)
        return out


def _ratio(num: int, den: int) -> float:
    return num / den if den else 1.0


def traced_dedupe(images: DataFrame, cfg: DedupConfig, tracer: Tracer) -> dict:
    """Run the layers of `dedupe(images, cfg)` (default channels, string
    ids hashed to int64, narrow mode) under spans. Returns the edge and
    assignment fingerprints and the wall time of the whole traced run."""
    id_col, cap, ph = "image_id", "caption", "phash"
    c = tracer.counts
    t_start = perf_counter()
    meta = images.select(id_col, cap, ph)
    meta_i = meta.withColumn(id_col, F.xxhash64(F.col(id_col)))
    aux: list[DataFrame] = []

    with tracer.span("signatures"):
        sigs = _cut(with_signatures(
            meta_i, cap, id_col, cfg,
            parts=("shingles", "minhash", "simhash", "winnow"),
        ))
    c["signatures.rows_out"] = sigs.count()
    shingled = sigs.select(id_col, "shingles")
    minhash_sig = sigs.filter(F.col("minhash").isNotNull()).select(id_col, "minhash")
    simhash_sig = sigs.filter(F.col("simhash").isNotNull()).select(id_col, "simhash")

    with tracer.span("lsh"):
        buckets = band_buckets(minhash_sig, "minhash", id_col, cfg)
        lsh_pairs = _cut(pairs_from_buckets(buckets, ["bucket"], id_col, cfg, dedup=False))
    c["lsh.rows_out"] = c["lsh.candidates"] = lsh_pairs.count()

    with tracer.span("hamming.simhash"):
        cand = _cut(hamming_candidate_pairs(
            simhash_sig, "simhash", cfg.simhash_hamming_k, id_col, cfg,
            cache_registry=aux,
        ))
        sim_pairs = _cut(verify_hamming(
            cand, simhash_sig, "simhash", cfg.simhash_hamming_k, id_col
        ))
    c["hamming.simhash.rows_out"] = sim_pairs.count()
    c["hamming.simhash.useful_ratio"] = _ratio(
        c["hamming.simhash.rows_out"], cand.count())

    with tracer.span("verify.jaccard"):
        jac_cand = _cut(lsh_pairs.unionByName(sim_pairs).dropDuplicates(["a", "b"]))
        jac_edges = _cut(verify_jaccard(
            jac_cand, shingled, cfg.jaccard_threshold, "shingles", id_col
        ))
    c["verify.jaccard.rows_out"] = jac_edges.count()
    c["verify.jaccard.useful_ratio"] = _ratio(
        c["verify.jaccard.rows_out"], jac_cand.count())

    with tracer.span("hamming.phash"):
        phashes = meta_i.select(id_col, ph)
        cand = _cut(hamming_candidate_pairs(
            phashes, ph, cfg.phash_hamming_k, id_col, cfg, cache_registry=aux
        ))
        ph_edges = _cut(verify_hamming(cand, phashes, ph, cfg.phash_hamming_k, id_col))
    c["hamming.phash.rows_out"] = ph_edges.count()
    c["hamming.phash.useful_ratio"] = _ratio(
        c["hamming.phash.rows_out"], cand.count())

    with tracer.span("winnow"):
        fpx = sigs.select(id_col, F.explode("fps").alias("fingerprint"))
        small, overflow = pairs_and_overflow(
            fpx, ["fingerprint"], id_col, cfg, cap=cfg.max_fp_bucket_size
        )
        small, overflow = _cut(small), _cut(overflow)
        refined = refine_oversized(overflow, meta_i.select(id_col, cap), cfg, id_col, cap)
        sub_pairs = _cut(pairs_from_buckets(
            refined, ["fingerprint", "subfp"], id_col, cfg,
            cap=cfg.max_fp_bucket_size, oversize="star",
        ))
    c["winnow.small_pairs"] = small.count()
    c["winnow.oversized_rows"] = overflow.count()
    c["winnow.refined_pairs"] = sub_pairs.count()
    c["winnow.rows_out"] = c["winnow.small_pairs"] + c["winnow.refined_pairs"]

    with tracer.span("verify.lcs"):
        lcs_edges = _cut(verify_lcs(
            small, meta_i.select(id_col, cap), cfg, cap, id_col, impl=cfg.lcs_impl
        ))
    c["verify.lcs.rows_out"] = lcs_edges.count()
    c["verify.lcs.useful_ratio"] = _ratio(
        c["verify.lcs.rows_out"], c["winnow.small_pairs"])

    idmap = meta.select(id_col, F.xxhash64(F.col(id_col)).alias("__iid"))
    with tracer.span("components"):
        edges_i = _cut(
            jac_edges.unionByName(ph_edges).unionByName(sub_pairs)
            .unionByName(lcs_edges).dropDuplicates(["a", "b"])
        )
        cc_edge = connected_components(edges_i, nodes=None, id_col="__iid",
                                       out_col="__icomp", cfg=cfg)
        cc_s = cc_edge.join(idmap, "__iid")
        comp_names = cc_s.groupBy("__icomp").agg(F.min(id_col).alias("__comp_name"))
        edge_assign = cc_s.join(comp_names, "__icomp").select(
            id_col, F.col("__comp_name").alias("component")
        )
        assignments = _cut(
            meta.select(id_col).join(edge_assign, id_col, "left").select(
                id_col, F.coalesce("component", F.col(id_col)).alias("component")
            )
        )
    c["components.edges_in"] = edges_i.count()
    c["components.rows_out"] = assignments.count()

    with tracer.span("select"):
        reps = _cut(representatives(assignments, images=meta, strategy=cfg.rep_strategy,
                                    id_col=id_col, caption_col=cap))
        cluster_stats(assignments).collect()
    c["select.rows_out"] = reps.count()
    total_s = perf_counter() - t_start

    edges = (
        edges_i.join(idmap.select(F.col("__iid").alias("a"), F.col(id_col).alias("__sa")), "a")
        .join(idmap.select(F.col("__iid").alias("b"), F.col(id_col).alias("__sb")), "b")
        .select(F.least("__sa", "__sb").alias("a"), F.greatest("__sa", "__sb").alias("b"))
    )
    out = {
        "edges": fingerprint(edges, ["a", "b"]),
        "assignments": fingerprint(assignments, [id_col, "component"]),
        "total_s": total_s,
    }
    for df in aux:
        df.unpersist()
    return out
