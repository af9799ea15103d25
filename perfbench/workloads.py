"""The benchmark's workloads: each one untraced public call, a traced
composition of the same public functions, and the output checks.

A call consumes its output inside the call (one aggregate action), so
its wall time covers the work.  It returns a flat dict of deterministic
output facts (counts and order-free checksums); two calls on one corpus
must return equal dicts.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from pathlib import Path

from pyspark.sql import functions as F

from checks import compare, quality_floor
from tracing import Tracer


@dataclass
class Ctx:
    """What a workload needs from the run: its name, the session, the
    corpus directory and, once made, the reference call's outputs."""

    name: str
    spark: object
    corpus: Path
    ref: dict | None = None  # the reference call's outputs


def cluster_summary(clusters) -> dict:
    """One action over a (doc_id, cluster_id) frame: its size, cluster
    count and an order-free checksum of the assignment."""
    row = clusters.agg(
        F.count(F.lit(1)).alias("docs"),
        F.countDistinct("cluster_id").alias("clusters"),
        F.coalesce(
            F.expr("bit_xor(xxhash64(doc_id, cluster_id))"), F.lit(0)
        ).alias("assign_fp"),
    ).first()
    return {k: int(row[k]) for k in ("docs", "clusters", "assign_fp")}


def truth_frame(spark, corpus: Path):
    """``pages_truth`` keyed like ``load_pages`` keys the pages."""
    return spark.read.parquet(str(corpus / "pages_truth.parquet")).select(
        F.xxhash64("url").alias("doc_id"), F.col("cluster_id").alias("label")
    )


def cluster_quality(spark, clusters, corpus: Path) -> dict:
    """Pairwise precision and recall of ``clusters`` against the planted
    truth."""
    from metacache_mpi_spark.operators.evaluate import clustering_pair_metrics

    row = clustering_pair_metrics(clusters, truth_frame(spark, corpus)).first()
    return {
        "cluster_precision": row["precision_micro"] / 1e6,
        "cluster_recall": row["recall_micro"] / 1e6,
        "truth_pairs": int(row["truth_pairs"]),
    }


def traced_dedup(tr: Tracer, pages, cfg) -> dict:
    """``dedup_pipeline``'s public calls in its order, each output
    persisted and counted inside its layer span.  Returns the same facts
    as :meth:`Dedup.call`."""
    from metacache_mpi_spark.functions.sketch import (
        SKETCH_TEXT_SCHEMA,
        make_sketch_mapper,
    )
    from metacache_mpi_spark.operators.cc import cluster_assignments
    from metacache_mpi_spark.operators.lsh import (
        emit_bands,
        two_lane_candidate_pairs,
    )
    from metacache_mpi_spark.operators.verify import (
        gate_and_attach,
        verified_dup_pairs,
    )
    from metacache_mpi_spark.plans.pipeline import prepare_docs

    pins = []

    def pinned(sp, df):
        df = df.persist()
        pins.append(df)
        sp.counts["rows_out"] = df.count()
        return df

    try:
        with tr.span("pipeline.prepare") as sp:
            docs = pinned(sp, prepare_docs(pages))
        with tr.span("sketch") as sp:
            mapper = make_sketch_mapper(
                cfg.shingle_k, cfg.sketch_size, cfg.minhash_seed,
                cfg.winnow_w, carry_text=True,
            )
            sigs = pinned(
                sp,
                docs.select("doc_id", "text").mapInPandas(
                    mapper, schema=SKETCH_TEXT_SCHEMA
                ),
            )
        with tr.span("lsh.bands") as sp:
            fps = sigs.where(F.col("fps").isNotNull()).select(
                "doc_id", F.lit(-1).alias("band"),
                F.explode("fps").alias("bucket"),
            )
            bands = pinned(
                sp, emit_bands(sigs, cfg, "doc_id").unionByName(fps)
            )
        with tr.span("lsh.candidates") as sp:
            cands = pinned(sp, two_lane_candidate_pairs(bands, cfg, "doc_id"))
        with tr.span("verify.gate") as sp:
            gated = pinned(sp, gate_and_attach(cands, sigs, cfg, "doc_id"))
        with tr.span("verify.pairs") as sp:
            pairs = pinned(
                sp,
                verified_dup_pairs(gated, cfg)
                .withColumn(
                    "simhash_hamming",
                    F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
                )
                .drop("sim_a", "sim_b"),
            )
            n_pairs = sp.counts["rows_out"]
        with tr.span("cc.clusters") as sp:
            out = cluster_summary(
                cluster_assignments(sigs.select("doc_id"), pairs, "doc_id")
            )
            sp.counts["rows_out"] = out["docs"]
    finally:
        for df in pins:
            df.unpersist()
    out["pairs"] = n_pairs
    return out


class Dedup:
    """``plans.pipeline.dedup_pipeline`` over the whole corpus."""

    out_keys = ("docs", "clusters", "assign_fp", "pairs")

    def __init__(self, pages: int, hot_frac: float, policy: str):
        self.pages = pages
        self.hot_frac = hot_frac
        self.policy = policy

    def cfg(self):
        from metacache_mpi_spark.config import DEFAULT_CONFIG

        return replace(DEFAULT_CONFIG, oversize_policy=self.policy)

    def call(self, ctx: Ctx, inspect=None) -> dict:
        from metacache_mpi_spark.plans.pipeline import dedup_pipeline
        from metacache_mpi_spark.sources.pages import load_pages

        res = dedup_pipeline(load_pages(ctx.spark, str(ctx.corpus)), self.cfg())
        try:
            out = cluster_summary(res.clusters)
            out["pairs"] = res.pairs.count()
            if inspect is not None:
                out.update(inspect(res.clusters))
        finally:
            res.unpersist()
        return out

    def reference(self, ctx: Ctx) -> dict:
        """The first, untimed call; it also measures quality."""
        ref = self.call(
            ctx, lambda cl: cluster_quality(ctx.spark, cl, ctx.corpus)
        )
        # clustering_pair_metrics leaves its contingency table cached
        ctx.spark.catalog.clearCache()
        return ref

    def check(self, out: dict, ref: dict) -> list[str]:
        return compare(out, ref, self.out_keys) + quality_floor(ref)

    def traced(self, ctx: Ctx, tr: Tracer) -> dict:
        from metacache_mpi_spark.sources.pages import load_pages

        with tr.span(f"workload.{ctx.name}"):
            return traced_dedup(
                tr, load_pages(ctx.spark, str(ctx.corpus)), self.cfg()
            )
