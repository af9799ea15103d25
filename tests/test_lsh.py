"""LSH banding operators: bucket cap policies, pair generation,
two-lane candidates (bucket_overflow fixture, FIXTURES.md §3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metacache_mpi_spark.config import DedupConfig
from metacache_mpi_spark.operators.lsh import (
    bucket_join_pairs,
    bucket_pairs,
    candidate_pairs,
    emit_bands,
    lsh_candidate_pairs,
    two_lane_candidate_pairs,
)

BUCKET = ["band", "bucket"]


@pytest.fixture()
def band_rows(spark):
    # bucket A: 3 docs; bucket B: 1 doc (pruned); bucket C: 5 docs (> cap 4)
    rows = (
        [(i, 0, 100) for i in (1, 2, 3)]
        + [(9, 0, 200)]
        + [(i, 1, 300) for i in (10, 11, 12, 13, 14)]
    )
    return spark.createDataFrame(rows, "doc_id long, band int, bucket long")


def _bucket_rows(df):
    return {(r["band"], r["bucket"], r["a"], r["b"]) for r in df.collect()}


def test_bucket_cap_drop(spark, band_rows):
    got = _bucket_rows(bucket_pairs(band_rows, "doc_id", BUCKET, 4, "drop"))
    # singleton + oversize dropped
    assert got == {(0, 100, 1, 2), (0, 100, 1, 3), (0, 100, 2, 3)}


def test_bucket_cap_sample_keeps_capped_subset(spark, band_rows):
    got = _bucket_rows(bucket_pairs(band_rows, "doc_id", BUCKET, 4, "sample"))
    assert {r for r in got if r[:2] == (0, 100)} == {
        (0, 100, 1, 2), (0, 100, 1, 3), (0, 100, 2, 3)
    }
    hot = [r for r in got if r[:2] == (1, 300)]
    kept = {r[2] for r in hot} | {r[3] for r in hot}
    assert len(kept) == 4  # deterministic sample of the hot bucket
    assert kept < {10, 11, 12, 13, 14}
    assert len(hot) == 6  # all pairs of the sampled members
    again = _bucket_rows(
        bucket_pairs(band_rows.repartition(5), "doc_id", BUCKET, 4, "sample")
    )
    assert again == got  # partitioning-invariant


@pytest.mark.parametrize("policy", ["drop", "sample", "star"])
def test_bucket_consumers_agree(spark, band_rows, policy):
    """The band-hit lane and the distinct-pair lane are projections of
    one bucket_pairs plan, so their pair sets cannot drift."""
    cfg = DedupConfig(max_docs_per_bucket=4, oversize_policy=policy)
    counted = {(r["a"], r["b"]) for r in candidate_pairs(band_rows, cfg).collect()}
    distinct = {
        (r["a"], r["b"])
        for r in bucket_join_pairs(band_rows, "doc_id", BUCKET, 4, policy).collect()
    }
    assert counted == distinct and counted


def test_bucket_pairs_rejects_unknown_policy(spark, band_rows):
    with pytest.raises(ValueError, match="oversize_policy"):
        bucket_pairs(band_rows, "doc_id", BUCKET, 4, "keep")


def test_candidate_pairs_counts_band_hits(spark):
    rows = [(1, 0, 7), (2, 0, 7), (1, 1, 8), (2, 1, 8), (3, 1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    got = {(r["a"], r["b"]): r["band_hits"] for r in candidate_pairs(df).collect()}
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_two_lane_thresholds(spark):
    cfg = DedupConfig(min_band_hits=2, min_fp_hits=2)
    rows = [
        # pair (1,2): 2 lsh collisions -> passes band lane
        (1, 0, 7), (2, 0, 7), (1, 1, 8), (2, 1, 8),
        # pair (3,4): 1 lsh collision only -> fails both
        (3, 0, 9), (4, 0, 9),
        # pair (5,6): 2 fingerprint collisions -> passes fp lane
        (5, -1, 100), (6, -1, 100), (5, -1, 101), (6, -1, 101),
    ]
    df = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    got = {
        (r["a"], r["b"]): (r["band_hits"], r["fp_hits"])
        for r in two_lane_candidate_pairs(df, cfg).collect()
    }
    assert got == {(1, 2): (2, 0), (5, 6): (0, 2)}


def test_exact_duplicates_always_collide(spark):
    cfg = DedupConfig()
    docs = spark.createDataFrame(
        [(1, "x" * 10 + "the quick brown fox jumps over everything" * 4),
         (2, "x" * 10 + "the quick brown fox jumps over everything" * 4),
         (3, "a completely different document about nothing " * 4)],
        "doc_id long, text string",
    )
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(docs, cfg).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_emit_bands_shape(spark):
    cfg = DedupConfig()
    sigs = spark.createDataFrame(
        [(1, list(range(16))), (2, None)],
        "doc_id long, signature array<long>",
    )
    rows = emit_bands(sigs, cfg).collect()
    assert len(rows) == cfg.bands  # null signature emits nothing
    assert {r["band"] for r in rows} == set(range(cfg.bands))


def test_fingerprint_lane_applies_min_fp_hits(spark):
    """Regression: the winnow fingerprint lane (band -1 rows of the
    pipeline's unified bucket table) must enforce min_fp_hits (config.py
    boilerplate pruning), not the LSH lane's min_band_hits=1."""
    from metacache_mpi_spark.functions.sketch import (
        SKETCH_SCHEMA,
        make_sketch_mapper,
    )

    import numpy as np

    rng = np.random.RandomState(7)

    def words(n):
        return " ".join(
            "".join(chr(97 + c) for c in rng.randint(0, 26, size=6))
            for _ in range(n)
        )

    shared = words(250)  # ~1750 chars of verbatim overlap
    short = shared[:40]  # < winnow_w + k - 1: no guaranteed shared fp
    docs = spark.createDataFrame(
        [
            (1, words(30) + " " + shared + " " + words(30)),
            (2, words(35) + " " + shared + " " + words(25)),
            (3, words(40) + " " + short + " " + words(200)),
        ],
        "doc_id long, text string",
    )
    cfg = DedupConfig(shingle_k=8, winnow_w=50, min_fp_hits=3)
    mapper = make_sketch_mapper(
        cfg.shingle_k, cfg.sketch_size, cfg.minhash_seed, cfg.winnow_w
    )
    fp_rows = docs.mapInPandas(mapper, schema=SKETCH_SCHEMA).select(
        "doc_id", F.lit(-1).alias("band"), F.explode("fps").alias("bucket")
    )
    got = two_lane_candidate_pairs(fp_rows, cfg).collect()
    assert all(r["fp_hits"] >= cfg.min_fp_hits for r in got)
    assert {(r["a"], r["b"]) for r in got} == {(1, 2)}


def test_sources_have_no_rdd_usage():
    """Scale contract: no per-row Python / RDD lambdas in any source."""
    import pathlib

    src_dir = pathlib.Path("metacache_mpi_spark/sources")
    for py in src_dir.glob("*.py"):
        text = py.read_text()
        assert ".rdd" not in text, f"{py} uses the RDD API"


def test_prefilter_candidates_gate(spark):
    """hitsMin sketch-gate: pairs sharing < min_sig_lanes lanes are
    dropped JVM-side; fingerprint-lane candidates bypass."""
    from metacache_mpi_spark.operators.verify import prefilter_candidates

    sigs = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4, 5, 6, 7, 8]),
            (2, [1, 2, 3, 4, 50, 60, 70, 80]),  # shares 4 lanes with 1
            (3, [1, 2, 30, 40, 50, 60, 70, 80]),  # shares 2 lanes with 1
        ],
        "doc_id long, signature array<long>",
    )
    cands = spark.createDataFrame(
        [(1, 2, 1, 0), (1, 3, 1, 0), (1, 3, 0, 5)],
        "a long, b long, band_hits long, fp_hits long",
    )
    cfg = DedupConfig(min_sig_lanes=4, min_fp_hits=3)
    got = {(r["a"], r["b"], r["fp_hits"])
           for r in prefilter_candidates(cands, sigs, cfg).collect()}
    # (1,2): 4 shared lanes -> kept; (1,3) band-only: 2 lanes -> dropped;
    # (1,3) fp-lane (fp_hits=5 >= 3) -> bypasses the gate
    assert got == {(1, 2, 0), (1, 3, 5)}


def test_md5_sketch_mode_matches_textops_lane(spark, tiny_corpus):
    """sketch_mode="md5" runs the PIPELINE operators (attach_signature
    → emit_bands → cap → expand) over the exact formula the textops
    md5 lane implements (minhash_lsh_pairs) — the two must emit the
    same candidate pair set when the bucket cap doesn't bind."""
    from metacache_mpi_spark.config import DedupConfig
    from metacache_mpi_spark.operators.lsh import lsh_candidate_pairs
    from metacache_mpi_spark.operators.textops import minhash_lsh_pairs
    from metacache_mpi_spark.sources.pages import load_pages

    # deterministic subset — limit() picks an arbitrary 200 rows PER
    # EXECUTION, so the two (uncached) sides would see different docs
    docs = (
        load_pages(spark, tiny_corpus)
        .where("pmod(doc_id, 2) = 0")
        .select("doc_id", "text")
    )
    cfg = DedupConfig(
        shingle_k=8, sketch_size=8, bands=4, rows_per_band=2,
        sketch_mode="md5", max_docs_per_bucket=10_000,
    )
    got = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(docs, cfg).collect()
    }
    want = {
        (r["a"], r["b"])
        for r in minhash_lsh_pairs(
            docs, k=8, lanes=8, band_rows=2
        ).collect()
    }
    assert got == want and len(got) > 0


def test_star_policy_unit(spark, band_rows):
    """Star mode: in-cap buckets expand all pairs, the oversized bucket
    emits hub edges (min id → member) instead of being dropped."""
    cfg = DedupConfig(max_docs_per_bucket=4, oversize_policy="star")
    got = {(r["a"], r["b"]): r["band_hits"]
           for r in candidate_pairs(band_rows, cfg).collect()}
    want_pairs = {(1, 2), (1, 3), (2, 3)}            # bucket A all-pairs
    want_stars = {(10, 11), (10, 12), (10, 13), (10, 14)}  # hub = 10
    assert set(got) == want_pairs | want_stars
    assert all(v == 1 for v in got.values())


def test_star_policy_partitioning_invariant(spark, band_rows):
    cfg = DedupConfig(max_docs_per_bucket=4, oversize_policy="star")
    a = {(r["a"], r["b"]) for r in candidate_pairs(band_rows, cfg).collect()}
    b = {(r["a"], r["b"])
         for r in candidate_pairs(band_rows.repartition(7), cfg).collect()}
    assert a == b


def test_star_two_lane_counts_each_shared_bucket_once(spark):
    """A pair sharing TWO oversized fp buckets (band -1) with the same
    hub counts fp_hits=2 — duplicate membership rows must not inflate
    the count (the in-array path dedups via collect_set; the star path
    dedups explicitly)."""
    rows = []
    for bucket in (500, 501):
        for doc in (1, 2, 3):
            rows.append((doc, -1, bucket))
    rows.append((1, -1, 500))  # duplicate membership row
    df = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    cfg = DedupConfig(
        max_docs_per_bucket=2, oversize_policy="star",
        min_band_hits=1, min_fp_hits=1,
    )
    got = {(r["a"], r["b"]): r["fp_hits"]
           for r in two_lane_candidate_pairs(df, cfg).collect()}
    assert got == {(1, 2): 2, (1, 3): 2}


def test_emit_bands_single_udf_evaluation(spark):
    """Regression (r7, guide §4.4): a FILTER on the pandas-UDF signature
    column made the optimizer evaluate the sketch UDF twice (one
    ArrowEvalPython below the pushed filter, one in the projection).
    emit_bands must plan exactly ONE ArrowEvalPython over a UDF-backed
    signature lineage."""
    from metacache_mpi_spark.operators.lsh import attach_signature

    cfg = DedupConfig()
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over everything " * 4),
         (2, None)],
        "doc_id long, text string",
    )
    bands = emit_bands(attach_signature(docs, cfg), cfg)
    plan = bands._sc._jvm.PythonSQLUtils.explainString(
        bands._jdf.queryExecution(), "simple"
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    # and the null-text doc still emits no band rows
    assert {r["doc_id"] for r in bands.collect()} == {1}
