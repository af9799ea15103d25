"""The end-to-end near-duplicate detection + clustering pipeline.

Spark restatement of the reference's build+query lifecycle
(SURVEY.md §3.2-3.3):

    pages ──(dropDuplicates url, filter empty)──────────────── P11
      │
      ├─ MinHash signatures + SimHash (pandas UDFs) ─────────── P5/P6
      │     │
      │     └─ LSH bands → bucket grouping (cap! prune!) ────── J1/P13/P17
      │            └─ candidate pairs + band hits ───────────── A1/A2 analog
      │
      ├─ winnowing fingerprints → substring candidates ──────── `-align` slot
      │
      ├─ union candidates → join texts → exact Jaccard UDF ──── X1 verify
      │     ├─ jaccard ≥ τ            → near/exact dup edges
      │     └─ else, LCS ≥ 2000 chars → substring dup edges
      │
      └─ connected components (large-star/small-star) ───────── LCA analog
             └─ (doc_id, cluster_id) assignments

Every stage output can be snapshotted through a CheckpointManager for
resumable execution.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, DedupConfig
from ..functions.sketch import SKETCH_TEXT_SCHEMA, make_sketch_mapper
from ..operators.cc import cluster_assignments
from ..operators.lsh import emit_bands, two_lane_candidate_pairs
from ..operators.verify import gate_and_attach, verified_dup_pairs
from .checkpoint import CheckpointManager


@dataclass
class DedupResult:
    docs: DataFrame        # (doc_id, url, text, ...)
    signatures: DataFrame  # (doc_id, signature, simhash)
    pairs: DataFrame       # verified dup edges (a, b, jaccard, dup_kind)
    clusters: DataFrame    # (doc_id, cluster_id)
    metrics: dict = field(default_factory=dict)

    def unpersist(self) -> None:
        """Release the pipeline's pinned subtrees — call when done
        consuming the result in a long-lived session (each pipeline
        invocation otherwise leaves docs/signatures/pairs cached)."""
        for df in (self.docs, self.signatures, self.pairs):
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — not persisted (ckpt mode)
                pass


def prepare_docs(
    pages: DataFrame,
    id_col: str = "doc_id",
    canonicalize_urls: bool = False,
) -> DataFrame:
    """P11: drop empty texts and duplicate urls; ensure a numeric id.

    With ``canonicalize_urls`` the page identity is the canonical URL
    (scheme/host case, default ports, trackers, fragments stripped —
    ``operators/webops.py``) and repeated crawls of the same logical
    page collapse to the newest ``warc_ts`` BEFORE the sketch stages —
    the webtext analog of the reference resolving targets by accession
    before sketching.  Off by default: identity changes cluster ids.
    """
    df = pages
    if canonicalize_urls:
        from ..operators.webops import canonical_url, url_dedup_latest

        if "warc_ts" in df.columns:
            df = url_dedup_latest(df)
        else:
            df = canonical_url(df)
        df = df.withColumn(
            "url", F.coalesce("canon_url", "url")
        ).drop("canon_url")
    if id_col not in df.columns:
        df = df.withColumn(id_col, F.xxhash64("url"))
    # Column-prune aggressively: the pipeline needs only (id, url, text);
    # dragging the html binary column through every shuffle would double
    # scan+shuffle bytes (Catalyst prunes the parquet scan once this
    # select is in the plan).
    return (
        df.select(id_col, "url", "text")
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
        .dropDuplicates(["url"])
    )


def dedup_pipeline(
    pages: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    checkpoints: CheckpointManager | None = None,
    id_col: str = "doc_id",
    canonicalize_urls: bool = False,
    bucketed_warehouse: str | None = None,
) -> DedupResult:
    """Run the full pipeline. ``pages`` needs (url, text[, doc_id]).

    ``bucketed_warehouse``: directory for a ``bucketBy(doc_id)``
    catalog table holding the sketch+text corpus state.  Every verify
    join back to the corpus (both attach sides, the CC universe) then
    reads a bucketed scan — Catalyst elides the corpus-side Exchange
    entirely (plans/bucketing.py; the reference's build-time partition-
    by-feature, mode_build.cpp:847-1074).  This is the deployment shape
    for repeated/incremental verify passes at 10^12 docs: the corpus
    shuffles ZERO times after the one bucketed write.
    """
    metrics: dict = {}

    def stage(name: str, compute):
        if checkpoints is not None:
            # resumable mode: every stage is a committed snapshot
            return checkpoints.get_or_compute(name, compute)
        # No snapshot store: pin multiply-consumed subtrees with
        # persist() — populated on first materialization, reused by later
        # consumers (including the iterative CC loop, which must never
        # re-run the UDF-heavy sketch lineage) — and schedule ZERO extra
        # jobs: the whole candidates→verify chain stays fused into the
        # first caller action.  NOT localCheckpoint: that calls .rdd,
        # and under AQE the RDD conversion eagerly executes every
        # upstream shuffle stage on the driver's calling thread
        # (measured 17 s of serialized stage execution at 50k docs) —
        # round 1 paid one such materialization per stage, capping
        # full-job scaling at ~0.4.
        return compute().persist()

    docs = prepare_docs(pages, id_col, canonicalize_urls=canonicalize_urls)

    def _signatures() -> DataFrame:
        # single Arrow pass over the corpus computes all three sketch
        # families (MinHash signature, SimHash, winnow fingerprints) —
        # the reference's fused window→sketch→insert pass — AND carries
        # the text through: the resulting table is the pipeline's ONLY
        # corpus-sized state, serving band emission, the signature
        # prefilter, the verify text fetch, the SimHash annotation and
        # the final cluster-id universe from one cache.  (Round 2 kept
        # docs and signatures as two cached tables and paid four
        # corpus-sized verify joins; the fused table pays two.)
        if cfg.sketch_mode == "md5":
            # oracle lane: the whole sketch is Catalyst expressions
            # (array<string> signature); simhash/winnow stay null —
            # the substring lane is inert (fp_hits never reaches
            # min_fp_hits) and the SimHash annotation rides as null
            from ..operators.lsh import md5_signature_expr

            return docs.select(
                F.col(id_col).alias("doc_id"),
                md5_signature_expr(
                    cfg.shingle_k, cfg.sketch_size
                ).alias("signature"),
                F.lit(None).cast("long").alias("simhash"),
                F.lit(None).cast("array<long>").alias("fps"),
                "text",
            )
        mapper = make_sketch_mapper(
            cfg.shingle_k, cfg.sketch_size, cfg.minhash_seed, cfg.winnow_w,
            carry_text=True,
        )
        return docs.select(F.col(id_col).alias("doc_id"), "text").mapInPandas(
            mapper, schema=SKETCH_TEXT_SCHEMA
        )

    if bucketed_warehouse is not None:
        import hashlib
        import json as _json
        import os as _os

        from .bucketing import (
            read_bucketed,
            try_register_bucketed,
            write_bucketed,
        )

        spark = pages.sparkSession
        # deterministic per-warehouse table name; the bucketed write IS
        # the materialization (no persist/count needed — consumers read
        # the catalog table, never the UDF lineage).  WRITE-ONCE
        # contract: a warehouse dir pins ONE corpus's sketch state — if
        # the table already exists in this session it is REUSED
        # (the amortization the bucketing exists for: repeated verify
        # passes never re-sketch or re-shuffle the corpus).  Re-writing
        # here instead would yank the files out from under any earlier
        # result's still-lazy DataFrames.  Point a NEW corpus at a NEW
        # warehouse dir (or drop the table).  Reuse is GUARDED by a
        # corpus fingerprint (row count + min/max doc id) recorded at
        # write time: a different corpus against a stored warehouse
        # raises instead of silently returning the stored corpus's
        # clusters.  The check costs one (count, min, max) aggregation
        # over the prepared docs per reuse — cheap next to any verify
        # pass, and far cheaper than the silent-mismatch failure mode.
        table = "mcs_sigs_" + hashlib.md5(
            bucketed_warehouse.encode()
        ).hexdigest()[:10]
        fp_path = _os.path.join(
            bucketed_warehouse, table + ".fingerprint.json"
        )

        def _fingerprint_of(df, idc: str) -> dict:
            # content-sensitive: text_fp folds every (id, text) pair,
            # so a re-crawl of the same URL set with CHANGED page text
            # (identical ids, rows, min/max) still mismatches — costs
            # one extra column in the same single scan
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(idc).alias("lo"),
                F.max(idc).alias("hi"),
                F.coalesce(
                    F.expr(f"bit_xor(xxhash64({idc}, text))"), F.lit(0)
                ).alias("tfp"),
            ).collect()[0]
            return {
                "rows": int(row["n"]),
                "min_doc_id": row["lo"] and int(row["lo"]),
                "max_doc_id": row["hi"] and int(row["hi"]),
                "text_fp": int(row["tfp"]),
            }

        def _docs_fingerprint() -> dict:
            return _fingerprint_of(docs, id_col)

        if not spark.catalog.tableExists(table):
            # catalog metadata is SESSION state under the in-memory
            # catalog: a later spark-submit run arrives here even when
            # the table's files + fingerprint survived on disk.
            # Re-register from the on-disk bucket spec instead of
            # re-sketching the corpus (the whole point of the
            # warehouse); falls through to a fresh write when no spec
            # exists (pre-spec warehouses rebuild once, then carry one)
            try_register_bucketed(
                spark, table, _os.path.join(bucketed_warehouse, table)
            )
        if not spark.catalog.tableExists(table):
            # fresh-write path must STILL honor the corpus-fingerprint
            # guard: a pre-spec warehouse (or one whose spec failed to
            # register) has no catalog entry, but its fingerprint file
            # survives — overwriting it with a DIFFERENT corpus would
            # silently destroy the stored sketch state the guard exists
            # to protect.  Same corpus → rebuild is allowed (the spec
            # or catalog entry was lost, the data is reproducible).
            fresh_fp = None  # guard result reused below: the
            # fingerprint is a full corpus scan, never pay it twice
            if _os.path.exists(fp_path):
                fresh_fp = _docs_fingerprint()
                with open(fp_path) as fh:
                    stored = _json.load(fh)
                if {k: fresh_fp.get(k) for k in stored} != stored:
                    raise ValueError(
                        f"bucketed_warehouse {bucketed_warehouse!r} holds "
                        f"a DIFFERENT corpus (stored fingerprint {stored},"
                        f" this call's docs {fresh_fp}) and its table is "
                        f"not registrable in this session; point a new "
                        f"corpus at a new warehouse dir or delete "
                        f"{fp_path!r} + the table dir {table!r}"
                    )
            sig_df = (
                checkpoints.get_or_compute("signatures", _signatures)
                if checkpoints is not None
                else _signatures()
            )
            write_bucketed(
                sig_df,
                table,
                bucket_col="doc_id",
                num_buckets=spark.sparkContext.defaultParallelism,
                path=_os.path.join(bucketed_warehouse, table),
            )
            if fresh_fp is None:
                fresh_fp = _docs_fingerprint()
            with open(fp_path, "w") as fh:
                _json.dump(fresh_fp, fh)
            # auditable in job logs: which sketch state this run used
            metrics["warehouse"] = {
                "table": table, "reused": False, "fingerprint": fresh_fp,
            }
        else:
            got = _docs_fingerprint()
            if _os.path.exists(fp_path):
                with open(fp_path) as fh:
                    stored = _json.load(fh)
                # compare on the STORED file's fields so a fingerprint
                # written by an earlier guard version (fewer fields)
                # still validates on its own terms instead of always
                # mismatching; backfill the full form after it passes
                if {k: got.get(k) for k in stored} != stored:
                    raise ValueError(
                        f"bucketed_warehouse {bucketed_warehouse!r} holds "
                        f"a DIFFERENT corpus (stored fingerprint {stored},"
                        f" this call's docs {got}); point a new corpus at "
                        f"a new warehouse dir or drop the table {table!r}"
                    )
                if set(stored) != set(got):
                    with open(fp_path, "w") as fh:
                        _json.dump(got, fh)
            else:
                # pre-guard warehouse (no fingerprint recorded): the
                # stored table itself carries (doc_id, text), so the
                # FULL fingerprint is provable from it — compute it
                # there, require it to match this call's docs, and
                # record the TABLE-derived value (recording the
                # incoming corpus's fingerprint instead would
                # permanently validate a same-row-count mismatch)
                stored_fp = _fingerprint_of(
                    read_bucketed(spark, table), "doc_id"
                )
                if stored_fp != got:
                    raise ValueError(
                        f"bucketed_warehouse {bucketed_warehouse!r} holds "
                        f"a DIFFERENT corpus (stored table fingerprint "
                        f"{stored_fp}, this call's docs {got}); drop the "
                        f"table {table!r} or use a new warehouse dir"
                    )
                with open(fp_path, "w") as fh:
                    _json.dump(stored_fp, fh)
            metrics["warehouse"] = {
                "table": table, "reused": True, "fingerprint": got,
            }
        signatures = read_bucketed(spark, table)
    else:
        signatures = stage("signatures", _signatures)
    if checkpoints is None and bucketed_warehouse is None:
        # The cache must be POPULATED before the main job: its consumer
        # stages have no dependency edges between them, so the scheduler
        # launches them concurrently against a cold cache and each
        # re-runs the scan+dedup+sketch lineage (measured: 3× full
        # parquet scans + 2× dedup shuffles at 200k docs).  One count()
        # action materializes the subtree once, fully parallel.
        signatures.count()

    def _candidates() -> DataFrame:
        # both candidate lanes share one bucket table and one shuffle:
        # LSH bands (band ≥ 0) + winnow fingerprints (band = -1)
        bands = emit_bands(signatures, cfg, "doc_id")
        fps = signatures.where(F.col("fps").isNotNull()).select(
            "doc_id",
            F.lit(-1).alias("band"),
            F.explode("fps").alias("bucket"),
        )
        if cfg.sketch_mode == "md5":
            # md5-mode LSH buckets are strings; keep the (empty) fp
            # lane union type-consistent
            fps = fps.withColumn("bucket", F.col("bucket").cast("string"))
        return two_lane_candidate_pairs(
            bands.unionByName(fps), cfg, "doc_id"
        )

    if checkpoints is not None:
        candidates = stage("candidates", _candidates)
    else:
        # single consumer (verify) → stay fused, no pin needed
        candidates = _candidates()

    def _verified() -> DataFrame:
        # fused verify input: the signature-estimate gate (the
        # reference's hitsMin sketch threshold — drops ~99% of
        # boilerplate one-band collisions before any text is hashed)
        # and the per-pair text + simhash payload attach in ONE join
        # per pair side against the cached sketch+text table; then ONE
        # Arrow pass computes Jaccard AND the substring verdict (the
        # two-branch union re-executed the whole candidate chain twice
        # — half the full job at 200k docs)
        gated = gate_and_attach(candidates, signatures, cfg, "doc_id")
        dups = verified_dup_pairs(gated, cfg)
        # SimHash hamming annotation (second fingerprint lane) comes
        # free — sim_a/sim_b rode along with the fused attach
        return dups.withColumn(
            "simhash_hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        ).drop("sim_a", "sim_b")

    pairs = stage("pairs", _verified)

    def _clusters() -> DataFrame:
        # the doc-id universe comes from the cached sketch table — the
        # raw docs subtree is consumed exactly once (by the sketch pass)
        return cluster_assignments(
            signatures.select(F.col("doc_id").alias(id_col)), pairs, id_col
        )

    if checkpoints is not None:
        clusters = stage("clusters", _clusters)
    else:
        # single consumer (the caller's action) → no pin
        clusters = _clusters()

    return DedupResult(
        docs=docs,
        signatures=signatures,
        pairs=pairs,
        clusters=clusters,
        metrics=metrics,
    )
