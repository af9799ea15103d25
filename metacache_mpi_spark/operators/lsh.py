"""LSH banding over MinHash signatures → candidate duplicate pairs.

This is the Spark-first replacement for the reference's inverted index
and its MPI exchange:

- the hash_multimap ``feature → [(target, window)]``
  (/root/reference/src/sketch_database.h:201-206) becomes a band-bucket
  DataFrame keyed by ``(band, bucket)`` — the groupBy shuffle IS the
  hash table;
- index probing (``accumulate_matches``,
  /root/reference/src/sketch_database.h:804-833) becomes pair
  generation within buckets;
- overpopulated-feature removal + the 254-location insert cap
  (/root/reference/src/sketch_database.h:375-395,1088-1093) become a
  bucket-size cap that drops boilerplate buckets BEFORE any quadratic
  work — the critical guard at 10^12-doc scale.

Scale notes (100 TB / 1000 executors):
- Bands are emitted JVM-side (``posexplode`` + ``slice`` + ``xxhash64``)
  — no Python in this path.
- Pair generation uses ``groupBy(band, bucket) → collect_set → in-array
  pair expansion`` instead of a bucket self-join: one shuffle, and the
  cap bounds per-group work at cap²/2 ≈ 32K pairs, so no task can blow
  up on a hot bucket.  AQE skew-join remains enabled as backstop.
- Buckets of size 1 are pruned before expansion (most buckets, at any
  scale), and buckets above the cap are dropped entirely
  (non-discriminative boilerplate, exactly the reference's
  remove-overpopulated-features trade-off, docs/build.txt:46-50) — or,
  under ``oversize_policy="star"``, replaced by LINEAR hub edges so a
  near-identical mega-cluster (a page mirrored 10^5×) still reaches
  connected components instead of silently losing every pair.
- Every lane (text bands, winnow fingerprints, SimHash and sign-LSH
  bands) goes through the one count→cap→expand plan,
  :func:`bucket_pairs`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, DedupConfig
from ..functions.sketch import make_minhash_udf


# all ordered pairs within a sorted member array, expanded IN the array
# (bounded by the bucket cap — no self-join shuffle); shared by every
# bucketed candidate generator in the repo
PAIR_EXPANSION = (
    "flatten(transform(ids, (x, i) -> "
    "transform(slice(ids, i + 2, size(ids)), y -> struct(x as a, y as b))))"
)


def md5_signature_expr(k: int, s: int, text_col: str = "text") -> "F.Column":
    """SQL-expressible MinHash twin: lane i = min over k-shingles of
    ``md5(i ':' shingle)`` (hex string, lexicographic min) — the textops
    ``minhash_signatures`` formula packed into one array<string> column
    with no groupBy, so it drops into the pipeline where the pandas-UDF
    signature normally rides.  Null when the text holds no shingle
    (< k chars), matching the production lane's null rule.

    Scale note: the transform materializes ~len(text) 32-char md5
    strings per lane per row, so a multi-MB document costs hundreds of
    MB of transient executor memory.  This lane exists for ORACLE
    parity at fixture scale (DuckDB runs the same SQL); production
    corpora use the streaming kperm lane — see
    ``DedupConfig.sketch_mode``."""
    # distinct-before-hash: the lane min over a multiset equals the min
    # over its distinct values, so hashing each distinct shingle once
    # (instead of once per position per lane) is result-identical and
    # cuts the md5 count by the corpus's shingle repetition factor; the
    # shingle array is let-bound so it is built once per row, not once
    # per lane (the repetition_stats inlining discipline)
    shs = (
        f"array_distinct(transform(sequence(1, length({text_col}) - {k - 1}), "
        f"i -> substring({text_col}, i, {k})))"
    )
    return F.expr(
        f"CASE WHEN length({text_col}) >= {k} THEN "
        f"element_at(transform(array({shs}), shs -> "
        f"transform(sequence(0, {s - 1}), lane -> "
        f"array_min(transform(shs, s -> md5(concat(lane, ':', s)))))), 1) "
        f"ELSE NULL END"
    )


def attach_signature(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    text_col: str = "text",
    out_col: str = "signature",
) -> DataFrame:
    """Add the MinHash signature column (Arrow-batched pandas UDF; the
    ``md5`` sketch mode swaps in the Catalyst-expression twin)."""
    if cfg.sketch_mode == "md5":
        return df.withColumn(
            out_col, md5_signature_expr(cfg.shingle_k, cfg.sketch_size, text_col)
        )
    udf = make_minhash_udf(cfg.shingle_k, cfg.sketch_size, cfg.minhash_seed)
    return df.withColumn(out_col, udf(F.col(text_col)))


def emit_bands(
    sigs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    sig_col: str = "signature",
) -> DataFrame:
    """signature → one row per band: (id, band, bucket).

    ``bucket = xxhash64(band, slice(signature))`` — 64-bit, JVM-side.
    Docs with null signatures (shorter than one shingle) emit nothing:
    the band array is declared null-on-null-signature INSIDE the
    projection and a non-outer ``posexplode`` of null generates zero
    rows.  Deliberately NOT a ``where(signature IS NOT NULL)`` — a
    FILTER on a Python-UDF-computed column makes the optimizer evaluate
    the UDF twice (once below the pushed filter, once again in the
    projection; guide §4.4 — measured as the whole sketch stage
    re-running: 0.6 s → 2.5 s at sf0.1), while a second attribute
    reference within one projection is free.
    """
    r = cfg.rows_per_band
    band_arrays = F.expr(
        f"CASE WHEN {sig_col} IS NULL THEN NULL ELSE "
        f"transform(sequence(0, {cfg.bands - 1}), "
        f"b -> slice({sig_col}, b * {r} + 1, {r})) END"
    )
    # md5 mode keys buckets by the concatenated lane strings (the SQL
    # oracle's string_agg) instead of xxhash64, which DuckDB lacks
    bucket = (
        F.concat_ws("|", "band_sig").alias("bucket")
        if cfg.sketch_mode == "md5"
        else F.xxhash64("band", "band_sig").alias("bucket")
    )
    return sigs.select(
        F.col(id_col), F.posexplode(band_arrays).alias("band", "band_sig")
    ).select(id_col, "band", bucket)


def _star_edges(
    members: DataFrame,
    id_col: str,
    bucket_cols: list[str],
) -> DataFrame:
    """Hub edges (bucket-min id → member) for OVERSIZED buckets.

    The mega-cluster path of ``oversize_policy="star"``: instead of the
    n²/2 in-array expansion (whose collected array itself is the
    scale hazard — 10^7 ids in one aggregation buffer), each member of
    an oversized bucket pairs with the bucket's minimum id.

    ``members`` = (bucket_cols..., id) rows of oversized buckets,
    already dedup'd on the full key (the in-array path gets that for
    free from ``collect_set``).  The hub is a ``groupBy().min()`` —
    partial aggregation map-side, constant state — joined back
    shuffle-hash with the single-row-per-bucket hub side as the build:
    members STREAM through the join task, so even a 10^7-member bucket
    costs no sort and no buffering (a window-min formulation would
    buffer the whole bucket in one task's frame).  Output is O(n) rows.
    Connected components later glues members through the shared hub, so
    cluster recall over a verified mega-cluster is 1.0 (vs 0 under
    "drop"); chance collisions are still killed by the verify gate."""
    hubs = members.groupBy(*bucket_cols).agg(F.min(id_col).alias("hub"))
    return (
        members.join(hubs.hint("shuffle_hash"), bucket_cols)
        .where(F.col(id_col) != F.col("hub"))
        .select(
            *bucket_cols,
            F.col("hub").alias("a"),
            F.col(id_col).alias("b"),
        )
    )


def bucket_pairs(
    rows: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    cap: int,
    oversize_policy: str,
) -> DataFrame:
    """Bucket-membership rows → ``(bucket_cols..., a, b)`` with a < b:
    one row per bucket a pair shares.  The one bucket→candidate
    mechanism behind every LSH lane (text bands and winnow fingerprints,
    SimHash bands, sign-LSH bands) — the reference's inverted index and
    its overpopulated-feature removal (reference
    src/sketch_database.h:375-395,1088-1093) as one count→cap→expand
    plan:

    1. bucket sizes are counted FIRST (map-side partial aggregation —
       no state blowup on hot keys), and only surviving buckets are
       collected into arrays: collecting before filtering would
       materialize a mega-hot bucket (a boilerplate shingle present in
       10^7 docs) on a single reducer.  This count→prune→collect shape
       is the reference's MPI tree-reduce + Bcast-prune (D3/D4,
       src/mode_build.cpp:847-1074) as two shuffles;
    2. size-1 buckets produce no pairs → pruned (the bulk of all
       buckets);
    3. buckets larger than ``cap`` follow ``oversize_policy``:
       ``"drop"`` discards them (overpopulated-feature removal, same
       recall trade-off as docs/build.txt:46-50); ``"sample"`` keeps a
       deterministic xxhash-ordered subset of ``cap`` members (partial
       retention — the reference's insert-time 254-cap keeps-first
       instead); ``"star"`` replaces them by linear hub edges
       (:func:`_star_edges` — mega-cluster recall without the quadratic
       blowup);
    4. survivors expand to pairs INSIDE the collected sorted member
       array (:data:`PAIR_EXPANSION`): one shuffle, per-task work
       bounded by cap²/2.

    The surviving-bucket set grows WITH the corpus (≈ one row per
    duplicate group) — never a broadcast dim: the join-back is hinted
    shuffle_hash so AQE doesn't "optimize" it into a broadcast build
    (measured: tens of executor-CPU-seconds building 1M-row broadcast
    relations, worse at higher core counts), and the shuffle join
    reuses the exchange the sizes aggregation just produced on the same
    key.  Both aggregations partial-aggregate map-side and per-group
    state is bounded by the cap after the join, so no key salting is
    needed; AQE skew-join splitting covers the residual join skew.

    Under "star" ONE sizes aggregation and ONE join carry both branches
    (an ``oversized`` flag rides the join).  The union still fans the
    joined subtree out twice and Spark does NOT stage-reuse through
    ArrowEvalPython lineages (measured: 0 ReusedExchange), so callers
    whose rows ride an unpinned UDF lineage should persist upstream —
    dedup_pipeline's signature stage already does.
    """
    if oversize_policy not in ("drop", "sample", "star"):
        raise ValueError(f"unknown oversize_policy {oversize_policy!r}")
    keys = bucket_cols
    sizes = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    multi = sizes.where(F.col("n") >= 2)
    if oversize_policy == "drop":
        keep = multi.where(F.col("n") <= cap).select(*keys)
    elif oversize_policy == "sample":
        keep = multi.select(*keys)
    else:
        keep = multi.select(*keys, (F.col("n") > cap).alias("oversized"))
    kept = rows.join(keep.hint("shuffle_hash"), keys)
    small = kept
    if oversize_policy == "sample":
        # sample order is keyed by the BUCKET too: a mega-cluster whose
        # members collide in every band then keeps a DIFFERENT cap-sized
        # subset per band (union coverage ∝ bands·cap, glued by CC
        # transitivity) instead of the same subset bands times
        key_sql = ", ".join(keys)
        w_rank = F.expr(
            f"row_number() OVER (PARTITION BY {key_sql} "
            f"ORDER BY xxhash64({key_sql}, {id_col}), {id_col})"
        )
        small = kept.withColumn("rnk", w_rank).where(F.col("rnk") <= cap)
    elif oversize_policy == "star":
        small = kept.where(~F.col("oversized"))
    pairs = (
        small.groupBy(*keys)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .select(*keys, F.explode(F.expr(PAIR_EXPANSION)).alias("p"))
        .select(*keys, "p.a", "p.b")
    )
    if oversize_policy != "star":
        return pairs
    # hub edges for the oversized remainder: dedup on the full
    # membership key (duplicate fp rows must not inflate hit counts —
    # the distinct's reduce-side state is the bucket's unique-id hash
    # set, spillable), then groupBy-min hub + streamed join-back
    big_members = (
        kept.where(F.col("oversized")).select(*keys, id_col).distinct()
    )
    return pairs.unionByName(_star_edges(big_members, id_col, keys))


def _pair_stream(bands: DataFrame, cfg: DedupConfig, id_col: str) -> DataFrame:
    """(band, a, b) candidate co-occurrence rows under the configured
    oversize policy.  Shared by :func:`candidate_pairs` and
    :func:`two_lane_candidate_pairs`; the downstream groupBy(a, b) turns
    row counts into band/fp hit counts."""
    return bucket_pairs(
        bands, id_col, ["band", "bucket"], cfg.max_docs_per_bucket,
        cfg.oversize_policy,
    ).select("band", "a", "b")


def bucket_join_pairs(
    rows: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket: int,
    oversize_policy: str = "drop",
) -> DataFrame:
    """Distinct candidate pairs (a < b) from bucket-membership rows —
    :func:`bucket_pairs` without the per-bucket multiplicity.  Used by
    the SimHash and sign-LSH banded lanes; the text-LSH lane keeps the
    per-pair band-hit counts (:func:`candidate_pairs`)."""
    return (
        bucket_pairs(rows, id_col, bucket_cols, max_bucket, oversize_policy)
        .select("a", "b")
        .distinct()
    )


def candidate_pairs(
    bands: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs (a < b) with band-collision counts.

    ``band_hits`` is the number of bands in which the pair collides —
    the analog of the reference's per-candidate hit count
    (/root/reference/src/candidates.h:41-102); downstream thresholds can
    mirror ``hitsMin`` (/root/reference/src/mode_query.cpp:247-260).

    Oversized buckets follow ``cfg.oversize_policy`` (config.py): pairs
    expand in-array under the cap; "star" adds linear hub edges for
    mega-buckets instead of dropping them.
    """
    pairs = _pair_stream(bands, cfg, id_col)
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("band_hits"))
        .where(F.col("band_hits") >= cfg.min_band_hits)
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """docs → candidate pairs, end to end (signature → bands → pairs).

    The band table is pinned: the count-first pair machinery consumes
    it twice (bucket sizes, then the join-back), Spark does not
    stage-reuse through ArrowEvalPython lineages, and the md5 sketch
    mode's signature expression is interpreted HOF work — unpinned,
    the whole sketch stage executes once per consumer (the
    dedup_pipeline persists its signature stage for the same reason).
    The sizes aggregation materializes the cache before the join-back
    stage can start, so no extra action is scheduled."""
    from ..plans.pinning import pin

    sigs = attach_signature(docs.select(id_col, text_col), cfg, text_col)
    bands = pin(emit_bands(sigs, cfg, id_col))
    return candidate_pairs(bands, cfg, id_col)


def two_lane_candidate_pairs(
    rows: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs from a UNIFIED bucket table carrying both lanes.

    ``rows`` = (id, band, bucket) where band ≥ 0 marks LSH bands and
    band = -1 marks winnowing fingerprints.  One groupBy shuffle serves
    both lanes (the separate-lane path costs two); emits per-lane hit
    counts and keeps pairs passing either lane's threshold.  Oversized
    buckets in EITHER lane follow ``cfg.oversize_policy``.
    """
    pairs = _pair_stream(rows, cfg, id_col)
    agg = pairs.groupBy("a", "b").agg(
        F.sum(F.when(F.col("band") >= 0, 1).otherwise(0)).alias("band_hits"),
        F.sum(F.when(F.col("band") < 0, 1).otherwise(0)).alias("fp_hits"),
    )
    return agg.where(
        (F.col("band_hits") >= cfg.min_band_hits)
        | (F.col("fp_hits") >= cfg.min_fp_hits)
    )
