"""Oracle-friendly text operators over the ``documents`` table.

These are the SQL-expressible counterparts of the pipeline's sketching
operators — built ONLY from JVM-side ``pyspark.sql.functions`` (md5,
substring, split, window aggregates), so Catalyst/Tungsten runs the
whole plan with no Python in the loop, and a DuckDB oracle can compute
the identical result (driver contract, ``__spark_entry__.py``).

Hashes here are md5-hex-string based (portable across engines, min is
lexicographic); the production pipeline in ``functions/sketch.py`` uses
the faster NumPy uint32 path.  Semantics mirrored from the reference:

- shingling = k-mer windowing (/root/reference/src/dna_encoding.h:261-289)
- df-capped "discriminative" shingles = overpopulated-feature removal
  (/root/reference/src/sketch_database.h:381-395)
- MinHash lanes = the Sketcher swap point (/root/reference/src/config.h:92-95)
- LSH band buckets = the feature→locations hash multimap
  (/root/reference/src/sketch_database.h:201-206)
- winnowing = fingerprint selection for the substring-verify lane
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

NGRAM_K = 8          # shingle chars for the documents table (short docs)
DF_CAP = 100         # stop-shingle document-frequency cap (P13 analog)
JACCARD_TAU = 0.5
MINHASH_LANES = 8
BAND_ROWS = 2        # lanes per LSH band
WINNOW_W = 50        # winnowing window (shingle positions)

_HEX_HIGH = ["8", "9", "a", "b", "c", "d", "e", "f"]


def shingles(docs: DataFrame, k: int = NGRAM_K) -> DataFrame:
    """(doc_id, sh): distinct k-char shingles per document (JVM-side)."""
    arr = F.expr(
        f"array_distinct(transform(sequence(1, length(text) - {k - 1}), "
        f"i -> substring(text, i, {k})))"
    )
    return (
        docs.where(F.length("text") >= k)
        .select("doc_id", F.explode(arr).alias("sh"))
    )


def discriminative_shingles(
    docs: DataFrame, k: int = NGRAM_K, cap: int = DF_CAP
) -> DataFrame:
    """Shingles with document frequency ≤ cap (stop-shingle removal)."""
    sh = shingles(docs, k)
    keep = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= cap)
        .select("sh")
    )
    # the surviving-shingle set scales with the corpus — shuffle join,
    # not a broadcast build (see lsh.bucket_pairs scale note)
    return sh.join(keep.hint("shuffle_hash"), "sh")


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = NGRAM_K,
    cap: int = DF_CAP,
    tau: float = JACCARD_TAU,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ τ pairs over discriminative shingles.

    The brute-force dedup baseline (shingle-level equi join); the LSH
    path below approximates exactly this at scale.
    """
    # Grouped-by-shingle formulation (guide §2.3-2.4): ONE
    # groupBy(sh) collects each shingle's (df-capped, sorted) doc list,
    # and ONE further aggregation serves BOTH downstream needs — pair
    # intersection counts (in-array pair expansion, bounded by cap²/2
    # per shingle) and per-doc surviving-shingle sizes (a unit row per
    # (doc, NULL) key riding the same exchange).  The old shape
    # self-joined the exploded (doc_id, sh) rows (a corpus-sized build
    # side — at sf0.1 a ~10⁶-row BroadcastExchange) and computed the
    # sizes aggregation TWICE (once per join side); this computes each
    # quantity once and shuffles corpus-scale data exactly twice
    # (groupBy(sh), then the fused pair/size groupBy).
    from ..plans.pinning import pin
    from .lsh import PAIR_EXPANSION

    g = (
        shingles(docs, k)
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") <= cap)
        .select("ids")
    )
    # one exchange for pairs AND sizes: unit rows (doc, NULL) count the
    # doc's surviving shingles; (a, b) rows count shared shingles
    unit_rows = "transform(ids, x -> struct(x as a, CAST(NULL AS BIGINT) as b))"
    m = pin(
        g.select(
            F.explode(
                F.expr(f"concat({unit_rows}, {PAIR_EXPANSION})")
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    inter = m.where(F.col("b").isNotNull())
    sa = m.where(F.col("b").isNull()).select(
        F.col("a"), F.col("c").alias("na")
    )
    sb = m.where(F.col("b").isNull()).select(
        F.col("a").alias("b"), F.col("c").alias("nb")
    )
    uni = F.col("na") + F.col("nb") - F.col("c")
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .where(F.col("c") / uni >= tau)
        .select(
            "a",
            "b",
            F.floor(F.col("c") * 1000000.0 / uni).cast("long").alias("jacc_micro"),
        )
    )


def contamination_pairs(
    corpus: DataFrame,
    evalset: DataFrame,
    k: int = NGRAM_K,
    cap: int = DF_CAP,
    min_containment_milli: int = 500,
    exclude_self: bool = True,
) -> DataFrame:
    """Benchmark-contamination scan: for every (corpus doc, eval doc)
    pair sharing k-shingles, the CONTAINMENT of the eval doc in the
    corpus doc — |shingles(corpus) ∩ shingles(eval)| ·1000 /
    |shingles(eval)| as an exact milli-ratio.  The standard
    train/test-leak check of LLM data pipelines, built from the same
    probe machinery as the reference's index query (J1: shingle equi
    join; P13: stop-shingle df-cap on the corpus side so boilerplate
    shingles never fan out).

    (doc_id, eval_id, common_shingles, containment_milli), pairs with
    containment ≥ threshold.  ``exclude_self`` drops doc_id == eval_id
    pairs — correct when the eval set is drawn FROM the corpus (the
    contract fixture); an EXTERNAL eval set with its own id namespace
    must pass ``exclude_self=False``, or an id that happens to collide
    with a corpus id would silently mask a real leak (clean_job does).

    Scale: corpus side is df-capped BEFORE the join (count-first, the
    overpopulated-feature guard); the eval set is the small side but
    joins by shingle hash — `shuffle_hash` hinted, never a broadcast of
    the corpus.  Denominator is the eval doc's UNCAPPED shingle count,
    so scores are conservative under the cap.
    """
    return _containment_pairs(
        shingles(corpus, k), es=shingles(evalset, k).select(
            F.col("doc_id").alias("eval_id"), "sh"
        ),
        cap=cap,
        min_containment_milli=min_containment_milli,
        exclude_self=exclude_self,
    )


def _containment_pairs(
    corpus_sh: DataFrame,
    es: DataFrame,
    cap: int,
    min_containment_milli: int,
    exclude_self: bool,
) -> DataFrame:
    """Shared exact tail of the decontamination lanes: df-capped corpus
    shingles × eval shingles equi join → per-pair containment milli.

    Grouped-by-shingle shape (guide §2.3): the corpus side is ONE
    groupBy(sh) collecting each shingle's doc list with the df-cap as a
    filter on the collected size — the old count-then-join-back shape
    shuffled the corpus (doc_id, sh) rows a second time just to apply
    the cap.  The grouped rows (≤ cap ids each) then equi-join the eval
    shingles and expand doc ids in-array, so the join carries one row
    per distinct shingle instead of one per corpus occurrence.  The cap
    semantics are unchanged: df = collected-list size = corpus
    occurrence count of the shingle (shingle rows are distinct per
    doc).
    """
    sizes = es.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_eval_sh")
    )
    g = (
        corpus_sh.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") <= cap)
    )
    hits = (
        g.join(es.hint("shuffle_hash"), "sh")
        .select(F.explode("ids").alias("doc_id"), "eval_id")
    )
    if exclude_self:
        hits = hits.where(F.col("doc_id") != F.col("eval_id"))
    hits = hits.groupBy("doc_id", "eval_id").agg(
        F.count(F.lit(1)).alias("common_shingles")
    )
    return (
        hits.join(sizes, "eval_id")
        .select(
            "doc_id",
            "eval_id",
            "common_shingles",
            F.expr("common_shingles * 1000 div n_eval_sh")
            .cast("long")
            .alias("containment_milli"),
        )
        .where(F.col("containment_milli") >= min_containment_milli)
    )


def contamination_pairs_bloom(
    corpus: DataFrame,
    evalset: DataFrame,
    k: int = NGRAM_K,
    cap: int = DF_CAP,
    min_containment_milli: int = 500,
    exclude_self: bool = True,
    handle_out: list | None = None,
) -> DataFrame:
    """`contamination_pairs` with a broadcast Bloom prefilter — same
    rows, bit for bit (shares the exact lane's DuckDB oracle), but the
    100 TB plan: the exact lane shuffles EVERY corpus shingle into the
    df-cap groupBy and the eval join even though ~none can match; here
    a bitset built from the eval shingles (driver build is ∝ |eval|,
    guarded in functions/bloom.py) drops non-members MAP-SIDE, so both
    downstream shuffles only carry the O(|eval|) survivors plus a
    ~0.1 % false-positive trickle that the exact join removes.

    The df-cap stays exact under the prefilter: bloom membership is a
    function of the shingle VALUE, so a surviving shingle keeps ALL its
    occurrences and its document frequency is unchanged — the cap
    decides on corpus-global df for every shingle that can reach the
    join (dropped shingles are non-members, which could never join).
    """
    from ..functions.bloom import bloom_filter_df, build_bloom

    es = shingles(evalset, k).select(
        F.col("doc_id").alias("eval_id"), "sh"
    )
    bits, m_bits, n_hashes = build_bloom(es, "sh")
    # handle_out (optional): forwards the bitset-broadcast release
    # handle so looping callers can destroy it post-materialization
    pre = bloom_filter_df(
        shingles(corpus, k), "sh", bits, m_bits, n_hashes,
        handle_out=handle_out,
    )
    # the df-cap rides the shared grouped tail: bloom survival is a
    # function of the shingle VALUE, so a surviving shingle keeps ALL
    # its occurrences and its collected-list size IS its corpus df —
    # identical cap decisions to the exact lane for every shingle that
    # can reach the join
    return _containment_pairs(
        pre, es, cap, min_containment_milli, exclude_self
    )


def _minhash_wide(
    docs: DataFrame, k: int, lanes: int
) -> DataFrame:
    """(doc_id, m0..m{lanes-1}): per-lane md5-string MinHash minima as a
    WIDE row — the shared front half of :func:`minhash_signatures` and
    :func:`lsh_band_buckets`.

    Shape note (measured, r7): the lane minima must stay a
    groupBy-of-exploded-shingles — md5 inside a higher-order-function
    lambda is evaluated INTERPRETED (HOF lambdas don't participate in
    whole-stage codegen), and a row-local
    ``transform(lanes, array_min(transform(shs, md5...)))`` rewrite
    measured 11-20 s vs 2.1 s for this shape at sf0.1.  The explode +
    8-parallel-min aggregation keeps every md5 in codegen'd projection
    code; min(string) costs a SortAggregate pair, which is still 5-10×
    cheaper than interpreted md5.
    """
    sh = shingles(docs, k)
    aggs = [
        F.min(
            F.md5(F.concat(F.lit(f"{lane}:"), F.col("sh")))
        ).alias(f"m{lane}")
        for lane in range(lanes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame, k: int = NGRAM_K, lanes: int = MINHASH_LANES
) -> DataFrame:
    """(doc_id, lane, minh): md5-string MinHash, one row per lane.

    All lane minima are computed as parallel ``min`` aggregates over the
    UN-exploded shingle rows (one groupBy of n_shingles rows, 8 agg
    expressions) instead of exploding shingles × lanes through the
    shuffle — 8× less shuffle volume for the same result; the per-lane
    rows are then unpivoted with ``stack``.
    """
    wide = _minhash_wide(docs, k, lanes)
    stack_expr = ", ".join(
        f"CAST({lane} AS BIGINT), m{lane}" for lane in range(lanes)
    )
    return wide.selectExpr(
        "doc_id", f"stack({lanes}, {stack_expr}) AS (lane, minh)"
    )


def lsh_band_buckets(
    docs: DataFrame,
    k: int = NGRAM_K,
    lanes: int = MINHASH_LANES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """(doc_id, band, bucket): concatenated lane-mins per band.

    Buckets are assembled ROW-LOCALLY from the wide lane-min row
    (``concat_ws`` of plain columns — codegen'd, no HOF) and unpivoted
    with one ``posexplode``.  The old shape unpivoted the signature to
    long form first and re-grouped it with a collect_list aggregation,
    which cost a second Exchange (hashpartitioning(doc_id, band)) plus
    an ObjectHashAggregate sort-and-transform per bucket for what is a
    per-row string concatenation (guide §2.4: same-keyed operations
    should share one partitioning — here the second grouping is
    eliminated outright).
    """
    wide = _minhash_wide(docs, k, lanes)
    n_bands = -(-lanes // band_rows)
    buckets = [
        F.concat_ws(
            "|",
            *[
                F.col(f"m{lane}")
                for lane in range(
                    b * band_rows, min((b + 1) * band_rows, lanes)
                )
            ],
        )
        for b in range(n_bands)
    ]
    return wide.select(
        "doc_id", F.posexplode(F.array(*buckets)).alias("band", "bucket")
    ).select("doc_id", F.col("band").cast("long").alias("band"), "bucket")


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = NGRAM_K,
    lanes: int = MINHASH_LANES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """Distinct candidate pairs colliding in ≥1 LSH band.

    Pairs expand IN the collected member array after one
    groupBy(band, bucket) — the production lane's shape
    (``bucket_join_pairs``) minus the cap: this is the UNCAPPED oracle
    mirror of the DuckDB self-join SQL, so the result set is exact.
    One shuffle, no pinned bucket table; measured 1.4-1.9 s vs the old
    self-join's 1.9-5.1 s at sf0.1 (guarded split variants cost 2-5×:
    sizes/semi-join passes re-shuffle the 64-char md5 bucket keys).

    Degenerate-input boundary (declared, like the O(n²) brute
    oracles): a bucket of m members builds an m²/2-struct row, so
    >~10⁴ docs sharing a band signature will stress one task — at
    which point the uncapped QUERY is degenerate in any engine
    (DuckDB's self-join emits the same m²/2 rows).  Production corpora
    use the capped lanes (``lsh.candidate_pairs`` /
    ``bucket_join_pairs``), which drop or sample such buckets
    (the reference's overpopulated-feature rule)."""
    from .lsh import PAIR_EXPANSION

    b = lsh_band_buckets(docs, k, lanes, band_rows)
    grouped = (
        b.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    return (
        grouped.select(F.explode(F.expr(PAIR_EXPANSION)).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def minhash_lsh_star_pairs(
    docs: DataFrame,
    k: int = NGRAM_K,
    lanes: int = MINHASH_LANES,
    band_rows: int = BAND_ROWS,
    cap: int = 4,
) -> DataFrame:
    """Candidate pairs under the ``"star"`` oversize policy: buckets at
    or below ``cap`` expand all pairs in-array, oversized buckets emit
    linear hub edges (bucket-min doc → member) instead of being dropped
    — the mega-cluster-preserving skew guard (``lsh._star_edges``),
    here on the md5-string lane so DuckDB can replay it exactly
    (window COUNT/MIN per bucket + a hub projection)."""
    from .lsh import bucket_join_pairs

    b = lsh_band_buckets(docs, k, lanes, band_rows)
    return bucket_join_pairs(
        b, "doc_id", ["band", "bucket"], cap, oversize_policy="star"
    )


def simhash16(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 16-bit SimHash over single-space tokens.

    Bit i = majority vote of the high bit of hex digit i of md5(token)
    (vote > 0 ⟺ 2·high_count > n_tokens).  ROW-LOCAL: the token md5
    array is let-bound once per row and the 16 bit votes are cheap
    ``filter``-count passes over it — no explode, no groupBy, no
    shuffle (the old shape shuffled every token row into a 16-way
    conditional aggregation; guide §2.4).
    """
    highs = ", ".join(f"'{h}'" for h in _HEX_HIGH)
    terms = " + ".join(
        f"(CASE WHEN 2 * size(filter(hs, h -> substring(h, {i + 1}, 1) "
        f"IN ({highs}))) > size(hs) THEN {1 << i} ELSE 0 END)"
        for i in range(16)
    )
    expr = (
        "element_at(transform(array(transform(split(text, ' '), "
        f"t -> md5(t))), hs -> CAST({terms} AS BIGINT)), 1)"
    )
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.expr(expr).alias("simhash")
    )


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Brute-force SimHash near-dup pairs (hamming ≤ max_hamming).

    O(n²) baseline — the banded LSH variants are the scale path; this
    exists as the exactness oracle for them.
    """
    fp = simhash16(docs)
    x, y = fp.alias("x"), fp.alias("y")
    ham = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    ).alias("hamming")
    return (
        x.crossJoin(y)
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            ham,
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_banded_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int | None = None,
    bands: int | None = None,
    fingerprints: DataFrame | None = None,
    max_bucket: int = 1024,
    oversize_policy: str = "drop",
) -> DataFrame:
    """Production SimHash near-dup lane: banded equi-join, no cross join.

    Pigeonhole guarantee: two fingerprints within ``max_hamming`` bit
    flips must agree on ≥1 of ``bands`` disjoint bit-bands whenever
    ``bands > max_hamming`` (default bands = max_hamming + 1) — so the
    banded lane returns EXACTLY the brute-force pair set whenever no
    bucket overflows ``max_bucket``, while replacing the O(n²) cross
    join with one band-bucket shuffle — the same banding move the
    reference's hash multimap makes for k-mer sketches
    (/root/reference/src/sketch_database.h:201-206).

    Scale geometry is the DEFAULT: with no ``fingerprints``/``bits``
    given, the lane computes the production 64-bit pipeline SimHash
    (functions/sketch.simhash64, Arrow-batched) — 4 bands × 16 bits =
    65k buckets per band.  ``bits=16`` selects the relational
    :func:`simhash16` demo fingerprint (the DuckDB-oracle parity lane).

    Skew guard: candidates route through
    :func:`~..lsh.bucket_join_pairs` — bucket sizes are counted first
    and any (band, bband) bucket above ``max_bucket`` is dropped (the
    overpopulated-feature rule, sketch_database.h:375-395: a degenerate
    fingerprint — the all-zero SimHash of empty/boilerplate docs — is
    non-discriminative boilerplate, and an uncapped self-join would put
    its n² pair work in one task).  The post-join hamming filter keeps
    every emitted pair exact.
    """
    from .lsh import bucket_join_pairs

    if fingerprints is None:
        if bits is None or bits == 64:
            from ..functions.sketch import make_simhash_udf

            bits = 64
            fp = docs.select(
                "doc_id", make_simhash_udf()(F.col("text")).alias("simhash")
            )
        elif bits == 16:
            fp = simhash16(docs)
        else:
            raise ValueError(f"no default fingerprint for bits={bits}")
    else:
        fp = fingerprints
        if bits is None:
            # NEVER guess the width of a caller-supplied fingerprint:
            # assuming 64 over a legacy 16-bit table shifts bands 1-3
            # past the real bits (all-zero degenerate buckets — recall
            # silently collapses to band 0, or O(n²) candidates below
            # the cap).  Make the caller state it.
            raise ValueError(
                "fingerprints= requires an explicit bits= width "
                "(e.g. bits=16 for simhash16 tables, bits=64 for the "
                "pipeline fingerprint)"
            )
    if bands is None:
        bands = max_hamming + 1
    assert bands > max_hamming, "pigeonhole needs bands > max_hamming"
    # fp feeds the band emission AND both verify sides — pin the
    # (one-row-per-doc) fingerprint table once with persist() instead
    # of recomputing the UDF/aggregation chain three times (same move
    # as ngram_jaccard_pairs; NOT localCheckpoint — its .rdd call under
    # AQE executes upstream shuffles serially on the driver)
    fp = fp.persist()
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = fp.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> shiftright(simhash, b * {band_bits}) & {mask}L)"
            )
        ).alias("band", "bband"),
    )
    cand = bucket_join_pairs(
        banded, "doc_id", ["band", "bband"], max_bucket, oversize_policy
    )
    fa = fp.select(F.col("doc_id").alias("a"), F.col("simhash").alias("_sim_a"))
    fb = fp.select(F.col("doc_id").alias("b"), F.col("simhash").alias("_sim_b"))
    ham = F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b"))).alias(
        "hamming"
    )
    return (
        cand.join(fa, "a")
        .join(fb, "b")
        .select("a", "b", ham)
        .where(F.col("hamming") <= max_hamming)
    )


def winnow_fingerprint_stats(
    docs: DataFrame, k: int = NGRAM_K, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, n_fps, min_fp): winnowing fingerprint selection as a
    sliding window-min over positional shingle hashes (W3 range-frame
    machinery, /root/reference/src/candidates.h:144-165 analog).

    ROW-LOCAL: the positional md5 array is let-bound once per row and
    the per-position window minima are ``array_min(slice(...))`` over
    it — the old posexplode + Window(partitionBy doc_id) + groupBy
    shape paid an Exchange, a per-doc sort and four SortAggregates for
    what is a per-document array computation (guide §2.4).  ``min_fp``
    (the min over all window minima) equals the GLOBAL hash min —
    every window min is an element of ``hs`` and the window anchored at
    the global min's position reports it — so it reads ``array_min(hs)``
    directly instead of re-deriving the window mins.
    """
    hs = (
        f"transform(sequence(1, length(text) - {k - 1}), "
        f"i -> md5(substring(text, i, {k})))"
    )
    mins = (
        f"transform(sequence(1, size(hs)), i -> array_min(slice(hs, i, {w})))"
    )
    st = (
        f"element_at(transform(array({hs}), hs -> "
        f"struct(size(array_distinct({mins})) AS n_fps, "
        f"array_min(hs) AS min_fp)), 1)"
    )
    return (
        docs.where(F.length("text") >= k)
        .select("doc_id", F.expr(st).alias("_wst"))
        .select(
            "doc_id",
            F.col("_wst.n_fps").cast("long").alias("n_fps"),
            F.col("_wst.min_fp").alias("min_fp"),
        )
    )


# ---------------------------------------------------------------------------
# text analysis: token stats, quality, language id
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "es": [" el ", " la ", " que "],
}


def _occurrences(col, pat: str):
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit(""))))
        / len(pat)
    ).cast("long")


# BPE-ish word-piece pattern: letter runs, digit runs, or single
# non-alphanumeric marks — a rough proxy for subword token counts
BPE_PATTERN = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 \\n\\t]"


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_bpe_pieces, n_chars_text): whitespace
    tokenization plus a BPE-ish regex piece count."""
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{BPE_PATTERN}', 0)"))
        .cast("long")
        .alias("n_bpe_pieces"),
        F.length("text").cast("long").alias("n_chars_text"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-doc quality signals as exact integers (milli-ratios)."""
    n = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^a-z]", ""))
    digit = F.length(F.regexp_replace("text", "[^0-9]", ""))
    space = F.length(F.regexp_replace("text", "[^ ]", ""))
    stop = sum(_occurrences(F.col("text"), p) for p in _STOPWORDS["en"])
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_chars_text"),
        F.floor(alpha * 1000.0 / n).cast("long").alias("alpha_milli"),
        F.floor(digit * 1000.0 / n).cast("long").alias("digit_milli"),
        F.floor(space * 1000.0 / n).cast("long").alias("space_milli"),
        stop.alias("en_stop_hits"),
    ).where(n > 0)


# Shared SQL fragments for the repetition signals — used by BOTH
# repetition_stats (the authoritative contract operator, where `w` and
# `sg` are projected columns) and quality_gate (the fused filter, where
# the same identifiers are HOF lambda variables).  One definition, two
# binding contexts: a fix to either hazard documented below lands in
# both formulations at once (the set-equality test in test_webops
# guards the pairing).
#
# repeated word occurrences per 1000 words (integer div — BIGINT-exact)
_DUP_WORD_MILLI_SQL = (
    "(size(w) - size(array_distinct(w))) * 1000 div size(w)"
)
# sorted 2-gram array over the word array `w` (zip_with over shifted
# slices: every array-valued subexpression is a HOF *input*, evaluated
# once per row — see the lambda-purity note in repetition_stats)
_SORTED_2GRAMS_SQL = (
    "array_sort(zip_with(slice(w, 1, size(w) - 1), "
    "slice(w, 2, size(w) - 1), (x, y) -> concat(x, ' ', y)))"
)
# mode count of the SORTED gram array `sg` = longest equal-neighbor
# run + 1, per 1000 grams; 0 when there is no 2-gram
_TOP_2GRAM_MILLI_SQL = """
    CAST(CASE WHEN size(w) < 2 THEN 0 ELSE
      aggregate(
        zip_with(slice(sg, 1, size(sg) - 1), slice(sg, 2, size(sg) - 1),
                 (x, y) -> x = y),
        struct(CAST(1 AS BIGINT) AS cur, CAST(1 AS BIGINT) AS best),
        (acc, e) -> IF(
          e,
          struct(acc.cur + CAST(1 AS BIGINT) AS cur,
                 greatest(acc.best, acc.cur + CAST(1 AS BIGINT)) AS best),
          struct(CAST(1 AS BIGINT) AS cur, acc.best AS best)),
        acc -> acc.best) * 1000 div size(sg)
    END AS BIGINT)
"""


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document, as exact
    fixed-point milli-ratios (BIGINT, integer ``div`` — no float
    rounding, so a DuckDB oracle reproduces the values bit-for-bit).

    (doc_id, n_words, dup_word_milli, dup_line_milli, top_2gram_milli):

    - ``dup_word_milli``  — repeated word occurrences / total words
    - ``dup_line_milli``  — repeated lines / total lines (0 for
      single-line corpora, load-bearing on real web text)
    - ``top_2gram_milli`` — occurrences of the most frequent word
      2-gram / total 2-grams

    The whole operator is ONE narrow map — no explode, no join, no
    shuffle: the 2-gram mode count equals the longest equal-run in the
    SORTED per-row gram array (an O(n log n) array expression), so at
    corpus scale this is a pure scan stage.  The DuckDB oracle states
    the same quantity as the idiomatic unnest → group-by mode — two
    formulations, one result.
    """
    # LAMBDA-PURE discipline: every higher-order-function lambda below
    # touches ONLY its bound variables.  Predicate pushdown substitutes
    # alias definitions into pushed conditions with no cost guard, and
    # any expression INSIDE a lambda body re-evaluates per element — an
    # element_at(sg, i) formulation re-sorted the whole gram array per
    # aggregate iteration once a filter on top_2gram_milli was pushed
    # through the projection (measured: a 500-doc count went from 0.7 s
    # to unbounded).  With zip_with over slices, array-valued
    # subexpressions are HOF *inputs* — evaluated once per row per
    # inlined copy, never per element.
    dup_lines = (
        "(size(lns) - size(array_distinct(lns))) * 1000 div size(lns)"
    )
    return (
        docs.where(F.length("text") > 0)
        .withColumn("w", F.split("text", " "))
        .withColumn("lns", F.split("text", "\n"))
        .withColumn("sg", F.expr(_SORTED_2GRAMS_SQL))
        .select(
            "doc_id",
            F.expr("size(w)").cast("long").alias("n_words"),
            F.expr(_DUP_WORD_MILLI_SQL).cast("long")
            .alias("dup_word_milli"),
            F.expr(dup_lines).cast("long").alias("dup_line_milli"),
            F.expr(_TOP_2GRAM_MILLI_SQL).alias("top_2gram_milli"),
        )
    )


def quality_gate(
    docs: DataFrame,
    min_words: int,
    min_alpha_milli: int,
    max_dup_word_milli: int,
    max_top_2gram_milli: int,
) -> DataFrame:
    """Row-local fused quality gate: keeps exactly the documents the
    relational formulation keeps —

        token_stats ⋈ quality_scores ⋈ repetition_stats
          WHERE n_tokens ≥ min_words AND alpha_milli ≥ min_alpha_milli
            AND dup_word_milli ≤ max_dup_word_milli
            AND top_2gram_milli ≤ max_top_2gram_milli

    — but as ONE zero-shuffle filter over ``docs``.  The three stats
    operators are each a pure projection of the same row, so gating via
    their join costs three corpus scans plus three doc_id shuffle
    exchanges for nothing; fused, the gate folds into whatever scan
    feeds it (measured 36.5 s → 8.0 s on the 200k-page funnel corpus at
    16 cores).  The operators stay the authoritative per-signal
    contract queries; this is their predicate composition.

    Let-binding discipline: the word array ``w`` and the sorted 2-gram
    array ``sg`` are each bound ONCE per row as the input of a
    single-element ``transform`` (SQL has no ``let``; a plain
    ``withColumn`` alias would be inlined into the pushed filter and
    re-evaluate the split/sort per reference — the same
    predicate-pushdown hazard repetition_stats documents).  Every
    lambda body below touches only its bound variables plus the row's
    ``text`` capture, which appears once per aliased sub-expression.
    The alpha ratio multiplies by ``CAST(1000 AS DOUBLE)`` — a bare
    ``1000.0`` literal parses as DECIMAL in SQL text while
    quality_scores' Python ``1000.0`` is a double; the cast keeps the
    two formulations bit-identical at the floor boundary.
    """
    pred = f"""
    length(text) > 0 AND element_at(transform(array(split(text, ' ')),
      w ->
        size(w) >= {int(min_words)}
        AND floor(length(regexp_replace(text, '[^a-z]', ''))
                  * CAST(1000 AS DOUBLE)
                  / length(text)) >= {int(min_alpha_milli)}
        AND {_DUP_WORD_MILLI_SQL} <= {int(max_dup_word_milli)}
        AND element_at(transform(array({_SORTED_2GRAMS_SQL}), sg ->
            {_TOP_2GRAM_MILLI_SQL} <= {int(max_top_2gram_milli)}), 1)
    ), 1)
    """
    return docs.where(F.expr(pred))


def remove_boilerplate_lines(
    docs: DataFrame, min_df: int = 2, min_line_chars: int = 10
) -> DataFrame:
    """Cross-document boilerplate removal: drop every line that appears
    in ≥ ``min_df`` documents (site headers/footers/nav — the dominant
    non-content bytes of web corpora), keep document order for the
    survivors.

    (doc_id, clean_text, n_lines_kept, n_lines_dropped).

    Lines shorter than ``min_line_chars`` are never dropped (short
    connective lines repeat by chance, not by template).  Same shape as
    the reference's overpopulated-feature guard
    (sketch_database.h:375-395) applied at line granularity: a
    corpus-wide document-frequency count gates a per-document rebuild.

    Scale: the line-df aggregation shuffles on the 16-byte binary line
    digest (bounded by distinct boilerplate lines, NOT corpus bytes);
    the per-doc boiler-hash sets are tiny (only each doc's boilerplate
    line digests) and attach back to ``docs`` with one shuffle-hash
    join; the REBUILD is then a row-local array filter over
    ``split(text)`` — the old shape shuffled every line's text through
    the drop-set join and re-assembled documents with a
    collect_list + array_sort aggregation (a second full-text shuffle
    plus per-doc sorts) for what is a per-row projection once the
    boiler set is attached.
    """
    lh = F.unhex(F.md5("line")).alias("lh")
    doc_lines = docs.select(
        "doc_id", F.explode(F.split("text", "\n")).alias("line")
    )
    # distinct per doc first (a line repeated WITHIN one doc is
    # repetition, not boilerplate), then corpus-wide df
    per_doc = (
        doc_lines.where(F.length("line") >= min_line_chars)
        .select("doc_id", lh)
        .distinct()
    )
    drop = (
        per_doc.groupBy("lh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .select("lh")
    )
    # per-doc boilerplate digest set: only boiler lines survive the
    # join, so the collected arrays hold a handful of 16-byte digests
    boiler_sets = (
        per_doc.join(drop.hint("shuffle_hash"), "lh")
        .groupBy("doc_id")
        .agg(F.collect_set("lh").alias("_bl"))
    )
    # null-text docs emit NO row — the explode-based formulation
    # dropped them implicitly (posexplode of a null array), and the
    # row-local rebuild must pin the same row-drop semantics
    joined = docs.select("doc_id", "text").where(
        F.col("text").isNotNull()
    ).join(boiler_sets.hint("shuffle_hash"), "doc_id", "left")
    # row-local rebuild: keep lines whose digest is not in the doc's
    # boiler set (digest equality ⟺ line equality, and a dropped
    # digest always came from a ≥ min_line_chars line, so short lines
    # can never match one).  `_bl` is a join-output attribute — the
    # per-element md5 is the only work inside the lambda.
    kept = (
        "filter(split(text, '\\n'), "
        "x -> _bl IS NULL OR NOT array_contains(_bl, unhex(md5(x))))"
    )
    return joined.select(
        "doc_id",
        F.expr(f"array_join({kept}, '\\n')").alias("clean_text"),
        F.expr(f"size({kept})").cast("long").alias("n_lines_kept"),
        (
            F.expr("size(split(text, '\\n'))") - F.expr(f"size({kept})")
        ).cast("long").alias("n_lines_dropped"),
    )


def word_freq_scores(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """CCNet-family statistical quality scores from CORPUS word
    frequencies (the LM-filter idea with the language model replaced by
    the corpus's own unigram table — deliberately integer-only, so the
    DuckDB twin reproduces every value bit-for-bit; a float ``log``
    here would be at the mercy of two libms' last-ulp rounding).

    (doc_id, n_words, mean_word_ppm, oov_milli):

    - ``mean_word_ppm``  — mean corpus-frequency (parts-per-million) of
      the doc's word occurrences: LOW = the doc is made of rare words
      (gibberish, boilerplate hashes); HIGH = made of very common words
      (template stutter).  The integer analog of mean unigram logprob.
    - ``oov_milli``      — fraction (milli) of word occurrences whose
      corpus count is < ``min_count`` (hapax/near-hapax — typos,
      random strings).

    Scale shape for 10^12 docs: one explode → one groupBy(word)
    aggregation (bounded by VOCABULARY size, not corpus bytes), then
    the token stream joins the vocabulary on the word hash —
    shuffle-hash hinted (the token side is corpus-sized, the vocab side
    is Zipf-bounded but can exceed broadcast limits) — and one
    groupBy(doc_id).  The corpus total rides along as a 1-row broadcast
    cross join (metadata-sized, never a shuffle barrier).

    Arithmetic is BIGINT: ``cnt * 10^6`` stays in range while the
    corpus is under ~10^12 word occurrences; beyond that, ANSI mode
    fails loud and the ppm expression should flip to DECIMAL(38,0)
    (the abundance-estimate pattern in taxonomy.py).
    """
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total_words"))
    scored = (
        toks.join(vocab.hint("shuffle_hash"), "w")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.expr("cnt * 1000000 div total_words").alias("ppm"),
            (F.col("cnt") < min_count).cast("long").alias("oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.expr("(sum(ppm)) div count(1)").alias("mean_word_ppm"),
        F.expr("(sum(oov) * 1000) div count(1)").alias("oov_milli"),
    )


def strip_repeated_lines(
    docs: DataFrame, sep: str = "\n", text_col: str = "text"
) -> DataFrame:
    """INTRA-document dedup (the Dolma-style complement of
    :func:`remove_boilerplate_lines`'s cross-document pass): within one
    document, keep only the FIRST occurrence of each line, preserving
    order.  Repeated nav blocks, pagination artifacts and template
    stutter collapse to one copy.

    All input columns pass through unchanged, with ``clean_text``,
    ``n_kept`` and ``n_dropped`` appended — so a caller re-attaching
    metadata (url, warc_ts) after the rewrite needs NO join-back: the
    stage stays a genuine zero-shuffle projection end-to-end.  A null
    ``text`` yields null outputs (ANSI semantics, matching SQL).

    Scale: a pure per-row projection — no explode, no join, no
    shuffle; at 10^12 docs this is scan-bound like the other text
    gates.  The keep-first rule is ``array_position(lns, x) == i+1``
    inside a ``filter`` HOF: O(lines²) per document, which is fine for
    web pages (10²-10³ lines) and stays lambda-pure — ``lns`` appears
    once as the HOF input and once as a lambda-body reference to the
    materialized attribute, never as a re-evaluated subexpression (the
    pushdown-inlining trap documented in :func:`repetition_stats`).
    """
    if "\\E" in sep:
        raise ValueError(r"separator must not contain \E (regex quoting)")
    # \Q...\E-quote: F.split treats its pattern as a Java regex, so a
    # metachar separator ('.', '|') would otherwise shred the text
    lns = F.split(F.col(text_col), "\\Q" + sep + "\\E")
    q = docs.withColumn("lns", lns).withColumn(
        "kept",
        F.filter(
            F.col("lns"),
            lambda x, i: F.array_position(F.col("lns"), x) == i + 1,
        ),
    )
    return q.select(
        *[F.col(c) for c in docs.columns],
        F.array_join("kept", sep).alias("clean_text"),
        F.size("kept").cast("long").alias("n_kept"),
        (F.size("lns") - F.size("kept")).cast("long").alias("n_dropped"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-count language heuristic with deterministic tie-break."""
    scores = {
        lang: sum(_occurrences(F.col("text"), p) for p in pats)
        for lang, pats in _STOPWORDS.items()
    }
    en, de, es = scores["en"], scores["de"], scores["es"]
    pred = (
        F.when((en >= de) & (en >= es), F.lit("en"))
        .when(de >= es, F.lit("de"))
        .otherwise(F.lit("es"))
    )
    return docs.select(
        "doc_id",
        "lang",
        en.alias("en_score"),
        de.alias("de_score"),
        es.alias("es_score"),
        pred.alias("pred_lang"),
    )
