"""Candidate-pair verification.

Three verification lanes, mirroring the reference's verification ladder:

1. **Signature-estimate gate** (cheap, JVM-side) — the number of equal
   lanes of two k-permutation MinHash signatures must reach
   ``min_sig_lanes`` (the reference's hitsMin sketch threshold,
   src/mode_query.cpp:247-260), applied as a join-side
   where-clause by :func:`prefilter_candidates` and
   :func:`gate_and_attach`.
2. **Exact shingle Jaccard** (authoritative) — exact |A∩B|/|A∪B| over
   the full k-shingle hash sets of both texts, computed per candidate
   pair in an Arrow-batched pass (candidates are rare relative to
   the corpus, so shipping two texts per pair is off the hot path —
   exactly where the reference puts its optional `-align` verification,
   /root/reference/src/classification.cpp:437-477).
3. **Substring pass** — longest common substring length via rolling-hash
   binary search, for the "long verbatim overlap" duplicate kind that
   Jaccard under-scores (the `-align` semi-global alignment analog,
   /root/reference/src/alignment.h:185-298).

Lanes 2 and 3 run fused in one Arrow pass, :func:`verified_dup_pairs`.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, DedupConfig
from ..functions.hashing import poly_window_hashes, shingle_hashes64


def _pair_jaccard(x: str | None, y: str | None, k: int) -> float:
    """Exact k-shingle Jaccard of two texts — THE correctness kernel
    (unique-before-intersect; empty-vs-empty = 0.0), shared by every
    verify lane so a threshold/hashing tweak cannot de-synchronize the
    fused pipeline from the unfused operators the oracles gate.

    Shingles are compared through 64-bit hashes (shingle_hashes64):
    the DuckDB oracles intersect exact shingle STRINGS, and a 32-bit
    collision near a floor(j*1000) boundary could flip a milli score —
    64 bits keeps hash-vs-string agreement collision-exact up to ~10^9
    shingles per side, far beyond any document."""
    ha = np.unique(shingle_hashes64(x or "", k))
    hb = np.unique(shingle_hashes64(y or "", k))
    if ha.size == 0 and hb.size == 0:
        return 0.0
    if ha.size > hb.size:  # probe the smaller set into the larger
        ha, hb = hb, ha
    # membership count via searchsorted on the (unique, sorted) larger
    # side — same count as intersect1d(assume_unique) without its
    # concatenate+sort of both sets (the verify stage's hottest line)
    if ha.size == 0:
        inter = 0
    else:
        idx = np.searchsorted(hb, ha)
        idx[idx == hb.size] = hb.size - 1 if hb.size else 0
        inter = int((hb[idx] == ha).sum()) if hb.size else 0
    return inter / (ha.size + hb.size - inter)


def _sig_gate(cfg: DedupConfig, candidate_cols) -> "F.Column":
    """The lane-1 hitsMin gate as a Column (shared by
    :func:`prefilter_candidates` and :func:`gate_and_attach`): attached
    signatures must agree on ≥ min_sig_lanes lanes, fingerprint-lane
    candidates (fp_hits ≥ min_fp_hits) bypass."""
    if cfg.min_sig_lanes <= 0:
        return F.lit(True)
    est_lanes = F.expr(
        "size(filter(zip_with(_sig_a, _sig_b, (x, y) -> x = y), v -> v))"
    )
    fp_ok = (
        F.col("fp_hits") >= cfg.min_fp_hits
        if "fp_hits" in candidate_cols
        else F.lit(False)
    )
    return fp_ok | (est_lanes >= cfg.min_sig_lanes)


def _pin_udf_parallelism(df: DataFrame) -> DataFrame:
    """Explicitly repartition before a compute-heavy Python stage.

    AQE coalesces partitions by BYTE size, which under-parallelizes
    stages whose cost is CPU-per-row (Jaccard/LCS verification) — a
    47K-pair stage was observed collapsing to ~5 partitions.  An
    explicit round-robin repartition is exempt from AQE coalescing and
    spreads pairs evenly regardless of key skew.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(2 * sc.defaultParallelism)


def jaccard_udf(k: int):
    """Arrow UDF over the shared :func:`_pair_jaccard` kernel — the
    ONE place the batching loop lives (exact_jaccard_pairs and
    webops.crawl_diff both route through it, so the verify and
    crawl-scoring lanes cannot drift)."""

    @F.pandas_udf("double")
    def _jac(ta, tb):
        out = np.empty(len(ta), dtype=np.float64)
        for i, (x, y) in enumerate(zip(ta, tb)):
            out[i] = _pair_jaccard(x, y, k)
        return pd.Series(out)

    return _jac


def exact_jaccard_pairs(
    pairs_with_text: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    text_a: str = "text_a",
    text_b: str = "text_b",
) -> DataFrame:
    """Append exact k-shingle Jaccard per pair (pandas UDF, Arrow)."""
    pairs_with_text = _pin_udf_parallelism(pairs_with_text)
    jac = jaccard_udf(cfg.shingle_k)
    return pairs_with_text.withColumn(
        "jaccard", jac(F.col(text_a), F.col(text_b))
    )


def prefilter_candidates(
    candidates: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
    sig_col: str = "signature",
) -> DataFrame:
    """Signature-estimate prefilter (lane 1 of the verify ladder) as a
    CANDIDATE GATE: drop band-collision pairs sharing fewer than
    ``cfg.min_sig_lanes`` MinHash lanes before any text is shipped or
    hashed.  This is the reference's ``hitsMin = sketch/3`` sketch-hit
    threshold (/root/reference/src/mode_query.cpp:247-260) applied to
    the webtext lane: one band collision (2 equal lanes) is a candidate,
    but classification demands more sketch agreement.  Entirely JVM-side
    (two small joins on the 16-long signature arrays + a zip_with
    count); fingerprint-lane candidates (``fp_hits ≥ min_fp_hits``)
    bypass — substring duplicates have low Jaccard by design.
    """
    if cfg.min_sig_lanes <= 0:
        return candidates
    sa = signatures.select(
        F.col(id_col).alias("a"), F.col(sig_col).alias("_sig_a")
    )
    sb = signatures.select(
        F.col(id_col).alias("b"), F.col(sig_col).alias("_sig_b")
    )
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .where(_sig_gate(cfg, candidates.columns))
        .drop("_sig_a", "_sig_b")
    )


def gate_and_attach(
    candidates: DataFrame,
    sigtext: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fused lane-1 gate + payload attach: ONE join per pair side.

    ``sigtext`` = (id, signature, simhash, text) — the pipeline's
    combined sketch+text table (one cached corpus table).  The unfused
    shape paid four corpus-sized joins per verify pass (signatures on
    a/b for the prefilter, texts on a/b for the Jaccard UDF) plus two
    more later for the SimHash annotation; this pays two, attaching
    signature + text + simhash together, then applies the
    signature-estimate gate (the reference's hitsMin sketch threshold,
    /root/reference/src/mode_query.cpp:247-260) as a where-clause in
    the SAME stage — no extra exchange.

    Returns gated pairs with (text_a, text_b, sim_a, sim_b) attached;
    fingerprint-lane candidates (fp_hits ≥ min_fp_hits) bypass the gate
    exactly as in :func:`prefilter_candidates`.
    """
    sa = sigtext.select(
        F.col(id_col).alias("a"),
        F.col("signature").alias("_sig_a"),
        F.col("simhash").alias("sim_a"),
        F.col("text").alias("text_a"),
    )
    sb = sigtext.select(
        F.col(id_col).alias("b"),
        F.col("signature").alias("_sig_b"),
        F.col("simhash").alias("sim_b"),
        F.col("text").alias("text_b"),
    )
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .where(_sig_gate(cfg, candidates.columns))
        .drop("_sig_a", "_sig_b")
    )


def join_pair_texts(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Attach both texts to (a, b) pairs.

    At cluster scale the docs side is large — these are shuffle hash
    joins on the id; candidate pairs are a tiny fraction of the corpus
    so the join input is heavily pre-filtered.
    """
    da = docs.select(F.col(id_col).alias("a"), F.col(text_col).alias("text_a"))
    db = docs.select(F.col(id_col).alias("b"), F.col(text_col).alias("text_b"))
    return pairs.join(da, "a").join(db, "b")


def verified_dup_pairs(
    gated: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Fused lanes 2+3 in ONE Arrow pass: exact shingle Jaccard, and —
    only for below-threshold pairs from the fingerprint lane — the LCS
    substring gate, emitting final verified dup edges
    (a, b, jaccard, dup_kind, sim_a, sim_b).

    Why fused: the two-branch formulation (``jac.where(j ≥ τ)`` UNION
    ``jac.where(j < τ ∧ fp_hits ≥ min).LCS``) reads the un-pinned
    ``jac`` subtree twice, so the whole candidates→gate→Jaccard chain
    EXECUTES twice per action (measured: 24.9 s vs 11 s of actual work
    at 200k docs × 16 cores — half the full job was this re-execution).
    One mapInPandas computes both verdicts per pair in a single pass —
    the reference's verification ladder is likewise one loop per
    candidate (classification.cpp:437-477: contiguous check, then
    optional alignment, same traversal).
    """
    from pyspark.sql import types as T

    k = cfg.shingle_k
    tau = cfg.jaccard_threshold
    min_fp = cfg.min_fp_hits
    min_sub = cfg.min_substring_overlap
    in_fields = {f.name: f for f in gated.schema.fields}
    has_fp = "fp_hits" in in_fields
    schema = T.StructType(
        [
            in_fields["a"],
            in_fields["b"],
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("dup_kind", T.StringType()),
            in_fields["sim_a"],
            in_fields["sim_b"],
        ]
    )

    def _compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep_idx: list[int] = []
            jacs: list[float] = []
            kinds: list[str] = []
            fp = pdf["fp_hits"] if has_fp else None
            for i, (x, y) in enumerate(zip(pdf["text_a"], pdf["text_b"])):
                j = _pair_jaccard(x, y, k)
                if j >= tau:
                    kind = "jaccard"
                elif (
                    has_fp
                    and fp.iloc[i] >= min_fp
                    and _lcs_length(
                        (x or "").encode("utf-8"),
                        (y or "").encode("utf-8"),
                        gate=min_sub,
                    )
                    >= min_sub
                ):
                    kind = "substring"
                else:
                    continue
                keep_idx.append(i)
                jacs.append(j)
                kinds.append(kind)
            sel = pdf.iloc[keep_idx]
            yield pd.DataFrame(
                {
                    "a": sel["a"].to_numpy(dtype="int64"),
                    "b": sel["b"].to_numpy(dtype="int64"),
                    "jaccard": np.asarray(jacs, dtype="float64"),
                    "dup_kind": pd.Series(kinds, dtype="object"),
                    # nullable Int64: the md5 sketch mode carries null
                    # simhash columns, and a bare int64 cast turns the
                    # NaNs Arrow delivers into garbage (-2^63) — or
                    # raises outright on stricter numpy versions
                    "sim_a": pd.array(sel["sim_a"], dtype="Int64"),
                    "sim_b": pd.array(sel["sim_b"], dtype="Int64"),
                }
            )

    return _pin_udf_parallelism(gated).mapInPandas(_compute, schema=schema)


# --------------------------------------------------------------------------
# Substring (long verbatim overlap) pass
# --------------------------------------------------------------------------


def _lcs_length(a: bytes, b: bytes, gate: int = 0) -> int:
    """Longest common substring length via binary search over length with
    rolling-hash window sets (byte-verified on hash hit).
    Deterministic; O((|a|+|b|) log |a|).

    ``gate``: callers that only care whether the LCS reaches ``gate``
    chars pay a single hash pass for the (overwhelmingly common) "no"
    case — the search below the gate is skipped and -1 is returned,
    meaning "< gate, not computed"."""
    lo, hi = 0, min(len(a), len(b))

    aa = np.frombuffer(a, dtype=np.uint8)
    bb = np.frombuffer(b, dtype=np.uint8)

    def has_common(L: int) -> bool:
        if L == 0:
            return True
        ha = poly_window_hashes(aa, L)
        hb = poly_window_hashes(bb, L)
        if ha.size == 0 or hb.size == 0:
            return False
        # np.intersect1d returns indices of FIRST occurrence per value;
        # byte-compare kills 64-bit hash collisions (vanishingly rare).
        common, ia, ib = np.intersect1d(ha, hb, return_indices=True)
        for j in range(common.size):
            if a[ia[j] : ia[j] + L] == b[ib[j] : ib[j] + L]:
                return True
        return False

    if gate > 0:
        if hi < gate or not has_common(gate):
            return -1
        lo = gate
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if has_common(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo
