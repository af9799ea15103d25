"""Sketching: bottom-s sketches, k-permutation MinHash signatures, and
SimHash fingerprints — NumPy cores + Arrow-batched pandas UDF wrappers.

Reference semantics re-expressed (no code ported):

- **bottom-s sketch** — the s smallest *unique* hashed shingles, sorted
  ascending; uniqueness is applied BEFORE taking the bottom s, and a
  document shorter than k shingles yields an empty/short sketch
  (/root/reference/src/hash_dna.h:104-152: insertion-sorted vector,
  duplicate rejection at :133-137, `n < k → empty` at :122-124,
  sentinel trim at :144-149).
- **k-permutation MinHash** — s independent mixes of the same shingle
  hash set, one min per lane.  This is the graft's LSH-banding signature
  (the reference's `Sketcher` template parameter is exactly this swap
  point — /root/reference/src/config.h:92-95 names an alternative
  `single_function_min_hasher`).
- **SimHash** — 64-bit fingerprint from token hashes (majority vote per
  bit), the second fingerprint lane required by BASELINE.json.

UDFs are Series→Series pandas UDFs (Arrow batches, no per-row Python at
the DataFrame boundary; the per-row NumPy inside operates on vectorized
shingle windows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import (
    mueller_hash32,
    shingle_hashes,
    splitmix64,
    token_poly_hashes,
)

# --------------------------------------------------------------------------
# NumPy cores (shared by UDFs and pytest oracles)
# --------------------------------------------------------------------------


def bottom_s_sketch(hashes: np.ndarray, s: int) -> np.ndarray:
    """s smallest unique hashes, ascending (unique-before-bottom-s)."""
    return np.unique(hashes)[:s].astype(np.uint32)


def lane_seeds(s: int, seed: int) -> np.ndarray:
    """Deterministic uint32 seed per MinHash lane."""
    return splitmix64(np.arange(s, dtype=np.uint64) + np.uint64(seed)).astype(
        np.uint32
    )


# Above this shingle count, the (s × n) lane matrix is built in chunks
# so a multi-MB document costs bounded transient memory (s=16 lanes ×
# 262144 shingles × 4 B = 16 MB per chunk).
_KPERM_CHUNK = 1 << 18


def kperm_signature(hashes: np.ndarray, s: int, seed: int) -> np.ndarray | None:
    """s-lane MinHash signature of a shingle-hash set; None if empty.

    One (s × n) broadcasted xor + mix + row-min instead of a Python
    loop over lanes: the per-lane loop cost ~6 small-array NumPy calls
    × s per document (call overhead dominated at web-page lengths —
    measured 2.6× slower than the matrix form on the bench corpus).
    Documents longer than ``_KPERM_CHUNK`` shingles fold chunk-wise so
    the matrix never exceeds ~16 MB.
    """
    n = hashes.shape[0]
    if n == 0:
        return None
    seeds = lane_seeds(s, seed)[:, None]
    sig = np.full(s, np.uint32(0xFFFFFFFF), dtype=np.uint32)
    for lo in range(0, n, _KPERM_CHUNK):
        chunk = hashes[lo : lo + _KPERM_CHUNK]
        m = mueller_hash32(chunk[None, :] ^ seeds).min(axis=1)
        np.minimum(sig, m, out=sig)
    return sig


def simhash64(text: str) -> int:
    """64-bit SimHash over whitespace tokens (majority vote per bit).

    Token hashes come from the vectorized polynomial segment hasher
    (:func:`token_poly_hashes`); duplicate tokens vote once per
    occurrence (frequency-weighted, the standard SimHash).
    Returned as a signed int64 bit-pattern (Spark LongType carrier).
    """
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    th = token_poly_hashes(data)
    if th.size == 0:
        return 0
    # bit decomposition via unpackbits on the little-endian byte view:
    # an (n × 64) uint8 matrix instead of the 8×-larger uint64 shift
    # matrix (measured 3× faster on the bench corpus); bitorder="little"
    # makes column j equal (th >> j) & 1 exactly
    bits = np.unpackbits(
        th[:, None].astype("<u8", copy=False).view(np.uint8),
        axis=1,
        bitorder="little",
    )
    votes = bits.sum(axis=0, dtype=np.int64) * 2 - th.size
    fp = np.packbits(votes > 0, bitorder="little").view("<u8")[0]
    return int(fp.astype(np.int64))


def sliding_min(hashes: np.ndarray, w: int) -> np.ndarray:
    """Min of every length-w window, O(n) via block decomposition:
    prefix-min and suffix-min inside w-sized blocks, window min =
    min(suffix-min at start, prefix-min at end)."""
    n = hashes.shape[0]
    nwin = n - w + 1
    pad = (-n) % w
    hp = np.concatenate(
        [hashes, np.full(pad, np.iinfo(hashes.dtype).max, hashes.dtype)]
    )
    blocks = hp.reshape(-1, w)
    pref = np.minimum.accumulate(blocks, axis=1).ravel()
    suff = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suff[:nwin], pref[w - 1 : w - 1 + nwin])


def winnow_fingerprints(hashes: np.ndarray, w: int) -> np.ndarray:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    the distinct per-window minimum hash values over windows of ``w``
    consecutive shingle hashes.

    Guarantee: two texts sharing a verbatim substring of length
    ≥ w + k - 1 chars share at least one fingerprint — the candidate
    generator for the substring-overlap verify lane (the reference's
    `-align` deep-verify slot, /root/reference/src/classification.cpp:437-477,
    needs candidates too; MetaCache gets them from the MinHash index,
    webtext substring dups need this coarser net).

    Position tie-breaking is irrelevant for value SETS, so the O(n)
    sliding-min suffices (the O(n·w) positional argmin was the pipeline's
    compute hotspot at bench scale).
    """
    n = hashes.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.uint32)
    if n <= w:
        return np.array([hashes.min()], dtype=np.uint32)
    return np.unique(sliding_min(hashes, w))


# --------------------------------------------------------------------------
# pandas UDF factories
# --------------------------------------------------------------------------


def make_sketch_mapper(k: int, s: int, seed: int, w: int, carry_text: bool = False):
    """One-pass sketcher for mapInPandas: (doc_id, text) → (doc_id,
    signature, simhash, fps[, text]).

    The reference fuses window→sketch→insert into a single pass over
    each sequence (/root/reference/src/sketch_database.h:1079-1097);
    this is the same fusion — the corpus text is scanned ONCE for all
    three sketch families, instead of one UDF stage per family.

    ``carry_text=True`` passes the text column through (schema
    :data:`SKETCH_TEXT_SCHEMA`): the pipeline then serves the verify
    stage's per-pair text fetch AND the signature prefilter from ONE
    cached table — one join per pair side instead of two (halves the
    corpus-sized exchanges of the verify chain).
    """
    import pandas as pd

    def _map(batches):
        for pdf in batches:
            sig_col, sim_col, fps_col = [], [], []
            for t in pdf["text"]:
                if t is None:
                    sig_col.append(None)
                    sim_col.append(None)
                    fps_col.append(None)
                    continue
                h = shingle_hashes(t, k)
                sig = kperm_signature(h, s, seed)
                sig_col.append(None if sig is None else sig.astype(np.int64).tolist())
                sim_col.append(simhash64(t))
                fps_col.append(
                    winnow_fingerprints(h, w).astype(np.int64).tolist()
                )
            out = {
                "doc_id": pdf["doc_id"],
                "signature": pd.Series(sig_col, dtype=object),
                "simhash": pd.Series(sim_col, dtype="Int64"),
                "fps": pd.Series(fps_col, dtype=object),
            }
            if carry_text:
                out["text"] = pdf["text"]
            yield pd.DataFrame(out)

    return _map


SKETCH_SCHEMA = (
    "doc_id long, signature array<long>, simhash long, fps array<long>"
)

SKETCH_TEXT_SCHEMA = SKETCH_SCHEMA + ", text string"


def make_minhash_udf(k: int, s: int, seed: int):
    """pandas UDF: text → array<long> MinHash signature (null if no
    shingles, i.e. len(text-bytes) < k)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _minhash(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            sig = kperm_signature(shingle_hashes(t, k), s, seed)
            out.append(None if sig is None else sig.astype(np.int64).tolist())
        return pd.Series(out, dtype=object)

    return _minhash


def make_simhash_udf():
    """pandas UDF: text → long SimHash fingerprint."""

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [None if t is None else simhash64(t) for t in texts],
            dtype="Int64",
        )

    return _simhash
