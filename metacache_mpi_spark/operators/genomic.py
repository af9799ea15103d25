"""Genomic mode: the reference's native build+query pipeline, Spark-first.

Build (mode_build analog): target sequences → per-window bottom-s
sketches → exploded inverted index ``(feature, tgt, win)`` with the
location-list cap (P17) and overpopulated-feature removal (P13) —
/root/reference/src/sketch_database.h:1079-1097,375-417.

Query (mode_query analog): query sequences → sketches → equi join on
feature (J1, the hash-multimap probe) → per-(query,target) contiguous
window-range hit counting (A1, /root/reference/src/candidates.h:118-180)
→ top-k candidates per query (A2) with the ``hitsMin`` threshold (P12,
deduced sketch_size/3 as in /root/reference/src/mode_query.cpp:247-260).

All DataFrame ops after the sketch UDF: the index IS a DataFrame, the
probe IS a join, the MPI candidate exchange IS the groupBy shuffle
(SURVEY.md D5/D6).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.dna import window_sketches


@dataclass(frozen=True)
class GenomicConfig:
    k: int = 16               # kmer length (mode_build.cpp:65)
    sketch_size: int = 16     # bottom-s width (mode_build.cpp:66)
    winlen: int = 128         # window length (mode_build.cpp:67)
    winstride: int = 113      # winlen - k + 1 (mode_build.cpp:108-111)
    max_locs_per_feature: int = 254   # loclist cap (sketch_database.h:375-378)
    remove_overpopulated: bool = False  # P13 (docs/build.txt:46-50)
    max_candidates: int = 2   # top-k (query_options.h:134)
    num_windows: int = 3      # A1 range span (candidates.h:95)
    hits_min: int | None = None  # None → sketch_size // 3 (mode_query.cpp:247-260)

    @property
    def hits_min_effective(self) -> int:
        return max(1, self.sketch_size // 3) if self.hits_min is None else self.hits_min


def _sketch_rows(
    seqs: DataFrame, cfg: GenomicConfig, id_col: str
) -> DataFrame:
    """(id, win, feature) — one row per sketch feature per window."""
    k, s, wl, ws = cfg.k, cfg.sketch_size, cfg.winlen, cfg.winstride
    schema = f"{id_col} long, win long, feature long"

    def _map(batches):
        for pdf in batches:
            ids, wins, feats = [], [], []
            for i, seq in zip(pdf[id_col], pdf["seq"]):
                for win_id, sk in window_sketches(seq or "", k, s, wl, ws):
                    ids.extend([i] * sk.size)
                    wins.extend([win_id] * sk.size)
                    feats.extend(sk.astype(np.int64).tolist())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "win": pd.Series(wins, dtype="int64"),
                    "feature": pd.Series(feats, dtype="int64"),
                }
            )

    return seqs.select(id_col, "seq").mapInPandas(_map, schema=schema)


def sketch_rows_md5(
    seqs: DataFrame, cfg: GenomicConfig, id_col: str
) -> DataFrame:
    """(id, win, feature): md5-string windowed bottom-s sketch — the
    SQL-expressible twin of :func:`_sketch_rows` that oracle-gates the
    query lifecycle (the textops md5 discipline applied to the genomic
    windowing rule).

    Windowing mirrors functions/dna.window_starts exactly
    (/root/reference/src/dna_encoding.h:261-289): a sequence of length
    n ≤ winlen is ONE window; otherwise windows start at 0, stride, …
    while a window can still hold a k-mer (count = (n-k) div stride + 1,
    tail window shorter but ≥ k).  Per window: distinct k-mers →
    md5 hex → lexicographic bottom-s (unique-before-bottom-s, the
    hash_dna.h:104-152 rule with md5-string order standing in for the
    Mueller-mixed integer order; no canonicalization — divergence
    declared, this lane exists for the DuckDB oracle).

    Entirely JVM-side (transform/sequence/md5 expressions — no Python),
    so Catalyst fuses the whole sketch into the scan stage.
    """
    k, s, wl, ws = cfg.k, cfg.sketch_size, cfg.winlen, cfg.winstride
    arr = F.expr(
        f"transform(sequence(0, CASE WHEN length(seq) <= {wl} THEN 0 "
        f"ELSE CAST((length(seq) - {k}) DIV {ws} AS INT) END), "
        f"w -> slice(array_sort(array_distinct(transform("
        f"sequence(1, least({wl}, length(seq) - w * {ws}) - {k} + 1), "
        f"i -> md5(substring(seq, w * {ws} + i, {k}))))), 1, {s}))"
    )
    return (
        seqs.where(F.length("seq") >= k)
        .select(id_col, F.posexplode(arr).alias("win", "feats"))
        .select(
            id_col,
            F.col("win").cast("long").alias("win"),
            F.explode("feats").alias("feature"),
        )
    )


def query_index_md5(
    queries: DataFrame,
    index: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
) -> DataFrame:
    """J1+A1+A2+P12 over the md5 sketch lane: identical probe /
    contiguous-range / top-k machinery as :func:`query_index`, string
    features instead of Mueller-hashed 2-bit k-mers — the oracle-gated
    lifecycle twin (CORRECTNESS entry ``genomic_candidates_md5``)."""
    qrows = sketch_rows_md5(queries, cfg, "qid").withColumnRenamed(
        "win", "qwin"
    )
    matches = qrows.join(index, "feature").select("qid", "tgt", "win")
    return _top_candidates(matches, cfg)


def query_index_paired_md5(
    queries: DataFrame,
    index: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
    insert_size_max: int = 0,
) -> DataFrame:
    """Paired-end lifecycle on the md5 sketch lane — the oracle-gated
    twin of :func:`query_index_paired` (CORRECTNESS entry
    ``genomic_candidates_paired_md5``): both mates' matches accumulate
    into ONE candidate set per query (querying.h:49-75) and the A1 span
    derives per query from the combined read length
    (classification.cpp:217-219).

    Mates sketch under a composite id (qid·2 + mate) so each mate's
    sketch probes independently — a feature shared by both mates counts
    twice, exactly as two accumulate_matches calls would.
    """
    mates = queries.select(
        (F.col("qid") * 2).alias("mid"), F.col("seq1").alias("seq")
    ).unionByName(
        queries.select(
            (F.col("qid") * 2 + 1).alias("mid"), F.col("seq2").alias("seq")
        )
    )
    qrows = sketch_rows_md5(mates, cfg, "mid")
    matches = qrows.join(index, qrows["feature"] == index["feature"]).select(
        F.expr("CAST(mid DIV 2 AS BIGINT)").alias("qid"),
        index["tgt"],
        index["win"],
    )
    span = queries.select(
        "qid",
        (
            F.lit(2)
            + F.floor(
                F.greatest(
                    F.length("seq1") + F.length("seq2"),
                    F.lit(insert_size_max),
                )
                / cfg.winstride
            )
        ).cast("long").alias("nw_q"),
    )
    # per-query dim scales with the query corpus — shuffle join (see
    # query_index_paired)
    matches = matches.join(span.hint("shuffle_hash"), "qid")
    return _top_candidates(matches, cfg, num_windows=F.col("nw_q"))


def _apply_index_postprocess(
    rows: DataFrame, cfg: GenomicConfig
) -> DataFrame:
    """P17 cap / P13 prune over raw (feature, tgt, win) rows — shared
    by :func:`build_index` and :func:`modify_index`.

    Cap: location lists are capped at ``max_locs_per_feature`` keeping
    the smallest (tgt, win) deterministically — the reference keeps
    insertion order (single-writer per rank); a distributed build has
    no global insertion order, so the deterministic total order stands
    in (divergence documented).  With ``remove_overpopulated``,
    features whose TOTAL location count exceeds the cap are dropped
    entirely (D3/D4 global count + prune).
    """
    counts = rows.groupBy("feature").agg(F.count(F.lit(1)).alias("n"))
    # feature-count sets scale with the index — shuffle join, never a
    # broadcast build (see lsh.bucket_pairs)
    if cfg.remove_overpopulated:
        keep = counts.where(F.col("n") <= cfg.max_locs_per_feature)
        return rows.join(
            keep.select("feature").hint("shuffle_hash"), "feature"
        ).select("feature", "tgt", "win")
    # cap: only oversize features pay the per-feature sort window — the
    # bulk bypasses it entirely, and no mega-hot feature funnels through
    # a single task before being counted (same count-first discipline as
    # lsh.bucket_pairs)
    small = rows.join(
        counts.where(F.col("n") <= cfg.max_locs_per_feature)
        .select("feature")
        .hint("shuffle_hash"),
        "feature",
    ).select("feature", "tgt", "win")
    big = rows.join(
        counts.where(F.col("n") > cfg.max_locs_per_feature)
        .select("feature")
        .hint("shuffle_hash"),
        "feature",
    )
    w = Window.partitionBy("feature").orderBy("tgt", "win")
    big_capped = (
        big.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cfg.max_locs_per_feature)
        .select("feature", "tgt", "win")
    )
    return small.unionByName(big_capped)


def build_index(targets: DataFrame, cfg: GenomicConfig = GenomicConfig()) -> DataFrame:
    """targets(tgt, seq) → inverted index (feature, tgt, win), with the
    P17 location cap / optional P13 prune applied
    (:func:`_apply_index_postprocess`)."""
    return _apply_index_postprocess(_sketch_rows(targets, cfg, "tgt"), cfg)


def modify_index(
    index: DataFrame,
    new_targets: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
) -> DataFrame:
    """``modify`` mode: extend an existing inverted index with new
    target sequences WITHOUT re-sketching the stored corpus
    (/root/reference/src/main.cpp:72-73, src/modes.h:55,
    ``main_mode_build_modify`` in src/mode_build.cpp — the reference
    re-opens the DB and inserts new sequences into the live hash table,
    then re-applies post-processing).

    Only the NEW targets are sketched; the union re-applies the P17
    cap.  For the default cap mode this is EXACTLY equivalent to a
    from-scratch ``build(old ∪ new)``: the cap keeps each feature's
    smallest ``max_locs_per_feature`` (tgt, win) locations, and any
    location in the true smallest-k of the union that came from the old
    corpus is necessarily within the old index's kept smallest-k —
    capping is an idempotent selection (pytest
    ``test_modify_equals_rebuild``).  With ``remove_overpopulated`` the
    same one-way information loss as the reference applies: a feature
    already pruned from the stored index cannot contribute its old
    locations again, so its union count only reflects new rows — the
    DB, like the reference's, no longer holds what it dropped.
    """
    new_rows = _sketch_rows(new_targets, cfg, "tgt")
    u = index.select("feature", "tgt", "win").unionByName(new_rows)
    return _apply_index_postprocess(u, cfg)


def remove_ambiguous_features(
    index: DataFrame,
    target_taxon: DataFrame,
    max_ambig: int,
) -> DataFrame:
    """P14 (/root/reference/src/sketch_database.h:428-470): drop features
    whose locations span more than ``max_ambig`` DISTINCT taxa — the
    taxonomic-ambiguity variant of overpopulated-feature removal.

    ``target_taxon``: (tgt, taxid) dim — broadcast by Catalyst.
    """
    with_tax = index.join(F.broadcast(target_taxon), "tgt")
    ambig = (
        with_tax.groupBy("feature")
        .agg(F.countDistinct("taxid").alias("n_taxa"))
        .where(F.col("n_taxa") > max_ambig)
        .select("feature")
    )
    return index.join(ambig, "feature", "left_anti")


def dump_feature_map(index: DataFrame) -> DataFrame:
    """`info featuremap` analog (/root/reference/src/mode_info.cpp:105-129):
    one sorted row per feature with its full location list — the golden
    dump used for index diffing."""
    return (
        index.groupBy("feature")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("tgt", "win"))
            ).alias("locations")
        )
        .orderBy("feature")
    )


def probe_matches(
    queries: DataFrame,
    index: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
) -> DataFrame:
    """J1: queries(qid, seq) × index → raw matches (qid, tgt, win) — the
    hash-multimap probe (accumulate_matches,
    /root/reference/src/sketch_database.h:804-833) as an equi join."""
    qrows = _sketch_rows(queries, cfg, "qid").withColumnRenamed(
        "win", "qwin"
    )
    return qrows.join(index, "feature").select(
        "qid", "tgt", F.col("win").cast("long").alias("win")
    )


def _per_target_best(
    matches: DataFrame, cfg: GenomicConfig, num_windows=None
) -> DataFrame:
    """matches (qid, tgt, win) → UNTRUNCATED per-target best ranges
    (qid, tgt, hits, win_beg) — the A1 stage before any top-k.

    hits = the best contiguous window-range count: for each target
    window w holding ≥1 match, the number of matches in
    [w, w + num_windows - 1] (A1, /root/reference/src/candidates.h:118-180);
    best range per (qid, tgt), then top-k targets per qid ordered by
    hits desc (tie: tgt asc) with the hitsMin threshold (P12).

    ``num_windows`` may be a per-row Column (paired-end mode derives it
    from read lengths, classification.cpp:217-219) — a Column bound is
    not expressible as a ``rangeBetween`` frame, so the windowed sum
    becomes a bounded-range self join on (qid, tgt): per-(qid, tgt)
    match lists are tiny (≤ windows per read), so the join fan-out is
    bounded the way the reference's per-query candidate scan is.
    """
    if num_windows is None:
        per_win = matches.groupBy("qid", "tgt", "win").agg(
            F.count(F.lit(1)).alias("whits")
        )
        # constant span → native range frame (single shuffle, no join)
        span = Window.partitionBy("qid", "tgt").orderBy("win").rangeBetween(
            0, cfg.num_windows - 1
        )
        ranged = per_win.withColumn("hits", F.sum("whits").over(span))
    else:
        # the span column is functionally dependent on qid — carry it
        # through the per-window aggregation with first()
        nw = matches.groupBy("qid", "tgt", "win").agg(
            F.count(F.lit(1)).alias("whits"),
            F.first(num_windows).alias("nw"),
        )
        s, e = nw.alias("s"), nw.alias("e")
        ranged = (
            s.join(
                e,
                (F.col("s.qid") == F.col("e.qid"))
                & (F.col("s.tgt") == F.col("e.tgt"))
                & (F.col("e.win") >= F.col("s.win"))
                & (F.col("e.win") <= F.col("s.win") + F.col("s.nw") - 1),
            )
            .groupBy(
                F.col("s.qid").alias("qid"),
                F.col("s.tgt").alias("tgt"),
                F.col("s.win").alias("win"),
            )
            .agg(F.sum("e.whits").alias("hits"))
        )
    best = Window.partitionBy("qid", "tgt").orderBy(
        F.desc("hits"), F.asc("win")
    )
    return (
        ranged.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select("qid", "tgt", "hits", F.col("win").alias("win_beg"))
    )


def _apply_topk(per_target: DataFrame, cfg: GenomicConfig) -> DataFrame:
    """A2 + P12 over per-target rows: top-k per query by (hits desc,
    tgt asc), hitsMin threshold."""
    topk = Window.partitionBy("qid").orderBy(F.desc("hits"), F.asc("tgt"))
    return (
        per_target.withColumn("rank", F.row_number().over(topk))
        .where(
            (F.col("rank") <= cfg.max_candidates)
            & (F.col("hits") >= cfg.hits_min_effective)
        )
        .select("qid", "tgt", "hits", "win_beg", "rank")
    )


def _top_candidates(
    matches: DataFrame, cfg: GenomicConfig, num_windows=None
) -> DataFrame:
    """matches → top-k candidates (A1 + A2 + P12)."""
    return _apply_topk(_per_target_best(matches, cfg, num_windows), cfg)


def query_index(
    queries: DataFrame,
    index: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
    match_filter=None,
) -> DataFrame:
    """queries(qid, seq) × index → top-k candidates per query:
    (qid, tgt, hits, win_beg) with hits ≥ hitsMin (J1 + A1 + A2 + P12).

    ``match_filter``: optional callable applied to the raw (qid, tgt,
    win) match set BEFORE candidate aggregation — the slot where the
    reference filters ``allhits`` (clade exclusion,
    classification.cpp:174-181; see taxonomy.exclude_truth_clade)."""
    return _apply_topk(
        query_index_per_target(queries, index, cfg, match_filter), cfg
    )


def query_index_per_target(
    queries: DataFrame,
    index: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
    match_filter=None,
) -> DataFrame:
    """UNTRUNCATED per-target best ranges (qid, tgt, hits, win_beg) —
    the input `-lowest <rank>` merging needs (A3 lifts taxa at insert
    time, BEFORE the bounded candidate list; see
    :func:`merge_candidates_below_rank`)."""
    m = probe_matches(queries, index, cfg)
    if match_filter is not None:
        m = match_filter(m)
    return _per_target_best(m, cfg)


def query_index_paired_per_target(
    queries: DataFrame,
    index: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
    insert_size_max: int = 0,
    match_filter=None,
) -> DataFrame:
    """Paired-end :func:`query_index_per_target` — accumulated mate
    matches, per-query A1 span, NO top-k truncation."""
    mates = queries.select(
        "qid", F.col("seq1").alias("seq")
    ).unionByName(queries.select("qid", F.col("seq2").alias("seq")))
    matches = probe_matches(mates, index, cfg)
    if match_filter is not None:
        matches = match_filter(matches)
    span = queries.select(
        "qid",
        (
            F.lit(2)
            + F.floor(
                F.greatest(
                    F.length("seq1") + F.length("seq2"),
                    F.lit(insert_size_max),
                )
                / cfg.winstride
            )
        ).cast("long").alias("nw_q"),
    )
    matches = matches.join(span.hint("shuffle_hash"), "qid")
    return _per_target_best(matches, cfg, num_windows=F.col("nw_q"))


def query_index_paired(
    queries: DataFrame,
    index: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
    insert_size_max: int = 0,
    match_filter=None,
) -> DataFrame:
    """Paired-end query lifecycle: queries(qid, seq1, seq2) → top-k
    candidates with BOTH mates' matches accumulated into one candidate
    set per query before window-range counting.

    Reference semantics: matches from seq1 and seq2 are merged into one
    sorted location list per query (/root/reference/src/querying.h:49-75;
    sketch_database.h:804-833 called once per mate), and the A1 window
    span derives from read + insert size:
    ``num_windows = 2 + max(|seq1|+|seq2|, insertSizeMax) / winstride``
    (/root/reference/src/classification.cpp:217-219).  CLI evidence:
    ``-pairfiles`` (script/ft/QueryGeneric_FT.sh:115).

    The span dim has ONE ROW PER QUERY — it scales with the query
    corpus, so it joins shuffle-hash, never broadcast (driver/executor
    OOM at scale); the qid shuffle co-partitions with the downstream
    per-(qid, tgt) aggregation anyway.
    """
    return _apply_topk(
        query_index_paired_per_target(
            queries, index, cfg, insert_size_max, match_filter
        ),
        cfg,
    )


def merge_query_results(
    shard_results: list[DataFrame],
    cfg: GenomicConfig = GenomicConfig(),
) -> DataFrame:
    """S12/J8 merge mode (/root/reference/src/mode_merge.cpp:209-264):
    re-aggregate per-shard top-k candidate lists into the global top-k.

    The reference shards its DB by target across MPI ranks and each
    rank answers queries against its shard; the merge step unions the
    per-shard candidate lists, keeps the best range per (qid, tgt) and
    re-applies the top-k + hitsMin rule.  Because features are
    target-partitioned, merging per-shard results is EXACTLY equivalent
    to querying one global index (tested in test_reference_ops) — the
    correctness backbone of the distributed design.

    ``shard_results``: outputs of :func:`query_index` (qid, tgt, hits,
    win_beg, rank) — shard-local ranks are discarded and recomputed.
    """
    from functools import reduce

    u = reduce(
        lambda a, b: a.unionByName(b),
        [s.select("qid", "tgt", "hits", "win_beg") for s in shard_results],
    )
    best = Window.partitionBy("qid", "tgt").orderBy(
        F.desc("hits"), F.asc("win_beg")
    )
    per_target = (
        u.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select("qid", "tgt", "hits", "win_beg")
    )
    topk = Window.partitionBy("qid").orderBy(F.desc("hits"), F.asc("tgt"))
    return (
        per_target.withColumn("rank", F.row_number().over(topk))
        .where(
            (F.col("rank") <= cfg.max_candidates)
            & (F.col("hits") >= cfg.hits_min_effective)
        )
        .select("qid", "tgt", "hits", "win_beg", "rank")
    )


def lifted_taxid_map(
    taxonomy, target_taxid: dict[int, int], rank: str
) -> dict[int, int]:
    """The A3 lift rule in ONE place: target → ancestor at ``rank``
    (falling back to the raw taxid when no ancestor exists at that
    rank, candidates.h:242-283).  Shared by
    :func:`merge_candidates_below_rank` and the CLI's ``--lowest``
    identity map so the two can never drift."""
    return {
        tgt: taxonomy.ancestor_at_rank(tax, rank) or tax
        for tgt, tax in target_taxid.items()
    }


def merge_candidates_below_rank(
    per_target: DataFrame,
    taxonomy,
    target_taxid: dict[int, int],
    lowest_rank: str,
    cfg: GenomicConfig = GenomicConfig(),
) -> DataFrame:
    """A3 merge-below-rank (/root/reference/src/candidates.h:242-283):
    with ``-lowest <rank>`` above sequence level, each candidate's taxon
    is lifted to its ancestor at that rank BEFORE insertion, and a taxon
    already in the list only updates if the new candidate has MORE hits
    — i.e. max-hits per distinct merged taxon, then top-k by hits.

    ``per_target``: (qid, tgt, hits, win_beg) **pre-top-k** rows — the
    output of :func:`_per_target_best`, NOT of :func:`query_index`.
    The reference lifts at insert time, before its bounded candidate
    list is maintained, so a genus whose best target ranks below the
    per-target top-k must still be able to merge in; feeding truncated
    rows here would silently drop it.  Returns (qid, taxid, hits, rank).
    """
    merged_map = lifted_taxid_map(taxonomy, target_taxid, lowest_rank)
    spark = per_target.sparkSession
    dim = spark.createDataFrame(
        [(t, m) for t, m in merged_map.items()], "tgt long, taxid long"
    )
    lifted = per_target.join(F.broadcast(dim), "tgt")
    # max-hits per (query, merged taxon); deterministic tie-break
    best = Window.partitionBy("qid", "taxid").orderBy(
        F.desc("hits"), F.asc("win_beg"), F.asc("tgt")
    )
    per_taxon = (
        lifted.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select("qid", "taxid", "hits")
    )
    topk = Window.partitionBy("qid").orderBy(F.desc("hits"), F.asc("taxid"))
    return (
        per_taxon.withColumn("rank", F.row_number().over(topk))
        .where(
            (F.col("rank") <= cfg.max_candidates)
            & (F.col("hits") >= cfg.hits_min_effective)
        )
        .select("qid", "taxid", "hits", "rank")
    )


def matches_per_target(
    matches: DataFrame,
    candidates: DataFrame,
    cfg: GenomicConfig = GenomicConfig(),
    min_hits_per_candidate: int = 0,
) -> DataFrame:
    """A7 matches-per-target inversion (`-targets` output mode,
    /root/reference/src/matches_per_target.h:111-155): per target, the
    candidate queries that hit it, each with its per-window match counts
    inside the candidate's window range, ordered by the reference's sort
    rule (first window, last window, query id — :172-184).

    Returns (tgt, pos, qid, win_first, win_last, n_windows, total_hits,
    windows) where ``windows`` is the sorted (win, hits) struct list and
    ``pos`` is the rank of the entry in the target's sorted list.
    """
    cand = candidates.where(
        F.col("hits") >= min_hits_per_candidate
    ).select(
        "qid",
        "tgt",
        F.col("win_beg").alias("_beg"),
        (F.col("win_beg") + cfg.num_windows - 1).alias("_end"),
    )
    in_range = matches.join(cand, ["qid", "tgt"]).where(
        (F.col("win") >= F.col("_beg")) & (F.col("win") <= F.col("_end"))
    )
    per_win = in_range.groupBy("tgt", "qid", "win").agg(
        F.count(F.lit(1)).alias("whits")
    )
    per_entry = per_win.groupBy("tgt", "qid").agg(
        F.sort_array(
            F.collect_list(F.struct("win", "whits"))
        ).alias("windows")
    )
    per_entry = per_entry.select(
        "tgt",
        "qid",
        F.col("windows")[0]["win"].alias("win_first"),
        F.element_at("windows", -1)["win"].alias("win_last"),
        F.size("windows").cast("long").alias("n_windows"),
        F.aggregate(
            "windows", F.lit(0).cast("long"), lambda acc, x: acc + x["whits"]
        ).alias("total_hits"),
        "windows",
    )
    order = Window.partitionBy("tgt").orderBy(
        "win_first", "win_last", "qid"
    )
    return per_entry.withColumn(
        "pos", F.row_number().over(order).cast("long")
    ).select(
        "tgt", "pos", "qid", "win_first", "win_last", "n_windows",
        "total_hits", "windows",
    )


def window_char_range(win_col, cfg: GenomicConfig = GenomicConfig()):
    """W4: window id → (char_beg, char_end) character range of the
    window within its target sequence (the reference reports candidate
    positions in characters: win * stride .. + winlen,
    /root/reference/src/candidates.h:90-101 pos semantics).
    Returns a struct Column."""
    w = F.col(win_col) if isinstance(win_col, str) else win_col
    beg = (w * cfg.winstride).cast("long")
    return F.struct(
        beg.alias("char_beg"),
        (beg + cfg.winlen - 1).alias("char_end"),
    )
