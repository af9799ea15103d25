"""PII detection + scrubbing over a text column — JVM-regex scan stages.

Every real webtext training pipeline (C4, RefinedWeb, Dolma) carries a
PII pass between extraction and dedup: detect emails / IP addresses /
phone-shaped numbers and replace them with stable placeholder tokens.
The reference engine has no PII analog — this lane belongs to the
LLM-data-pipeline mandate, same family as the quality/token operators
in :mod:`.textops`.

Design for 10^12 docs: both operators are ONE narrow projection over
the corpus scan — no shuffle, no join, no Python.  The regexes run
JVM-side (`regexp_extract_all` / `regexp_replace` inside whole-stage
codegen), so the pass is bounded by scan + regex throughput and
parallelizes with the input splits.

Regex discipline: the three patterns below are deliberately restricted
to the syntax subset where Java `java.util.regex` (Spark) and RE2
(DuckDB) agree — character classes, bounded repetition, `\\b`, greedy
leftmost-first matching; no lookaround, no backreferences — so the
DuckDB oracle twins reproduce matches byte-for-byte.  Scrub order is
fixed (email → IPv4 → phone) and counts are taken on the intermediate
strings, making ``n_redactions`` well-defined even where the pattern
languages overlap (an IPv4 is also phone-shaped; it is counted once,
as an IP, because the IP placeholder lands first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Shared pattern literals — the Python source of truth for BOTH the
# Spark queries and the DuckDB oracle SQL (inlined into each, so the
# two engines can never drift).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"
# phone-shaped: digit, then >=6 of [digits () . - space], then digit —
# the loose shape used by C4-style scrubbers (catches +1 555-010-9999,
# (555) 010 9999, 555.0100 ...)
PHONE_RE = r"\+?\d[\d() .-]{6,}\d"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"


def _n_matches(col: Column, pattern: str) -> Column:
    # regexp_count: same value as size(regexp_extract_all(...)) without
    # materializing an array of matched substrings per row (the scrub
    # stage runs three of these per document)
    return F.regexp_count(col, F.lit(pattern)).cast("long")


def _gated_count(col: Column, gate: Column, pattern: str) -> Column:
    # Run the regex count only when the cheap pre-gate says a match is
    # possible; a non-null text that fails the gate has 0 matches by
    # construction, and a null text stays null (no ``otherwise`` —
    # CaseWhen's default is null), preserving ANSI null semantics.
    return (
        F.when(gate, _n_matches(col, pattern))
        .when(col.isNotNull(), F.lit(0).cast("long"))
    )


def pii_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_phones): independent per-pattern
    match counts on the raw text (an IPv4 inside the text counts under
    BOTH n_ipv4 and n_phones here — the patterns overlap by design;
    :func:`scrub_pii`'s ``n_redactions`` is the disjoint count).

    Pre-gates: ``EMAIL_RE`` cannot match a text without a literal
    ``'@'`` and ``IPV4_RE`` / ``PHONE_RE`` cannot match one without a
    decimal digit, so each count is gated on a cheap scan
    (``contains`` / one-char-class ``rlike``) before paying the full
    regex — on corpora where most documents carry no PII the expensive
    scans are skipped entirely, and where PII is dense the gates cost
    two trivial passes next to three regex passes.
    """
    t = F.col(text_col)
    has_at = t.contains("@")
    has_digit = t.rlike("[0-9]")
    return docs.select(
        "doc_id",
        _gated_count(t, has_at, EMAIL_RE).alias("n_emails"),
        _gated_count(t, has_digit, IPV4_RE).alias("n_ipv4"),
        _gated_count(t, has_digit, PHONE_RE).alias("n_phones"),
    )


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace PII spans with placeholder tokens, in the fixed order
    email → IPv4 → phone.  All input columns pass through unchanged,
    with ``clean_text`` and ``n_redactions`` appended — callers
    re-attaching metadata after the rewrite need no join-back, the
    stage stays a zero-shuffle projection end-to-end.  A null text
    yields null outputs (ANSI semantics, matching SQL).

    ``n_redactions`` counts the spans actually replaced: emails on the
    raw text, IPs on the email-scrubbed text, phones on the IP-scrubbed
    text — each span is counted exactly once even though the pattern
    languages overlap.

    Each pass is pre-gated on a cheap necessary-condition scan (see
    :func:`pii_stats`): no ``'@'`` → the email replace is the identity
    and its count 0; no digit in the email-scrubbed text → both the
    IPv4 and phone passes are identities (the IPv4 replace only ever
    REMOVES digits, so one digit test on ``t1`` soundly gates the
    phone pass on ``t2`` as well).  The gate never skips a possible
    match — results are byte-identical to the ungated cascade.
    """
    t0 = F.col(text_col)
    has_at = t0.contains("@")
    t1 = F.when(
        has_at, F.regexp_replace(t0, F.lit(EMAIL_RE), F.lit(EMAIL_TOKEN))
    ).otherwise(t0)
    has_digit = t1.rlike("[0-9]")
    t2 = F.when(
        has_digit, F.regexp_replace(t1, F.lit(IPV4_RE), F.lit(IPV4_TOKEN))
    ).otherwise(t1)
    t3 = F.when(
        has_digit, F.regexp_replace(t2, F.lit(PHONE_RE), F.lit(PHONE_TOKEN))
    ).otherwise(t2)
    n = (
        _gated_count(t0, has_at, EMAIL_RE)
        + _gated_count(t1, has_digit, IPV4_RE)
        + _gated_count(t2, has_digit, PHONE_RE)
    )
    return docs.select(
        *[F.col(c) for c in docs.columns],
        t3.alias("clean_text"),
        n.alias("n_redactions"),
    )
