"""PII scrub/stats + intra-doc line dedup: exact handcrafted gates."""

from __future__ import annotations

from pyspark.sql import functions as F

from metacache_mpi_spark.operators.pii import pii_stats, scrub_pii
from metacache_mpi_spark.operators.textops import strip_repeated_lines


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scrub_pii_exact(spark):
    docs = _docs(
        spark,
        [
            (1, "mail me at jo.doe+x@site.org or call +1 555-010-9999 ok"),
            (2, "server 10.0.3.7 and 192.168.1.200 up"),
            (3, "no pii here at all"),
        ],
    )
    out = {
        r["doc_id"]: r for r in scrub_pii(docs).collect()
    }
    assert out[1]["clean_text"] == "mail me at <EMAIL> or call <PHONE> ok"
    assert out[1]["n_redactions"] == 2
    assert out[2]["clean_text"] == "server <IP> and <IP> up"
    assert out[2]["n_redactions"] == 2
    assert out[3]["clean_text"] == "no pii here at all"
    assert out[3]["n_redactions"] == 0


def test_scrub_order_ip_counted_once(spark):
    # an IPv4 is also phone-shaped; scrub order (email→ip→phone) must
    # count it exactly once, as an IP
    docs = _docs(spark, [(1, "addr 10.20.30.40 end")])
    r = scrub_pii(docs).collect()[0]
    assert r["clean_text"] == "addr <IP> end"
    assert r["n_redactions"] == 1
    s = pii_stats(docs).collect()[0]
    # but the independent stats counts overlap by design
    assert (s["n_emails"], s["n_ipv4"], s["n_phones"]) == (0, 1, 1)


def test_pii_stats_counts(spark):
    docs = _docs(
        spark,
        [(1, "a@b.io c@d.co 1.2.3.4 phone 555-010-9999"), (2, "")],
    )
    s = {r["doc_id"]: r for r in pii_stats(docs).collect()}
    assert (s[1]["n_emails"], s[1]["n_ipv4"]) == (2, 1)
    # "1.2.3.4" is 7 chars — below the >=8-char phone shape, so only
    # the real phone number matches
    assert s[1]["n_phones"] == 1
    assert (s[2]["n_emails"], s[2]["n_ipv4"], s[2]["n_phones"]) == (0, 0, 0)


def test_ipv4_word_boundary(spark):
    # trailing word char breaks \b — not an address
    docs = _docs(spark, [(1, "v1.2.3.4x is a version tag")])
    r = scrub_pii(docs).collect()[0]
    assert "<IP>" not in r["clean_text"]


def test_pii_ops_have_no_shuffle(spark):
    docs = _docs(spark, [(1, "x")])
    for op in (scrub_pii, pii_stats):
        plan = op(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_pii_pre_gates_are_sound(spark):
    """The cheap pre-gates (contains('@') / rlike('[0-9]')) must never
    change results vs the ungated cascade — exercise each gate's
    true/false combination, including the corner where the email scrub
    removes the text's ONLY digits (the digit gate is computed on the
    email-scrubbed text, so the IPv4/phone passes are skipped exactly
    when they could not match)."""
    docs = _docs(
        spark,
        [
            (1, "at-sign no digits @ here"),       # '@' but no email
            (2, "digits 12345678 no at sign"),     # phone, no '@'
            (3, "only a1@b.co here"),              # email holds all digits
            (4, "a@b.co then 10.0.0.1 then 555-0100 x"),  # all three
            (5, "plain words only"),               # both gates false
            (6, ""),                               # empty
        ],
    )
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[1]["clean_text"] == "at-sign no digits @ here"
    assert out[1]["n_redactions"] == 0
    assert out[2]["clean_text"] == "digits <PHONE> no at sign"
    assert out[2]["n_redactions"] == 1
    # doc 3: t1 = "only <EMAIL> here" has no digits left -> the gated
    # IPv4/phone passes are identities, same as the ungated cascade
    assert out[3]["clean_text"] == "only <EMAIL> here"
    assert out[3]["n_redactions"] == 1
    assert out[4]["clean_text"] == "<EMAIL> then <IP> then <PHONE> x"
    assert out[4]["n_redactions"] == 3
    assert out[5]["clean_text"] == "plain words only"
    assert out[5]["n_redactions"] == 0
    assert (out[6]["clean_text"], out[6]["n_redactions"]) == ("", 0)
    s = {r["doc_id"]: r for r in pii_stats(docs).collect()}
    assert (s[1]["n_emails"], s[1]["n_ipv4"], s[1]["n_phones"]) == (0, 0, 0)
    assert (s[2]["n_emails"], s[2]["n_ipv4"], s[2]["n_phones"]) == (0, 0, 1)
    assert (s[3]["n_emails"], s[3]["n_ipv4"]) == (1, 0)
    assert (s[4]["n_emails"], s[4]["n_ipv4"], s[4]["n_phones"]) == (1, 1, 2)
    assert (s[5]["n_emails"], s[5]["n_ipv4"], s[5]["n_phones"]) == (0, 0, 0)


def test_strip_repeated_lines_keep_first_order(spark):
    docs = _docs(
        spark,
        [
            (1, "nav\nbody one\nnav\nbody two\nnav"),
            (2, "only\nunique\nlines"),
            (3, "same\nsame\nsame"),
            (4, ""),
        ],
    )
    out = {r["doc_id"]: r for r in strip_repeated_lines(docs).collect()}
    assert out[1]["clean_text"] == "nav\nbody one\nbody two"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (3, 2)
    assert out[2]["clean_text"] == "only\nunique\nlines"
    assert out[2]["n_dropped"] == 0
    assert out[3]["clean_text"] == "same"
    assert (out[3]["n_kept"], out[3]["n_dropped"]) == (1, 2)
    # split('') == [''] in both engines: empty doc passes through
    assert (out[4]["clean_text"], out[4]["n_kept"]) == ("", 1)


def test_strip_repeated_lines_no_shuffle(spark):
    docs = _docs(spark, [(1, "a\nb")])
    plan = (
        strip_repeated_lines(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_strip_repeated_words_sep(spark):
    docs = _docs(spark, [(1, "the cat the hat the end")])
    r = strip_repeated_lines(docs, sep=" ").collect()[0]
    assert r["clean_text"] == "the cat hat end"


def test_null_text_yields_nulls_both_lanes(spark):
    """ANSI semantics (Spark 4 default): null text -> null outputs,
    matching what the DuckDB twins produce — pins the engine-parity
    property for corpora with null-text rows."""
    docs = _docs(spark, [(1, None), (2, "a b a")])
    p = {r["doc_id"]: r for r in pii_stats(docs).collect()}
    assert (p[1]["n_emails"], p[1]["n_ipv4"], p[1]["n_phones"]) == (
        None, None, None,
    )
    s = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert (s[1]["clean_text"], s[1]["n_redactions"]) == (None, None)
    l = {r["doc_id"]: r for r in strip_repeated_lines(docs).collect()}
    assert (l[1]["clean_text"], l[1]["n_kept"], l[1]["n_dropped"]) == (
        None, None, None,
    )
    assert l[2]["clean_text"] == "a b a"  # no '\n' -> single line kept


def test_strip_repeated_lines_metachar_sep(spark):
    # sep is quoted (\Q...\E) before hitting F.split's regex engine —
    # a metachar separator must behave literally
    docs = _docs(spark, [(1, "a.b.a.c")])
    r = strip_repeated_lines(docs, sep=".").collect()[0]
    assert r["clean_text"] == "a.b.c"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        strip_repeated_lines(docs, sep="\\E")


def test_passthrough_columns_preserved(spark):
    docs = spark.createDataFrame(
        [(1, "u1", "a a")], "doc_id long, url string, text string"
    )
    assert set(strip_repeated_lines(docs).columns) == {
        "doc_id", "url", "text", "clean_text", "n_kept", "n_dropped",
    }
    assert set(scrub_pii(docs).columns) == {
        "doc_id", "url", "text", "clean_text", "n_redactions",
    }


def test_word_freq_scores_exact(spark):
    from metacache_mpi_spark.operators.textops import word_freq_scores

    docs = _docs(spark, [(1, "a a b"), (2, "a c")])
    # vocab: a=3 b=1 c=1, total=5 -> ppm a=600000, b=c=200000
    out = {r["doc_id"]: r for r in word_freq_scores(docs).collect()}
    assert out[1]["n_words"] == 3
    assert out[1]["mean_word_ppm"] == (600000 + 600000 + 200000) // 3
    assert out[1]["oov_milli"] == 1000 // 3  # b is hapax
    assert out[2]["mean_word_ppm"] == (600000 + 200000) // 2
    assert out[2]["oov_milli"] == 500  # c is hapax


def test_clean_job_pii_and_line_dedup_stages(spark, tmp_path):
    """clean_job.run with --scrub-pii + --strip-repeated-lines: planted
    PII comes out as placeholder tokens, intra-doc repeated lines are
    counted, and both stages are row-preserving in the funnel."""
    import argparse
    import importlib.util
    import os

    import pyarrow.parquet as pq
    import pyarrow as pa

    from metacache_mpi_spark.sources.pages import write_corpus

    spec = importlib.util.spec_from_file_location(
        "clean_job",
        os.path.join(
            os.path.dirname(__file__), "..", "scripts", "clean_job.py"
        ),
    )
    clean_job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(clean_job)

    cdir = str(tmp_path / "corpus")
    write_corpus(cdir, n_pages=120, seed=33)
    # plant PII + an intra-doc repeated line into a handful of pages
    t = pq.read_table(f"{cdir}/pages.parquet")
    texts = t.column("text").to_pylist()
    for i in range(0, 8):
        first_line = texts[i].split("\n", 1)[0]
        texts[i] = (
            f"{texts[i]}\n{first_line}\n{first_line}\n"
            # unique per doc — an identical line in 8 docs would be
            # removed as cross-doc boilerplate before the scrub stage
            f"mail bob{i}@example.com from 10.1.2.{i} now"
        )
    t = t.set_column(
        t.schema.get_field_index("text"), "text", pa.array(texts)
    )
    pq.write_table(t, f"{cdir}/pages.parquet", row_group_size=4096)

    ns = argparse.Namespace(
        input=cdir, output=str(tmp_path / "out"), generate=0, cores=None,
        bucketed_warehouse=None, eval_docs=None, embeddings=None,
        eval_embeddings=None, semantic_tau=0.9, scrub_pii=True,
        strip_repeated_lines=True, max_oov_milli=900,
    )
    counts = clean_job.run(spark, ns)
    # each planted page: 2 extra copies of its first line -> >=2 drops
    assert counts["intra_doc_lines_dropped"] >= 16
    # one email + one ip per planted page
    assert counts["pii_redactions"] >= 16
    # both stages are row-preserving
    assert counts["after_pii_scrub"] == counts["after_quality"]
    out = spark.read.parquet(str(tmp_path / "out"))
    scrubbed = out.where(F.col("text").contains("<EMAIL>"))
    assert scrubbed.count() > 0
    assert out.where(F.col("text").contains("@example.com")).count() == 0
