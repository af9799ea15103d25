"""Tests of the benchmark's own code, at tiny scale (500-page corpora).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

from checks import compare, quality_floor  # noqa: E402
from tracing import Span, idle_frac, rollup_stages, self_time  # noqa: E402


# ---------------------------------------------------------------------------
# span arithmetic and roll-up (no Spark)
# ---------------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    parent = Span("root", start=0.0, end=10.0)
    kids = [
        Span("a", start=1.0, end=3.0),
        Span("b", start=2.0, end=5.0),  # overlaps a: counted once
        Span("c", start=7.0, end=8.0),
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_clips_children_to_parent():
    parent = Span("root", start=5.0, end=10.0)
    kids = [Span("early", start=0.0, end=6.0), Span("late", start=9.0, end=12.0)]
    assert self_time(parent, kids) == pytest.approx(5.0 - 1.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(5.0)
    assert self_time(parent, [Span("out", start=11.0, end=12.0)]) == 5.0


def test_rollup_stages_sums_and_takes_max_task():
    mb = 1024 * 1024
    stages = [
        {"stage_id": 3, "run_ms": 1500, "shuffle_write_bytes": 2 * mb,
         "disk_spill_bytes": 0, "max_task_ms": 400.0},
        {"stage_id": 5, "run_ms": 500, "shuffle_write_bytes": mb,
         "disk_spill_bytes": 3 * mb, "max_task_ms": 900.0},
    ]
    rec = rollup_stages(stages)
    assert rec == {
        "run_s": 2.0, "shuffle_write_mb": 3.0, "spill_mb": 3.0,
        "max_task_s": 0.9, "stage_ids": [3, 5],
    }
    assert rollup_stages([])["run_s"] == 0.0


def test_idle_frac():
    assert idle_frac(run_s=4.0, wall_s=2.0, nproc=4) == pytest.approx(0.5)
    assert idle_frac(run_s=8.0, wall_s=2.0, nproc=4) == pytest.approx(0.0)
    assert idle_frac(run_s=1.0, wall_s=0.0, nproc=4) == 0.0


# ---------------------------------------------------------------------------
# output checks firing on corrupted outputs (no Spark)
# ---------------------------------------------------------------------------

REF = {"docs": 500, "clusters": 430, "assign_fp": 123, "pairs": 80,
       "cluster_precision": 1.0, "cluster_recall": 1.0}
KEYS = ("docs", "clusters", "assign_fp", "pairs")


@pytest.mark.parametrize("key", KEYS)
def test_compare_fires_on_each_corrupted_key(key):
    bad = dict(REF, **{key: REF[key] + 1})
    msgs = compare(bad, REF, KEYS)
    assert len(msgs) == 1 and msgs[0].startswith(key)
    assert compare(dict(REF), REF, KEYS) == []


def test_quality_floor_fires_below_floor():
    assert quality_floor(REF) == []
    msgs = quality_floor(dict(REF, cluster_recall=0.98))
    assert len(msgs) == 1 and "cluster_recall" in msgs[0]


# ---------------------------------------------------------------------------
# corpus cache and the bare-directory exit (no Spark)
# ---------------------------------------------------------------------------


def test_corpus_cache_keyed_by_pages_seed_hot(tmp_path):
    from corpus import ensure_corpus

    a = ensure_corpus(tmp_path, 500, 7, 0.0)
    stamp = (a / "pages.parquet").stat().st_mtime_ns
    assert ensure_corpus(tmp_path, 500, 7, 0.0) == a
    assert (a / "pages.parquet").stat().st_mtime_ns == stamp  # cached
    b = ensure_corpus(tmp_path, 500, 8, 0.0)
    c = ensure_corpus(tmp_path, 500, 7, 0.1)
    assert len({a, b, c}) == 3
    assert not list(tmp_path.glob("*.tmp*"))


def test_bare_directory_exits_nonzero_without_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".corpora",
                                                  "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup_uniform",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ---------------------------------------------------------------------------
# status-store roll-up and the workload at tiny scale (Spark)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    # the session's Python workers import the package and these modules
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(BENCH)])
    from metacache_mpi_spark.session import get_spark

    s = get_spark(2, app_name="perfbench-tests", shuffle_partitions=4)
    yield s
    s.stop()
    if old is None:
        os.environ.pop("PYTHONPATH", None)
    else:
        os.environ["PYTHONPATH"] = old


def test_status_store_rollup_attributes_each_stage_once(spark):
    from tracing import Tracer

    tr = Tracer(spark.sparkContext, "t")
    with tr.span("root"):
        with tr.span("agg") as sp:
            df = (
                spark.range(20000, numPartitions=4)
                .selectExpr("id % 97 AS k")
                .groupBy("k").count()
                .persist()
            )
            sp.counts["rows_out"] = df.count()
        with tr.span("reuse") as sp:
            sp.counts["rows_out"] = df.where("k < 10").count()
    df.unpersist()
    layers = tr.layers(nproc=2)
    assert set(layers) == {"agg", "reuse"}
    agg, reuse = layers["agg"], layers["reuse"]
    assert agg["rows_out"] == 97 and reuse["rows_out"] == 10
    assert agg["run_s"] > 0 and agg["shuffle_write_mb"] > 0
    # the cached aggregate is read back, never re-shuffled
    assert reuse["shuffle_write_mb"] < agg["shuffle_write_mb"]
    stage_sets = [set(s.stages["stage_ids"]) for s in tr.spans]
    assert all(not (a & b) for i, a in enumerate(stage_sets)
               for b in stage_sets[i + 1:])
    root = [s for s in tr.spans if s.name == "root"][0]
    assert self_time(root, tr.children(root)) < root.end - root.start


def test_dedup_workload_checks_and_traced_rows_agree(spark, tmp_path):
    from corpus import ensure_corpus
    from tracing import Tracer
    from workloads import Ctx, Dedup

    wl = Dedup(pages=500, hot_frac=0.0, policy="drop")
    ctx = Ctx("tiny", spark, ensure_corpus(tmp_path, 500, 42, 0.0))
    ref = wl.reference(ctx)
    assert wl.check(ref, ref) == []
    assert wl.check(wl.call(ctx), ref) == []
    for key in wl.out_keys:
        assert wl.check(dict(ref, **{key: ref[key] + 1}), ref)

    tr = Tracer(spark.sparkContext, "tiny")
    out = wl.traced(ctx, tr)
    assert compare(out, ref, wl.out_keys) == []
    layers = tr.layers(nproc=2)
    assert layers["cc.clusters"]["rows_out"] == ref["docs"]
    assert layers["verify.pairs"]["rows_out"] == ref["pairs"]
    assert layers["sketch"]["run_s"] > 0
