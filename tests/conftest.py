from __future__ import annotations

import os

import pytest

from metacache_mpi_spark.session import get_spark
from metacache_mpi_spark.sources.pages import write_corpus


def _test_heap() -> str:
    """Driver heap for the one shared test session.

    ``get_spark``'s 32g default is sized for a cluster driver; the whole
    suite shares one local JVM, which on a small host grows past physical
    RAM and is OOM-killed late in the run.  ``SPARK_GRAFT_DRIVER_MEM``
    wins; otherwise 40 % of MemTotal (the suite passes with 6g).
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{min(32 * 1024, max(2048, kb * 2 // 5 // 1024))}m"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, app_name="tests", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": _test_heap()})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus(tmp_path_factory):
    """FIXTURES.md tiny scale (500 pages), generated once per session."""
    out = tmp_path_factory.mktemp("corpus") / "tiny"
    write_corpus(str(out), n_pages=500, seed=42)
    return str(out)
