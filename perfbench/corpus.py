"""Seeded planted-truth corpora, cached on disk by (pages, seed, hot_frac).

Generating a corpus is the load generator's work: it runs before the
session is built, so it is outside every timed region and ``setup_s``.
The program sees only the parquet written here.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path


def ensure_corpus(cache: Path, pages: int, seed: int, hot_frac: float) -> Path:
    """Path of the cached corpus, written first if absent.  The write
    goes to a temporary sibling renamed into place, so an interrupted
    write never leaves a half corpus behind."""
    from metacache_mpi_spark.sources.pages import write_corpus

    out = cache / f"p{pages}_s{seed}_h{hot_frac:g}"
    if (out / "pages_truth.parquet").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    write_corpus(str(tmp), n_pages=pages, seed=seed, hot_frac=hot_frac)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
