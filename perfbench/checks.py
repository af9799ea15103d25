"""Output checks shared by the workloads."""

from __future__ import annotations

# Dup-pair quality floor for the dedup workloads: the recall gate the
# package's tiny-corpus test applies, held at benchmark scale.
MIN_DEDUP_QUALITY = 0.99


def compare(out: dict, ref: dict, keys) -> list[str]:
    """Messages for every key whose value differs from the reference."""
    return [
        f"{k}: got {out.get(k)!r}, reference {ref.get(k)!r}"
        for k in keys
        if out.get(k) != ref.get(k)
    ]


def quality_floor(ref: dict, floor: float = MIN_DEDUP_QUALITY) -> list[str]:
    """Messages for a precision or recall below ``floor``."""
    return [
        f"{k} {ref[k]:.6f} below {floor}"
        for k in ("cluster_precision", "cluster_recall")
        if ref[k] < floor
    ]

