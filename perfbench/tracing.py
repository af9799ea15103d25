"""Spans around the benchmark's calls into each layer, and their roll-up.

A span records ``name``, ``start``, ``end``, ``parent`` and ``run_id``.
Spans stay in memory and are written once, after the traced call.
While a layer span is open, every Spark job it starts carries a job
group unique to that span, so the layer's stages can be read back from
the status store (works with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    span_id: int = 0
    group: str = ""
    stages: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover
    (overlapping children are counted once)."""
    cut = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in cut:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


def rollup_stages(stages: list[dict]) -> dict:
    """Sum per-stage status-store records into one layer record."""
    return {
        "run_s": sum(s["run_ms"] for s in stages) / 1000.0,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB,
        "spill_mb": sum(s["disk_spill_bytes"] for s in stages) / MB,
        "max_task_s": max((s["max_task_ms"] for s in stages), default=0.0)
        / 1000.0,
        "stage_ids": [s["stage_id"] for s in stages],
    }


class StageReader:
    """Reads finished stages of a job group from the status store."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.seen: set[int] = set()

    def _max_task_ms(self, sid: int, attempt: int) -> float:
        q = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 1)
        q[0] = 1.0
        summary = self.store.taskSummary(sid, attempt, q)
        if not summary.isDefined():
            return 0.0
        return float(summary.get().executorRunTime().apply(0))

    def group_stages(self, group: str) -> list[dict]:
        """Every stage that ran (not skipped) in the group's jobs, each
        attributed once per reader: AQE gives a reused shuffle a new,
        SKIPPED stage id, and a stage shared by two jobs is seen once."""
        from py4j.protocol import Py4JJavaError

        # stage metrics reach the store through the listener bus, which
        # may still hold the last job's completion events
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        out = []
        tracker = self.sc.statusTracker()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sid = int(sid)
                if sid in self.seen:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # evicted or never attempted
                if sd.status().toString() == "SKIPPED":
                    continue
                self.seen.add(sid)
                out.append(
                    {
                        "stage_id": sid,
                        "run_ms": int(sd.executorRunTime()),
                        "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                        "disk_spill_bytes": int(sd.diskBytesSpilled()),
                        "max_task_ms": self._max_task_ms(
                            sid, int(sd.attemptId())
                        ),
                    }
                )
        return out


class Tracer:
    """Collects the spans of one traced call; :meth:`span` is a context
    manager around one call into a layer."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self.reader = StageReader(sc)
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        sp = self._begin(name)
        try:
            yield sp
        finally:
            self._finish(sp)

    def _begin(self, name: str) -> Span:
        sid = len(self.spans)
        sp = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._open[-1] if self._open else None,
            run_id=self.run_id,
            span_id=sid,
            group=f"{self.run_id}/{sid}/{name}",
        )
        self.spans.append(sp)
        self._open.append(sid)
        self.sc.setJobGroup(sp.group, name)
        return sp

    def _finish(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._open.pop()
        self.sc.setJobGroup(
            self.spans[self._open[-1]].group if self._open else "", ""
        )
        sp.stages = rollup_stages(self.reader.group_stages(sp.group))

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def layers(self, nproc: int) -> dict[str, dict]:
        """Per-layer totals over every non-root span of that name."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            if sp.parent is None:
                continue
            rec = out.setdefault(
                sp.name,
                {"wall_s": 0.0, "run_s": 0.0, "rows_out": 0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0, "max_task_s": 0.0},
            )
            rec["wall_s"] += self_time(sp, self.children(sp))
            rec["rows_out"] += sp.counts.get("rows_out", 0)
            for k in ("run_s", "shuffle_write_mb", "spill_mb"):
                rec[k] += sp.stages[k]
            rec["max_task_s"] = max(rec["max_task_s"], sp.stages["max_task_s"])
        for rec in out.values():
            rec["idle_frac"] = idle_frac(rec["run_s"], rec["wall_s"], nproc)
        return out

    def total_s(self) -> float:
        roots = [s for s in self.spans if s.parent is None]
        return sum(s.end - s.start for s in roots)

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def idle_frac(run_s: float, wall_s: float, nproc: int) -> float:
    """Share of the layer's task slots that sat waiting."""
    if wall_s <= 0:
        return 0.0
    return 1.0 - run_s / (wall_s * nproc)

