"""Benchmark of the dedup engine: one workload per run, at ``local[nproc]``.

    python3 perfbench/run.py --workload dedup_uniform --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  The load is one closed-loop client:
this process makes sequential calls into the package's public functions
and waits for each.  ``--trace 0`` times untraced calls and prints the
end-to-end metrics; ``--trace 1`` runs the traced composition and prints
the per-layer metrics.  Every call's output is checked; the last line of
standard output is one JSON object (correct, attempted, failed,
metrics) and the exit code is non-zero when any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3  # sessions built per run; setup_s is their median
# Untimed calls after the reference call: call time keeps falling over
# the first calls while the JVM compiles the hot paths.
WARMUPS = 1

LAYERS = (
    "pipeline.prepare", "sketch", "lsh.bands", "lsh.candidates",
    "verify.gate", "verify.pairs", "cc.clusters",
)
LAYER_QUANTITIES = (
    ("wall_s", "s"), ("run_s", "s"), ("idle_frac", "ratio"),
    ("rows_out", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
)
SINGLE_METRICS = (
    ("session.gc_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("lsh.candidates.pairs_per_doc", "ratio"),
    ("verify.gate.pass_ratio", "ratio"),
    ("verify.pairs.yield_ratio", "ratio"),
    ("lsh.candidates.max_task_s", "s"),
    ("verify.pairs.max_task_s", "s"),
    ("trace.overhead_s", "s"),
    ("host.cpu_kernel_s", "s"),
    ("host.mem_kernel_gbps", "GB/s"),
)
END_TO_END = (
    ("job_s", "s"), ("docs_per_sec", "docs/s"), ("setup_s", "s"),
    ("cluster_precision", "ratio"), ("cluster_recall", "ratio"),
)


def workloads() -> dict:
    """Workload name → instance.  ``dedup_skew`` plants 500 mirrored
    pages, so its largest band buckets pass the 254-doc cap and only it
    reaches the star path of the oversize policy.  With 300 mirrors the
    buckets sat near the cap and ``job_s`` spread 27 % across seeds."""
    from workloads import Dedup

    return {
        "dedup_uniform": Dedup(pages=3000, hot_frac=0.0, policy="drop"),
        "dedup_skew": Dedup(pages=2000, hot_frac=0.25, policy="star"),
    }


def per_layer_names() -> list[tuple[str, str]]:
    return [
        (f"{layer}.{q}", unit)
        for layer in LAYERS
        for q, unit in LAYER_QUANTITIES
    ] + list(SINGLE_METRICS)


def _identity(batches):
    yield from batches


def _warm(spark, n: int) -> None:
    """Starts every task slot's Python worker, with pandas and Arrow."""
    spark.range(n * 256, numPartitions=n).mapInPandas(
        _identity, "id long"
    ).count()


def build_session(n: int, work: Path):
    from metacache_mpi_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        n,
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    _warm(spark, n)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stops the context, then the JVM, and waits for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def layer_metrics(layers: dict, gc_s: float, overhead_s: float,
                  host: dict) -> dict:
    """Flat per-layer metric values of one traced call."""
    vals = {
        f"{layer}.{q}": float(layers[layer][q])
        for layer in LAYERS
        for q, _ in LAYER_QUANTITIES
    }

    def rows(layer):
        return layers[layer]["rows_out"]

    def ratio(a, b):
        return a / b if b else 0.0

    vals.update({
        "session.gc_s": gc_s,
        "lsh.candidates.pairs_per_doc": ratio(
            rows("lsh.candidates"), rows("sketch")
        ),
        "verify.gate.pass_ratio": ratio(
            rows("verify.gate"), rows("lsh.candidates")
        ),
        "verify.pairs.yield_ratio": ratio(
            rows("verify.pairs"), rows("verify.gate")
        ),
        "lsh.candidates.max_task_s": layers["lsh.candidates"]["max_task_s"],
        "verify.pairs.max_task_s": layers["verify.pairs"]["max_task_s"],
        "trace.overhead_s": overhead_s,
        "host.cpu_kernel_s": host["cpu_kernel_s"],
        "host.mem_kernel_gbps": host["mem_kernel_gbps"],
    })
    return vals


def report(names, values: dict, samples: dict) -> dict:
    """Prints one line per metric and returns the result's metrics."""
    metrics = {}
    for name, unit in names:
        metrics[name] = {"value": values[name], "unit": unit}
        print(f"  {name:40s} {values[name]:>14.6g} {unit:7s} "
              f"n={samples.get(name, 1)}")
    return metrics


class Calls:
    """Counts attempted calls and records every failure: a call that
    raised or whose output failed a check."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def attempt(self, fn, *args):
        """Returns ``fn(*args)``, or None when it raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 — counted as failed
            traceback.print_exc()
            self.failures.append(f"{fn.__name__}: {str(exc)[:500]}")
            return None

    def checked(self, msgs: list[str]) -> None:
        if msgs:
            self.failures.append("; ".join(msgs))


def measure(wl, ctx, calls: Calls, seconds: float, once: bool) -> list[float]:
    """Wall times of untraced calls, made back to back until ``seconds``
    have passed (a single call when ``once``), after ``WARMUPS`` untimed
    calls."""
    def one_call():
        t0 = time.perf_counter()
        out = wl.call(ctx)
        dt = time.perf_counter() - t0
        print(f"CALL wall_s={dt:.4f}", flush=True)
        return dt, out

    for _ in range(WARMUPS):
        res = calls.attempt(one_call)
        if res is not None:
            calls.checked(wl.check(res[1], ctx.ref))
    times = []
    deadline = time.perf_counter() + seconds
    while True:
        res = calls.attempt(one_call)
        if res is not None:
            times.append(res[0])
            calls.checked(wl.check(res[1], ctx.ref))
        if once or time.perf_counter() >= deadline:
            break
    if not times:
        raise RuntimeError(f"every timed call failed: {calls.failures}")
    return times


def traced_layers(wl, ctx, calls: Calls, args, n: int, job_s: float,
                  host: dict, trace_dir: Path) -> list[dict]:
    """Per-layer metrics of traced calls made until ``args.seconds``
    have passed (at least one)."""
    from checks import compare
    from tracing import Tracer

    spark = ctx.spark
    per_call = []
    deadline = time.perf_counter() + args.seconds
    while not per_call or time.perf_counter() < deadline:
        tr = Tracer(spark.sparkContext, f"{args.workload}-{len(per_call)}")
        gc0 = gc_seconds(spark)
        out = calls.attempt(wl.traced, ctx, tr)
        if out is None:
            raise RuntimeError(f"traced call failed: {calls.failures}")
        gc_s = gc_seconds(spark) - gc0
        # traced rows_out must agree with the untraced outputs
        calls.checked(compare(out, ctx.ref, wl.out_keys))
        tr.dump(trace_dir / f"{args.workload}_seed{args.seed}_"
                            f"{len(per_call)}.jsonl")
        per_call.append(layer_metrics(
            tr.layers(n), gc_s, tr.total_s() - job_s, host
        ))
    return per_call


def run(args) -> int:
    from corpus import ensure_corpus
    from host import RssSampler, calibrate, host_record, nproc
    from workloads import Ctx

    wl = workloads()[args.workload]
    n = nproc()
    work = HERE / ".work"
    for d in ("spark-local", "tmp", "trace"):
        (work / d).mkdir(parents=True, exist_ok=True)
    corpus = ensure_corpus(HERE / ".corpora", wl.pages, args.seed, wl.hot_frac)

    setups = []
    for i in range(SETUPS):
        spark, dt = build_session(n, work)
        setups.append(dt)
        if i < SETUPS - 1:
            spark.stop()
    try:
        host = host_record(spark)
        host.update(calibrate(spark, n))
        host["setup_s"] = setups
        print("HOST " + json.dumps(host), flush=True)
        ctx = Ctx(args.workload, spark, corpus)
        calls = Calls()
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            ctx.ref = calls.attempt(wl.reference, ctx)
            if ctx.ref is None:
                raise RuntimeError(f"reference call failed: {calls.failures}")
            calls.checked(wl.check(ctx.ref, ctx.ref))
            print("REF " + json.dumps(ctx.ref), flush=True)
            times = measure(wl, ctx, calls, args.seconds, args.trace == 1)
            job_s = statistics.median(times)
            if args.trace == 1:
                per_call = traced_layers(
                    wl, ctx, calls, args, n, job_s, host, work / "trace"
                )

        if args.trace == 0:
            names = END_TO_END
            values = {
                "job_s": job_s,
                "docs_per_sec": wl.pages / job_s,
                "setup_s": statistics.median(setups),
                "cluster_precision": ctx.ref["cluster_precision"],
                "cluster_recall": ctx.ref["cluster_recall"],
            }
            samples = {"job_s": len(times), "docs_per_sec": len(times),
                       "setup_s": len(setups)}
        else:
            names = per_layer_names()
            values = {
                k: statistics.median(c[k] for c in per_call)
                for k, _ in names if k != "session.peak_rss_mb"
            }
            values["session.peak_rss_mb"] = rss.peak_mb
            samples = {k: len(per_call) for k, _ in names}

        print(f"workload={args.workload} seed={args.seed} trace={args.trace}"
              f" nproc={n} spark.driver.memory={host['spark_driver_memory']}")
        metrics = report(names, values, samples)
        for msg in calls.failures:
            print("CHECK FAILED: " + msg)
        result = {
            "correct": not calls.failures,
            "attempted": calls.attempted,
            "failed": len(calls.failures),
            "metrics": metrics,
        }
    finally:
        stop_session(spark)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "metacache_mpi_spark" / "__init__.py").is_file():
        print(f"no metacache_mpi_spark package under {ROOT}: run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    # Spark's Python workers import the package and this directory's
    # modules; every temporary file stays inside the checkout.  The
    # session's memory default is measured as shipped.
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(HERE / ".work" / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(HERE / ".work" / "spark-local")
    sys.path[:0] = [str(ROOT), str(HERE)]
    if args.workload not in workloads():
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads())}")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
