"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from ``--seed``,
starts the engine, warms it up (charged to ``setup_s``), measures a closed
loop with one client for ``--seconds``, checks the outputs, and prints one
JSON object as the last line of stdout::

    {"correct": true, "attempted": 19, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics and writes every span plus the workload's layer timings to
``.perfbench/traces/``. The traced run's ``trace.op_p50_s`` against the
untraced ``op_p50_s`` of the same seed is the tracing overhead. Scratch data lives in
``.perfbench/`` under the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "procurement_data_pipeline_spark"
WORKLOADS = ("daily_batch", "analytic_mix", "versioned_churn")

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_min": "1/min",
    "peak_rss_mb": "MB",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

PER_LAYER_UNITS = {
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "session.executor_busy_s_per_op": "s",
    "session.driver_only_s_per_op": "s",
    "session.input_bytes_per_op": "B",
    "session.shuffle_write_bytes_per_op": "B",
    "session.output_bytes_per_op": "B",
    "session.failed_tasks": "count",
    "caching.persists_per_op": "count",
    "versioning.files_kept_ratio": "ratio",
    "versioning.files_rewritten_per_merge": "count",
    "versioning.files_per_version": "count",
    "versioning.log_bytes": "B",
    "trace.op_p50_s": "s",
}


def _prepare_environment(work: str) -> None:
    """Keep every file the engine writes inside ``work`` (``-XX:-UsePerfData``
    stops the JVM's /tmp/hsperfdata file) and size the engine small."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # A fixed-size heap (-Xms = -Xmx) keeps the JVM's resident size from
    # depending on when the collector decides to grow the heap.
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{mem} -XX:-UsePerfData -Djava.io.tmpdir={tmp} '
        f'-Dderby.system.home={tmp}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')} "
        "pyspark-shell"
    )


@dataclass
class Context:
    """What a workload gets: the engine, its seeded inputs and the recorders."""

    spark: object
    seed: int
    work: str
    log: object
    tracer: object
    counters: object | None
    tracing: bool = False

    @contextmanager
    def op(self, name: str, key: str | None = None):
        """One measured op; under tracing also a job group and an ``op`` span."""
        index = len(self.log.ops)
        with self.log.op(name, key) as o:
            if not self.tracing:
                yield o
                return
            op_id = f"{index}:{name}"
            self.tracer.op_id = op_id
            with self.counters.op(op_id), self.tracer.span("op"):
                yield o


def _load_workload(name: str):
    if name == "daily_batch":
        from perfbench.workloads.daily_batch import DailyBatch as W
    elif name == "analytic_mix":
        from perfbench.workloads.analytic_mix import AnalyticMix as W
    else:
        from perfbench.workloads.versioned_churn import VersionedChurn as W
    return W


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, sf: float | None) -> dict:
    from perfbench.harness import (
        OpLog,
        SessionCounters,
        Tracer,
        jvm_peak_rss_mb,
        measure,
        tail,
    )

    t0 = time.perf_counter()
    from procurement_data_pipeline_spark.session import get_session

    spark = get_session(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer()
        ctx = Context(
            spark, seed, work, OpLog(), tracer, SessionCounters(spark) if trace else None
        )
        wl = _load_workload(workload)(ctx, **({"sf": sf} if sf else {}))
        if trace:
            wl.install_tracing(tracer)

        t1 = time.perf_counter()
        wl.setup()
        wl.warmup()
        setup_s = session_s + (time.perf_counter() - t1)

        ctx.tracing = tracer.enabled = trace
        wall_s, units = measure(wl.unit, seconds)
        ctx.tracing = tracer.enabled = False
        tracer.uninstall()
        storage = wl.finish()
        rss = jvm_peak_rss_mb(spark)
    finally:
        _stop_engine(spark)

    log = ctx.log
    lat = log.latencies()
    reads = log.phase_latencies("read")
    commits = log.phase_latencies("commit")
    info = {
        "workload": workload,
        "seed": seed,
        "inputs": wl.describe(),
        "units": units,
        "measured_s": round(wall_s, 3),
        "failed_ratio": log.failed / max(1, log.attempted),
    }
    for label, xs in (("op", lat), ("read", reads), ("commit", commits)):
        if xs:
            t = tail(xs)
            info[f"{label}_tail"] = {"percentile": round(t.percentile, 1), "samples": t.samples}
    if commits:
        info["commit_p50_s"] = median(commits)
        info["commit_tail_s"] = tail(commits).value
    correct = log.failed == 0 and bool(lat)

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": median(lat) if lat else 0.0,
            "op_tail_s": tail(lat).value if lat else 0.0,
            "ops_per_min": 60.0 * len(lat) / wall_s,
            "peak_rss_mb": rss,
            "read_p50_s": median(reads) if reads else 0.0,
            "read_tail_s": tail(reads).value if reads else 0.0,
            "write_amp": storage["write_amp"],
            "space_amp": storage["space_amp"],
        }
        units_map = END_TO_END_UNITS
    else:
        layers = wl.layer_metrics(tracer)
        metrics = {f"session.{k}": v for k, v in ctx.counters.per_op_means().items()}
        metrics["trace.op_p50_s"] = median(lat) if lat else 0.0
        for k in PER_LAYER_UNITS.keys() - metrics.keys():
            metrics[k] = layers.pop(k, 0.0)  # counts of a layer this workload leaves idle are 0
        info["layers"] = layers
        trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.json")
        tracer.dump(trace_path, {"info": info, "metrics": metrics})
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
        units_map = PER_LAYER_UNITS
    return {
        "info": info,
        "result": {
            "correct": correct,
            "attempted": log.attempted,
            "failed": log.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units_map.items()},
        },
    }


def _stop_engine(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="input scale (self-tests)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    _prepare_environment(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), work, args.sf)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["info"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
