"""Smoke runs of each workload at sf0.001, and proof that each workload's
correctness check turns a corrupted result into failed ops.

These start a Spark engine, so they take a few minutes:

    python3 -m pytest -q perfbench/tests
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run as bench

SF = 0.001
BENCHMARK = os.path.join(bench.ROOT, "BENCHMARK.json")


def _cli(*args: str, cwd: str = bench.ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _declared(kind: str) -> dict[str, str]:
    with open(BENCHMARK) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_cli_smoke_reports_every_end_to_end_metric(workload):
    p = _cli("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "0",
             "--sf", str(SF))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_cli_traced_run_reports_per_layer_metrics_and_writes_spans():
    p = _cli("--workload", "versioned_churn", "--seed", "8", "--seconds", "1",
             "--trace", "1", "--sf", str(SF))
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, info = json.loads(lines[-1]), json.loads(lines[-2])
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _declared("per_layer")
    with open(os.path.join(bench.ROOT, info["trace_file"])) as f:
        dump = json.load(f)
    spans = dump["spans"]
    assert spans and {"id", "name", "start", "end", "parent", "op"} <= set(spans[0])
    assert any(s["name"] == "versioning.merge_into" for s in spans)
    assert info["layers"]["versioning.merge_s"] > 0


def test_cli_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(bench.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCHMARK, tmp_path)
    p = _cli("--workload", "daily_batch", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


# --- in-process: corrupted results must fail ops ------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("engine"))
    bench._prepare_environment(work)
    from procurement_data_pipeline_spark.session import get_session

    s = get_session("perfbench-selftest")
    yield s
    bench._stop_engine(s)


def _ctx(spark, tmp_path, seed=5):
    from perfbench.harness import OpLog, Tracer

    return bench.Context(spark, seed, str(tmp_path), OpLog(), Tracer(), None)


def test_daily_batch_check_rejects_a_corrupted_supplier_order(spark, tmp_path):
    from perfbench.workloads.daily_batch import DailyBatch

    ctx = _ctx(spark, tmp_path)
    wl = DailyBatch(ctx)
    wl.setup()
    wl.warmup()
    wl.unit(0)
    wl.finish()
    assert (ctx.log.attempted, ctx.log.failed) == (3, 0)
    day = wl.days[-1]
    order_date = sorted(os.listdir(os.path.join(wl.root, "output", "supplier_orders")))[-1]
    path = sorted(glob.glob(os.path.join(
        wl.root, "output", "supplier_orders", order_date, "supplier_*.json")))[0]
    with open(path) as f:
        doc = json.load(f)
    doc["items"][0]["quantity"] += 1
    with open(path, "w") as f:
        json.dump(doc, f)
    wl.finish()
    assert [op.key for op in ctx.log.ops if op.failed] == [day]


def test_analytic_mix_check_rejects_a_corrupted_query_result(spark, tmp_path):
    from pyspark.sql import functions as F

    from perfbench.workloads.analytic_mix import AnalyticMix

    ctx = _ctx(spark, tmp_path)
    wl = AnalyticMix(ctx, sf=SF)
    spec = wl.specs["tpch_q1_pricing_summary"]
    original = spec.builder

    def corrupted(s, d):
        df = original(s, d)
        return df.withColumn("sum_qty", F.col("sum_qty") + 1)

    wl.specs[spec.name] = spec.__class__(**{**spec.__dict__, "builder": corrupted})
    wl.setup()
    wl.warmup()
    wl.unit(0)
    wl.finish()
    failed = {op.name for op in ctx.log.ops if op.failed}
    assert failed == {"tpch_q1_pricing_summary"}
    assert ctx.log.attempted == 38


def test_versioned_churn_check_rejects_an_unlogged_write(spark, tmp_path):
    from procurement_data_pipeline_spark.operators import versioning as V

    from perfbench.workloads.versioned_churn import VersionedChurn

    ctx = _ctx(spark, tmp_path)
    wl = VersionedChurn(ctx, sf=SF)
    wl.setup()
    wl.warmup()
    wl.unit(0)
    wl.finish()
    assert ctx.log.failed == 0 and ctx.log.attempted == 26
    latest = V.read_table(spark, wl.table).limit(1)
    V.merge_into(spark, wl.table, latest.withColumn("o_totalcents", latest.o_totalcents + 1),
                 "o_orderkey")
    wl.finish()
    failed = {op.name for op in ctx.log.ops if op.failed}
    assert failed == {"append", "merge", "optimize", "vacuum", "read_latest", "scan"}
