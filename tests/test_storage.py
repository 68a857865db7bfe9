"""storage: bare exports leave the shared filesystem's checksums alone, and
the recovery paths refuse to report (or build on) a rename that never
happened."""

from __future__ import annotations

import os

import pytest

from procurement_data_pipeline_spark import storage
from procurement_data_pipeline_spark.catalog import recover_swap
from procurement_data_pipeline_spark.operators.erasure import (
    _PARK_SUFFIX,
    recover_erasure,
)
from procurement_data_pipeline_spark.operators.export import write_supplier_json
from procurement_data_pipeline_spark.operators.versioning import versioned_write


def _crcs(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if n.endswith(".crc"))


def test_export_keeps_checksums_for_later_writes(spark, tmp_path):
    """A supplier export writes no sidecars of its own, and every write
    after it — plain parquet, a versioned table's data files — still gets
    its ``.crc`` (the export used to switch checksums off on Hadoop's
    cached, process-wide FileSystem instance)."""
    docs = spark.createDataFrame(
        [(1, "Acme", [(10, "bolt", 5, 1.5, 7.5)], 1, 7.5)],
        "supplier_id int, supplier_name string, items array<struct<"
        "product_id:int, product_name:string, quantity:int, unit_cost:double,"
        " total_cost:double>>, item_count int, total_estimated_cost double",
    ).selectExpr(
        "*", "DATE'2026-01-15' AS order_date", "DATE'2026-01-14' AS data_date"
    )
    out = str(tmp_path / "export")
    write_supplier_json(docs, out, generated_at="2026-01-15T00:00:00+00:00")
    assert os.listdir(out) == ["supplier_1.json"]

    plain = str(tmp_path / "plain")
    spark.range(10).write.parquet(plain)
    assert any(n.startswith(".part-") for n in _crcs(plain))

    t = str(tmp_path / "vt")
    versioned_write(spark, spark.range(10), t)
    [commit] = [d for d in os.listdir(t) if d.startswith("commit-")]
    assert any(n.startswith(".part-") for n in _crcs(os.path.join(t, commit)))


def _parked_file(root: str) -> str:
    os.makedirs(root)
    f = os.path.join(root, "part-0.parquet")
    with open(f, "wb") as fh:
        fh.write(b"rows")
    return f


def test_recover_swap_raises_on_failed_restore(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "state")
    parked = _parked_file(path + "__old")
    monkeypatch.setattr(storage, "_rename", lambda *a: False)
    with pytest.raises(IOError):
        recover_swap(spark, path)
    assert os.path.exists(parked)


def test_recover_erasure_keeps_park_on_failed_restore(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tbl")
    os.makedirs(path)
    parked = _parked_file(path + _PARK_SUFFIX)
    monkeypatch.setattr(storage, "_rename", lambda *a: False)
    with pytest.raises(IOError):
        recover_erasure(spark, path)
    assert os.path.exists(parked)
