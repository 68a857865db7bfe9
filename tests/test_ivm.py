"""Join-view IVM: incremental refreshes must equal the full join, crashed
refreshes must be invisible, and the append-only contract must be loud."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.operators.ivm import (
    read_view,
    refresh_join_view,
)
from procurement_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _multiset(df):
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


@pytest.fixture()
def split_inputs(spark, tmp_path):
    """orders and lineitem split into two file batches each, disjoint
    column sets apart from the join key."""
    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("ok"), "l_partkey", "l_quantity", "l_linenumber"
    )
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    o.filter("ok % 2 = 0").coalesce(1).write.mode("append").parquet(a_dir)
    li.filter("ok % 3 != 0").coalesce(1).write.mode("append").parquet(b_dir)
    batch2 = {
        "a": o.filter("ok % 2 = 1").coalesce(1),
        "b": li.filter("ok % 3 = 0").coalesce(1),
    }
    return a_dir, b_dir, batch2, o, li


def test_incremental_refreshes_equal_full_join(spark, tmp_path, split_inputs):
    a_dir, b_dir, batch2, o, li = split_inputs
    view = str(tmp_path / "view")

    audit1 = refresh_join_view(spark, a_dir, b_dir, view, on="ok")
    assert audit1["changed"] and audit1["delta_rows"] > 0
    full1 = spark.read.parquet(a_dir).join(spark.read.parquet(b_dir), "ok")
    assert _multiset(read_view(spark, view)) == _multiset(full1)

    # second batch arrives on BOTH sides; the delta identity must cover
    # ΔA⋈B_old, A_old⋈ΔB and ΔA⋈ΔB
    batch2["a"].write.mode("append").parquet(a_dir)
    batch2["b"].write.mode("append").parquet(b_dir)
    audit2 = refresh_join_view(spark, a_dir, b_dir, view, on="ok")
    assert audit2["changed"]
    assert _multiset(read_view(spark, view)) == _multiset(o.join(li, "ok"))


def test_refresh_without_new_files_is_noop(spark, tmp_path, split_inputs):
    a_dir, b_dir, _, _, _ = split_inputs
    view = str(tmp_path / "view")
    refresh_join_view(spark, a_dir, b_dir, view, on="ok")
    before = _multiset(read_view(spark, view))
    audit = refresh_join_view(spark, a_dir, b_dir, view, on="ok")
    assert not audit["changed"] and audit["delta_rows"] == 0
    assert _multiset(read_view(spark, view)) == before


def test_orphan_delta_is_invisible_and_healed(spark, tmp_path, split_inputs):
    """Crash window: a refresh dies after writing its delta directory but
    before committing the manifest. The orphan must be invisible to
    readers, and the re-run must produce the correct view."""
    a_dir, b_dir, batch2, o, li = split_inputs
    view = str(tmp_path / "view")
    refresh_join_view(spark, a_dir, b_dir, view, on="ok")
    before = _multiset(read_view(spark, view))

    batch2["a"].write.mode("append").parquet(a_dir)
    # simulate the crashed second refresh: delta written, manifest not
    orphan = os.path.join(view, "delta_000001")
    spark.createDataFrame(
        [(999999999, "junk", "junk", 1, 1.0, 1)],
        "ok long, o_orderdate string, o_orderpriority string, "
        "l_partkey long, l_quantity double, l_linenumber int",
    ).write.mode("overwrite").parquet(orphan)
    assert _multiset(read_view(spark, view)) == before  # invisible

    audit = refresh_join_view(spark, a_dir, b_dir, view, on="ok")
    assert audit["changed"]
    got = read_view(spark, view)
    assert got.filter("ok = 999999999").count() == 0  # junk overwritten
    want = o.join(li.filter("ok % 3 != 0"), "ok")
    assert _multiset(got) == _multiset(want)


def test_vanished_input_file_is_rejected(spark, tmp_path, split_inputs):
    a_dir, b_dir, _, _, _ = split_inputs
    view = str(tmp_path / "view")
    refresh_join_view(spark, a_dir, b_dir, view, on="ok")
    victim = next(
        os.path.join(a_dir, f) for f in os.listdir(a_dir) if f.endswith(".parquet")
    )
    os.remove(victim)
    with pytest.raises(ValueError, match="append-only"):
        refresh_join_view(spark, a_dir, b_dir, view, on="ok")


def test_read_view_before_first_refresh_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed refresh"):
        read_view(spark, str(tmp_path / "nope"))


def test_empty_join_view_reads_as_empty_not_error(spark, tmp_path):
    """Code-review r8: a committed refresh whose join matched zero rows is
    a VALID empty view — read_view must return an empty frame with the
    committed schema, not claim no refresh ever happened."""
    from procurement_data_pipeline_spark.operators.ivm import (
        read_view,
        refresh_join_view,
    )

    a, b, v = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    spark.createDataFrame([(1, "x")], "k long, pa string").write.parquet(a)
    spark.createDataFrame([(99, "y")], "k long, pb string").write.parquet(b)
    audit = refresh_join_view(spark, a, b, v, on="k")
    assert audit["delta_rows"] == 0          # disjoint keys — zero matches
    got = read_view(spark, v)
    assert got.count() == 0
    assert sorted(got.columns) == ["k", "pa", "pb"]


def test_manifest_listing_errors_propagate(spark, tmp_path, monkeypatch):
    """Code-review r8: a transient listing failure must NOT read as 'first
    refresh' (which would rewrite committed deltas); it must propagate."""
    import pytest as _pytest

    from procurement_data_pipeline_spark import storage
    from procurement_data_pipeline_spark.operators import ivm

    a, b, v = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    spark.createDataFrame([(1, "x")], "k long, pa string").write.parquet(a)
    spark.createDataFrame([(1, "y")], "k long, pb string").write.parquet(b)
    ivm.refresh_join_view(spark, a, b, v, on="k")

    def boom(spark_, path_):
        raise IOError("transient FS failure")

    monkeypatch.setattr(storage, "list_parquet_files", boom)
    with _pytest.raises(IOError, match="transient"):
        ivm.refresh_join_view(spark, a, b, v, on="k")
