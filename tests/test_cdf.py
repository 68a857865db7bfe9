"""Change data feed over versioned tables."""

from __future__ import annotations

import pytest

from procurement_data_pipeline_spark.operators.cdf import table_changes
from procurement_data_pipeline_spark.operators.versioning import (
    merge_into,
    optimize_table,
    versioned_write,
)


def _df(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, s string")


def test_pure_append_range_reads_only_added_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    versioned_write(spark, _df(spark, [4, 5]), t)
    feed = table_changes(spark, t, from_version=1)
    got = sorted((r["new_id"], r["change_type"]) for r in feed.collect())
    assert got == [(3, "insert"), (4, "insert"), (5, "insert")]
    assert all(r["old_id"] is None for r in feed.collect())
    # from version 0 = everything ever inserted
    assert table_changes(spark, t, from_version=0).count() == 5
    # empty range
    assert table_changes(spark, t, from_version=3, to_version=3).count() == 0
    # no join in the fast-path plan
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_rewrite_range_falls_back_to_keyed_diff(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2, 3]), t)
    ups = spark.createDataFrame([(2, "UPDATED"), (9, "NEW")], "id long, s string")
    merge_into(spark, t, ups, key_col="id")
    dels = spark.createDataFrame([(1,)], "id long")
    merge_into(spark, t, dels, key_col="id", when_matched="delete")
    with pytest.raises(ValueError, match="key_cols are required"):
        table_changes(spark, t, from_version=1)
    feed = {
        r["id"]: r for r in table_changes(spark, t, 1, key_cols=["id"]).collect()
    }
    assert feed[1]["change_type"] == "delete"
    assert feed[2]["change_type"] == "update" and feed[2]["new_s"] == "UPDATED"
    assert feed[9]["change_type"] == "insert"
    assert 3 not in feed  # unchanged rows never appear


def test_optimize_is_a_no_change_feed(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for i in range(3):
        versioned_write(spark, _df(spark, [i]), t)
    optimize_table(spark, t, target_files=1)
    # files fully rewritten → fallback path; rows identical → empty feed
    assert table_changes(spark, t, 3, key_cols=["id"]).count() == 0
    # and appends after the optimize fast-path again
    versioned_write(spark, _df(spark, [7]), t)
    feed = table_changes(spark, t, from_version=4)
    assert [(r["new_id"], r["change_type"]) for r in feed.collect()] == [
        (7, "insert")
    ]


def test_delta_manifest_fast_path_reads_only_adds(spark, tmp_path, monkeypatch):
    """Under incremental manifests, a pure-append range is answered from
    the raw delta manifests' adds — O(changed versions) metadata, never a
    full file-list diff (and still never a join in the plan). A range
    crossing a MERGE delta (non-empty removes) falls back to the keyed
    diff and stays exact."""
    from procurement_data_pipeline_spark.operators import tablelog
    from procurement_data_pipeline_spark.operators import versioning as V

    monkeypatch.setattr(tablelog, "_DELTA_MIN_FILES", 0)
    monkeypatch.setattr(tablelog, "_CHECKPOINT_EVERY", 100)  # no full checkpoints
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    versioned_write(spark, _df(spark, [4, 5]), t)
    # the fast path must answer WITHOUT materializing any full file list
    # (read_table still resolves internally for the schema — only cdf's
    # own set-diff binding is forbidden)
    from procurement_data_pipeline_spark.operators import cdf as cdf_mod

    def boom(*a, **k):
        raise AssertionError("fast path must not materialize file lists")

    monkeypatch.setattr(cdf_mod, "resolve_manifest", boom)
    feed = table_changes(spark, t, from_version=1, to_version=3)
    got = sorted((r["new_id"], r["change_type"]) for r in feed.collect())
    assert got == [(3, "insert"), (4, "insert"), (5, "insert")]
    monkeypatch.setattr(cdf_mod, "resolve_manifest", V.resolve_manifest)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # a merge in the range breaks the fast path → keyed diff, same rows
    ups = spark.createDataFrame([(2, "UPD")], "id long, s string")
    merge_into(spark, t, ups, key_col="id")
    fed = {
        r["id"]: r
        for r in table_changes(spark, t, 3, key_cols=["id"]).collect()
    }
    assert fed[2]["change_type"] == "update" and fed[2]["new_s"] == "UPD"
