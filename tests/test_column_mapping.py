"""Column mapping (VERDICT r10 item 4): RENAME/DROP COLUMN without data
rewrite — logical names live in the manifest schema, on-disk names pin in
field metadata, and a re-added column can never resurrect dropped data."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from procurement_data_pipeline_spark.operators.versioning import (
    resolve_manifest as _resolve_manifest,
    drop_column,
    merge_into,
    read_table,
    rename_column,
    scan_table,
    versioned_write,
)


def _df(spark, rows, schema="id long, s string"):
    return spark.createDataFrame(rows, schema)


def test_rename_is_metadata_only_and_time_travel_keeps_old_name(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t)  # v1
    versioned_write(spark, _df(spark, [(3, "c")]), t)  # v2
    man = rename_column(spark, t, "s", "label")  # v3
    # zero data rewrite: the file list is exactly v2's
    assert man["files"] == _resolve_manifest(spark, t, 2)["files"]
    assert man["op"] == "rename_column"
    got = read_table(spark, t)
    assert got.columns == ["id", "label"]
    assert sorted((r.id, r.label) for r in got.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # time travel answers with the version's OWN logical names
    old = read_table(spark, t, version=2)
    assert old.columns == ["id", "s"]
    assert sorted(r.s for r in old.collect()) == ["a", "b", "c"]
    # appends AFTER the rename write the pinned physical name — both
    # eras read back merged under the logical name
    versioned_write(
        spark, _df(spark, [(4, "d")], "id long, label string"), t
    )  # v4
    assert sorted(
        (r.id, r.label) for r in read_table(spark, t).collect()
    ) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # double rename: physical pin survives (still the ORIGINAL name)
    rename_column(spark, t, "label", "tag")  # v5
    fields = json.loads(
        _resolve_manifest(spark, t, 5)["schema"]
    )["fields"]
    tag = next(f for f in fields if f["name"] == "tag")
    assert tag["metadata"]["physical"] == "s"
    assert sorted(r.tag for r in read_table(spark, t).collect()) == [
        "a", "b", "c", "d",
    ]


def test_rename_keeps_stats_pruning_and_merge(spark, tmp_path):
    t = str(tmp_path / "t")
    rows = [(i, f"r{i}") for i in range(1, 101)]
    versioned_write(
        spark, _df(spark, rows), t, stats_cols=["id"], cluster_by=["id"],
        cluster_files=4,
    )
    rename_column(spark, t, "id", "key")
    # stats re-keyed to the new logical name: the pruned scan still plans
    man = _resolve_manifest(spark, t, 2)
    assert man["stats_cols"] == ["key"]
    got = scan_table(spark, t, "key", lo=10, hi=20)
    assert sorted(r.key for r in got.collect()) == list(range(10, 21))
    # COW merge keyed on the RENAMED column (footer pruning follows the
    # physical name)
    merge_into(
        spark, t,
        _df(spark, [(10, "X")], "key long, s string"),
        key_col="key", when_matched="update",
    )
    vals = {r.key: r.s for r in read_table(spark, t).collect()}
    assert vals[10] == "X" and vals[11] == "r11"
    # MOR delete keyed on the renamed column: the entry's key file uses
    # the physical name and still masks
    merge_into(
        spark, t, spark.createDataFrame([(20,)], "key long"),
        key_col="key", when_matched="delete", strategy="merge-on-read",
    )
    assert 20 not in {r.key for r in read_table(spark, t).collect()}
    # ...and a rename WHILE that entry is live still reads correctly
    rename_column(spark, t, "key", "k2")
    assert 20 not in {r.k2 for r in read_table(spark, t).collect()}
    assert 10 in {r.k2 for r in read_table(spark, t).collect()}


def test_drop_then_readd_never_resurrects(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(
        spark,
        _df(spark, [(1, "a", 100), (2, "b", 200)],
            "id long, s string, x long"),
        t,
    )  # v1
    man = drop_column(spark, t, "x")  # v2 — metadata only
    assert man["files"] == _resolve_manifest(spark, t, 1)["files"]
    assert man["dropped_cols"] == ["x"]
    got = read_table(spark, t)
    assert got.columns == ["id", "s"]
    # re-add a column NAMED x via widening evolution: fresh physical —
    # the dropped data must NOT resurrect
    versioned_write(
        spark,
        _df(spark, [(3, "c", 999)], "id long, s string, x long"),
        t, merge_schema=True,
    )  # v3
    rows = {r.id: r.x for r in read_table(spark, t).collect()}
    assert rows == {1: None, 2: None, 3: 999}
    fields = json.loads(_resolve_manifest(spark, t, 3)["schema"])["fields"]
    x = next(f for f in fields if f["name"] == "x")
    assert x["metadata"]["physical"] != "x"  # fresh on-disk name
    # time travel to v1 still sees the original x values
    old = {r.id: r.x for r in read_table(spark, t, version=1).collect()}
    assert old == {1: 100, 2: 200}


def test_mapping_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(
        spark, _df(spark, [(1, "a"), (2, "b")]), t,
        constraints=["id > 0"],
    )
    with pytest.raises(ValueError, match="CHECK constraint"):
        rename_column(spark, t, "id", "key")
    with pytest.raises(ValueError, match="CHECK constraint"):
        drop_column(spark, t, "id")
    with pytest.raises(ValueError, match="not in table"):
        rename_column(spark, t, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, t, "s", "id")
    # live MOR entry keyed on a column blocks its drop
    t2 = str(tmp_path / "t2")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t2)
    merge_into(
        spark, t2, spark.createDataFrame([(2,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    with pytest.raises(ValueError, match="delete entry"):
        drop_column(spark, t2, "id")
    with pytest.raises(ValueError, match="only column"):
        t3 = str(tmp_path / "t3")
        versioned_write(
            spark, spark.createDataFrame([(1,)], "id long"), t3
        )
        drop_column(spark, t3, "id")


def test_sql_surface_and_cdf_after_rename(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.cdf import table_changes
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a")]), t)  # v1
    sql(spark, f"CALL versioned.rename_column('{t}', 's', 'label')")  # v2
    versioned_write(
        spark, _df(spark, [(2, "b")], "id long, label string"), t
    )  # v3
    assert sql(
        spark, f"SELECT id, label FROM versioned.`{t}` ORDER BY id"
    ).collect()[1].label == "b"
    # CDF pure-append fast path reads the post-rename file through the
    # mapping
    feed = table_changes(spark, t, from_version=2, to_version=3)
    assert [(r.new_id, r.new_label) for r in feed.collect()] == [(2, "b")]
    sql(spark, f"CALL versioned.drop_column('{t}', 'label')")  # v4
    assert read_table(spark, t).columns == ["id"]


def test_streaming_source_reads_renamed_table(spark, tmp_path):
    from tests.test_versioned_source import _drain

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a")]), t)  # v1
    rename_column(spark, t, "s", "label")  # v2 (no row changes)
    versioned_write(
        spark, _df(spark, [(2, "b")], "id long, label string"), t
    )  # v3
    _, rows = _drain(spark, t, str(tmp_path / "ck"))
    assert sorted((r.id, r.label, r._change_type) for r in rows) == [
        (1, "a", "insert"),
        (2, "b", "insert"),
    ]