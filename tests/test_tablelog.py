"""tablelog: one log format for the batch reader and the stream source —
stray names in a log or cursor directory are skipped by both, and the
stream bootstrap over delta manifests + a vacuum checkpoint sees exactly
what read_table sees."""

from __future__ import annotations

import os

from procurement_data_pipeline_spark import storage
from procurement_data_pipeline_spark.operators import tablelog
from procurement_data_pipeline_spark.operators.cdf_consumer import (
    consume_changes,
    read_cursor,
)
from procurement_data_pipeline_spark.operators.versioning import (
    latest_version,
    merge_into,
    read_manifest,
    read_table,
    vacuum,
    versioned_write,
)
from tests.test_versioned_source import _drain


def _df(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, s string")


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_parse_version_skips_non_numeric_names():
    names = ["v00000002.json", "v7.bak.json", ".tmp-3-ab", "c00000002.json",
             "v00000001.json", "v.json", "vx1.json"]
    assert tablelog.versions(names) == [1, 2]
    assert tablelog.versions(names, "c") == [2]
    assert tablelog.parse_version("cursor-v00000004.json", "cursor-v") == 4


def test_stray_log_names_are_skipped_by_reader_and_stream(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    storage.write_text(spark, tablelog.log_dir(t) + "/v7.bak.json", "{}")

    assert latest_version(spark, t) == 2
    assert _ids(read_table(spark, t)) == [1, 2, 3]
    versioned_write(spark, _df(spark, [4]), t)  # writers list the log too
    _, rows = _drain(spark, t, str(tmp_path / "ck"))
    assert sorted(r.id for r in rows) == [1, 2, 3, 4]

    cur = str(tmp_path / "cursor")
    consume_changes(spark, t, cur, lambda f, a, b: None)
    storage.write_text(spark, cur + "/cursor-v9.bak.json", '{"version": 9}')
    assert read_cursor(spark, cur) == 3


def test_stream_bootstrap_over_delta_chain_and_checkpoint(spark, tmp_path, monkeypatch):
    from procurement_data_pipeline_spark.operators import versioning as V

    monkeypatch.setattr(V, "_DELTA_MIN_FILES", 1)  # merge_into's cadence
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [1, 2]), t, delta_min_files=1)  # v1
    versioned_write(spark, _df(spark, [3]), t, mode="append", delta_min_files=1)  # v2
    merge_into(  # v3: merge-on-read delete of id 2
        spark, t, spark.createDataFrame([(2,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    versioned_write(spark, _df(spark, [4]), t, mode="append", delta_min_files=1)  # v4
    assert read_manifest(spark, t, 3).get("delta_of") == 2
    assert read_manifest(spark, t, 4).get("delta_of") == 3

    vacuum(spark, t, keep_last=2)  # expires v2, the base of retained delta v3
    assert storage.exists(spark, tablelog.checkpoint_uri(t, 3))
    assert not os.path.exists(tablelog.manifest_uri(t, 2))

    _, rows = _drain(spark, t, str(tmp_path / "ck"))
    bootstrap = sorted(
        (r.id, r.s) for r in rows
        if r._commit_version == 3 and r._change_type == "insert"
    )
    snapshot = sorted((r.id, r.s) for r in read_table(spark, t, version=3).collect())
    assert bootstrap == snapshot == [(1, "r1"), (3, "r3")]
    assert sorted(r.id for r in rows if r._commit_version == 4) == [4]
