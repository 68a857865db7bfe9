"""tablelog: one log format for the batch reader and the stream source —
stray names in a log or cursor directory are skipped by both, and the
stream bootstrap over delta manifests + a vacuum checkpoint sees exactly
what read_table sees — and one manifest builder for every writer, whose
delta form folds back to its full form."""

from __future__ import annotations

import os

import pytest

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
    monkeypatch.setattr(tablelog, "_DELTA_MIN_FILES", 1)  # merge_into's cadence
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


# -- manifest builder (pure Python) -----------------------------------------

_T = "file:/w/t"


def _f(v, i):
    return f"{_T}/commit-{v:08d}-ab12cd34/part-{i:05d}.parquet"


_BASE = {
    "version": 5,
    "op": "append",
    "schema": '{"fields": [], "type": "struct"}',
    "files": [_f(1, 0), _f(1, 1), _f(3, 0), _f(5, 0)],
    "births": {_f(1, 0): 1, _f(1, 1): 1, _f(3, 0): 3, _f(5, 0): 5},
    "deletes": [{"version": 4, "key_cols": ["id"], "files": [_f(4, 9)], "n_keys": 2}],
    "stats_cols": ["id"],
    "stats": {
        _f(1, 0): {"n_rows": 2, "id": [0.0, 1.0]},
        _f(1, 1): {"n_rows": 2, "id": [2.0, 3.0]},
        _f(3, 0): {"n_rows": 1, "id": [7.0, 7.0]},
        _f(5, 0): {"n_rows": 1, "id": [9.0, 9.0]},
    },
    "constraints": ["id >= 0"],
    "dropped_cols": ["old"],
    "n_files": 4,
}
_NEW = [_f(6, 0), _f(6, 1)]
_NEW_STATS = {f: {"n_rows": 1, "id": [10.0, 11.0]} for f in _NEW}
_ENTRY = {"version": 6, "key_cols": ["id"], "files": [_f(6, 9)], "n_keys": 1}

# op -> (carried, new, builder kwargs) for a commit at version 6 on _BASE
_OPS = {
    "append": (_BASE["files"], _NEW, {"stats": _NEW_STATS}),
    "merge-cow": (_BASE["files"][1:3], _NEW, {"stats": _NEW_STATS, "fields": {"merge": {}}}),
    "merge-mor": (_BASE["files"], _NEW[:1], {"deletes_adds": [_ENTRY], "stats": {_NEW[0]: _NEW_STATS[_NEW[0]]}}),
    "optimize": (_BASE["files"][2:], _NEW, {"deletes": [], "stats": _NEW_STATS}),
    "rollback": (_BASE["files"][:2], [], {}),
    "rename_column": (_BASE["files"], [], {"stats_cols": ["id2"], "stats": {}}),
    "drop_column": (_BASE["files"], [], {"stats_cols": [], "fields": {"dropped_cols": ["old", "x"]}}),
    "clone": (_BASE["files"], [], {"fields": {"base_version": None, "clone_src": "s"}}),
    "consolidate_deletes": (_BASE["files"], [], {"deletes": [dict(_ENTRY, version=4)]}),
    "overwrite": ([], _NEW, {"schema": _BASE["schema"], "stats": _NEW_STATS}),
}


@pytest.mark.parametrize("op", sorted(_OPS))
def test_build_manifest_delta_folds_to_full(op):
    """The DELTA form of a commit, folded onto its base, is the FULL form
    of the same commit — on files, births, deletes and stats; a commit
    the delta form cannot express comes back full either way."""
    carried, new, kw = _OPS[op]
    base = None if op == "overwrite" else _BASE
    full = tablelog.build_manifest(base, 6, op, carried, new, **kw)
    delta = tablelog.build_manifest(
        base, 6, op, carried, new, **kw,
        delta=True, delta_min_files=0, checkpoint_every=100,
    )
    assert "delta_of" not in full
    assert full["n_files"] == len(full["files"]) == len(carried) + len(new)
    assert set(full) <= tablelog.RESERVED_KEYS
    # a replaced delete list, a changed stats column set or no base at
    # all cannot be written as a delta
    fulls_only = ("optimize", "rename_column", "drop_column", "consolidate_deletes", "overwrite")
    assert ("delta_of" in delta) == (op not in fulls_only)
    if "delta_of" in delta:
        assert delta["delta_of"] == 5 and "files" not in delta
        folded = tablelog.fold(base, delta)
        for key in ("files", "births", "deletes", "stats"):
            assert folded.get(key) == full.get(key), key
    else:
        assert delta == full


def test_build_manifest_delta_cadence():
    """The delta rule: a small table, a checkpoint version or a changed
    stats column set writes the full form."""
    carried, new, kw = _OPS["append"]

    def form(**over):
        args = {"delta": True, "delta_min_files": 0, "checkpoint_every": 100, **kw, **over}
        man = tablelog.build_manifest(_BASE, 6, "append", carried, new, **args)
        return "delta" if "delta_of" in man else "full"

    assert form() == "delta"
    assert form(delta_min_files=5) == "full"
    assert form(checkpoint_every=3) == "full"
    assert form(stats_cols=["id", "v"]) == "full"
    assert form(delta=False) == "full"


def test_check_extra_rejects_every_reserved_key():
    tablelog.check_extra(None)
    tablelog.check_extra({"job_id": "j7"})
    for key in sorted(tablelog.RESERVED_KEYS):
        with pytest.raises(ValueError, match="reserved manifest keys"):
            tablelog.check_extra({key: {}, "job_id": "j7"})
