"""Cursor-committed CDF consumption: ranges, crash replay, no-op polls."""

from __future__ import annotations

import pytest

from procurement_data_pipeline_spark.operators.cdf_consumer import (
    consume_changes,
    read_cursor,
)
from procurement_data_pipeline_spark.operators.versioning import (
    merge_into,
    versioned_write,
)


def _df(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, s string")


def test_consume_ranges_and_noop_polls(spark, tmp_path):
    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor.json")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    seen = []

    def handler(feed, from_v, to_v):
        seen.append((from_v, to_v, sorted(r["new_id"] for r in feed.collect())))

    a1 = consume_changes(spark, t, cur, handler)
    assert a1 == {"from_version": 0, "to_version": 2, "invoked": True}
    assert seen == [(0, 2, [1, 2, 3])]
    # nothing new → handler NOT invoked, cursor unchanged
    a2 = consume_changes(spark, t, cur, handler)
    assert a2["invoked"] is False and read_cursor(spark, cur) == 2
    assert len(seen) == 1
    # new appends present exactly the delta
    versioned_write(spark, _df(spark, [4, 5]), t)
    consume_changes(spark, t, cur, handler)
    assert seen[-1] == (2, 3, [4, 5])


def test_crash_before_cursor_advance_represents_range(spark, tmp_path):
    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor.json")
    versioned_write(spark, _df(spark, [1]), t)

    def crashing(feed, from_v, to_v):
        feed.collect()
        raise RuntimeError("sink died mid-apply")

    with pytest.raises(RuntimeError):
        consume_changes(spark, t, cur, crashing)
    assert read_cursor(spark, cur) == 0  # unharmed — range will replay
    got = []
    consume_changes(spark, t, cur, lambda f, a, b: got.append((a, b, f.count())))
    assert got == [(0, 1, 1)]


def test_consume_rewrite_range_with_keys(spark, tmp_path):
    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor.json")
    versioned_write(spark, _df(spark, [1, 2]), t)
    consume_changes(spark, t, cur, lambda f, a, b: None)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(2,)], "id long"),
        key_col="id",
        when_matched="delete",
    )
    rows = []
    consume_changes(
        spark,
        t,
        cur,
        lambda f, a, b: rows.extend(f.collect()),
        key_cols=["id"],
    )
    assert [(r["id"], r["change_type"]) for r in rows] == [(2, "delete")]


def test_cursor_advance_has_no_absent_window(spark, tmp_path):
    """ADVICE r5: the old delete-then-rename advance had a crash point
    with NO cursor on disk (read → 0 → every handled range re-presented).
    The versioned-cursor-file scheme must (a) survive torn temp writes,
    (b) never report 0 once a range was handled, (c) prune superseded
    cursor files only after the newer one is visible."""
    from procurement_data_pipeline_spark.operators.cdf_consumer import (
        cursor_versions as _cursor_versions,
    )
    from procurement_data_pipeline_spark.storage import write_text as _write_text

    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor")
    versioned_write(spark, _df(spark, [1, 2]), t)
    consume_changes(spark, t, cur, lambda f, a, b: None)
    assert read_cursor(spark, cur) == 1
    # a crash mid-advance leaves only a torn temp — the committed cursor
    # still stands
    _write_text(spark, cur + "/.tmp-99", "{torn")
    assert read_cursor(spark, cur) == 1
    versioned_write(spark, _df(spark, [3]), t)
    consume_changes(spark, t, cur, lambda f, a, b: None)
    assert read_cursor(spark, cur) == 2
    # superseded cursor files are pruned; the newest always remains
    assert _cursor_versions(spark, cur) == [2]


def test_cursor_survives_extra_uncollected_files(spark, tmp_path):
    """A crash between rename and prune leaves multiple cursor files —
    read must take the newest, and the next advance cleans up."""
    from procurement_data_pipeline_spark.operators.cdf_consumer import (
        cursor_versions as _cursor_versions,
    )
    from procurement_data_pipeline_spark.storage import write_text as _write_text

    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor")
    versioned_write(spark, _df(spark, [1]), t)
    consume_changes(spark, t, cur, lambda f, a, b: None)
    # simulate a stale un-pruned predecessor
    _write_text(spark, cur + "/cursor-v00000000.json", '{"version": 0}')
    assert read_cursor(spark, cur) == 1
    versioned_write(spark, _df(spark, [2]), t)
    consume_changes(spark, t, cur, lambda f, a, b: None)
    assert read_cursor(spark, cur) == 2
    assert _cursor_versions(spark, cur) == [2]


def test_legacy_single_file_cursor_migrates(spark, tmp_path):
    """ADVICE r6 (medium): a pre-directory-scheme cursor was ONE json
    FILE at cursor_path. read_cursor must migrate it — not silently
    report 0 (replaying every range) or crash mkdirs-over-file."""
    from procurement_data_pipeline_spark.operators.cdf_consumer import (
        cursor_versions as _cursor_versions,
    )
    from procurement_data_pipeline_spark.storage import write_text as _write_text

    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    # old layout: single live file holding the committed version
    _write_text(spark, cur, '{"version": 1}')
    assert read_cursor(spark, cur) == 1          # migrated, not 0
    assert _cursor_versions(spark, cur) == [1]   # now the directory scheme
    seen = []
    consume_changes(spark, t, cur, lambda f, a, b: seen.append((a, b)))
    assert seen == [(1, 2)]                      # only the unhandled range
    assert read_cursor(spark, cur) == 2


def test_legacy_cursor_migration_crash_window_resumes(spark, tmp_path):
    """A crash between parking the legacy file and committing the
    directory entry leaves only the .legacy-migrating sibling — the next
    read resumes the migration instead of reporting 0."""
    from procurement_data_pipeline_spark.storage import write_text as _write_text

    cur = str(tmp_path / "cursor")
    _write_text(spark, cur + ".legacy-migrating", '{"version": 3}')
    assert read_cursor(spark, cur) == 3


def test_advance_sweeps_committed_torn_tmps(spark, tmp_path):
    """ADVICE r6: torn .tmp-{v} files from a crash mid-write must be
    swept once a cursor ≥ v commits; a tmp for a NEWER version (a writer
    still in flight) is left alone."""
    from procurement_data_pipeline_spark.operators.cdf_consumer import (
        advance_cursor as _advance_cursor,
    )
    from procurement_data_pipeline_spark.storage import write_text as _write_text
    from tests.hadoop_fs import fs_path as _fs_path

    cur = str(tmp_path / "cursor")
    _write_text(spark, cur + "/.tmp-1", "{torn")
    _write_text(spark, cur + "/.tmp-2", "{torn")
    _write_text(spark, cur + "/.tmp-9", "{torn")
    _advance_cursor(spark, cur, 2)
    fs, p, _ = _fs_path(spark, cur)
    names = sorted(st.getPath().getName() for st in fs.listStatus(p))
    assert names == [".tmp-9", "cursor-v00000002.json"]


def test_migration_probe_runs_once_and_losing_rename_is_benign(
    spark, tmp_path, monkeypatch
):
    """ADVICE r7: (a) once a cursor is in directory form the legacy probe
    must stop costing filesystem RPCs on every poll (process-local memo);
    (b) a migrator that loses the park-rename to a concurrent migrator
    must treat it as benign when the legacy file is gone, not raise
    IOError on a healthy cursor."""
    from procurement_data_pipeline_spark.operators import cdf_consumer as C
    from procurement_data_pipeline_spark.storage import write_text as _write_text
    from tests.hadoop_fs import fs_path as _fs_path

    cur = str(tmp_path / "cursor")
    _write_text(spark, cur, '{"version": 2}')
    assert read_cursor(spark, cur) == 2  # migrated + memoized

    # (a) after migration, read_cursor must not touch the legacy paths
    fs, _, _ = _fs_path(spark, cur)
    probed = {"n": 0}
    real_status = fs.getFileStatus

    def counting_status(p):
        probed["n"] += 1
        return real_status(p)

    monkeypatch.setattr(fs, "getFileStatus", counting_status, raising=False)
    assert read_cursor(spark, cur) == 2
    assert probed["n"] == 0

    # (b) simulate losing the park-rename: the legacy file vanished
    # between the isFile() check and the rename (another migrator parked
    # and finished it) — must not raise
    cur2 = str(tmp_path / "cursor2")
    _write_text(spark, cur2, '{"version": 5}')
    fs2, p2, jvm2 = _fs_path(spark, cur2)
    real_rename = fs2.rename

    def losing_rename(src, dst):
        if src.toString().endswith("cursor2"):
            # the other migrator already parked + committed + cleaned up
            fs2.delete(src, False)
            C.advance_cursor(spark, cur2, 5)
            return False
        return real_rename(src, dst)

    monkeypatch.setattr(fs2, "rename", losing_rename, raising=False)
    assert read_cursor(spark, cur2) == 5


def test_probe_on_missing_cursor_does_not_memoize(spark, tmp_path):
    """Rolling deploy: a new-code consumer polls a cursor path BEFORE it
    exists, then an old-version process writes the legacy single-file
    cursor there. The not-yet-created probe must not memoize the path as
    migrated — the later legacy file still has to be picked up, or every
    subsequent poll reports 0 and replays handled ranges."""
    from procurement_data_pipeline_spark.operators.cdf_consumer import (
        cursor_versions as _cursor_versions,
    )
    from procurement_data_pipeline_spark.storage import write_text as _write_text

    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    assert read_cursor(spark, cur) == 0   # probe runs on the absent path
    # old-version writer creates the legacy single-file cursor afterwards
    _write_text(spark, cur, '{"version": 1}')
    assert read_cursor(spark, cur) == 1          # migrated, NOT stuck at 0
    assert _cursor_versions(spark, cur) == [1]
    seen = []
    consume_changes(spark, t, cur, lambda f, a, b: seen.append((a, b)))
    assert seen == [(1, 2)]
    assert read_cursor(spark, cur) == 2


def test_migration_wedge_sibling_plus_recreated_legacy_resolves(spark, tmp_path):
    """Code-review r8: a crashed migration leaves the parked sibling; an
    old-version process then RECREATES the single-file cursor. The probe
    must resolve the pair (larger version wins — the cursor is monotone)
    instead of failing the park-rename on every poll forever."""
    from procurement_data_pipeline_spark.operators.cdf_consumer import (
        cursor_versions as _cursor_versions,
    )
    from procurement_data_pipeline_spark.storage import write_text as _write_text

    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    versioned_write(spark, _df(spark, [4]), t)
    # crashed migration parked version 1 ...
    _write_text(spark, cur + ".legacy-migrating", '{"version": 1}')
    # ... and an old-version consumer recreated the file at version 2
    _write_text(spark, cur, '{"version": 2}')
    assert read_cursor(spark, cur) == 2          # max of the pair, resolved
    assert _cursor_versions(spark, cur) == [2]   # directory scheme committed
    seen = []
    consume_changes(spark, t, cur, lambda f, a, b: seen.append((a, b)))
    assert seen == [(2, 3)]
    assert read_cursor(spark, cur) == 3


def test_migration_wedge_sibling_newer_than_recreated_legacy(spark, tmp_path):
    """Same wedge with the SIBLING holding the larger version: the
    recreated file is the superseded artifact and must be the one
    dropped."""
    from procurement_data_pipeline_spark.operators.cdf_consumer import (
        cursor_versions as _cursor_versions,
    )
    from procurement_data_pipeline_spark.storage import write_text as _write_text

    t, cur = str(tmp_path / "tbl"), str(tmp_path / "cursor")
    versioned_write(spark, _df(spark, [1]), t)
    versioned_write(spark, _df(spark, [2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    _write_text(spark, cur + ".legacy-migrating", '{"version": 2}')
    _write_text(spark, cur, '{"version": 1}')
    assert read_cursor(spark, cur) == 2
    assert _cursor_versions(spark, cur) == [2]
