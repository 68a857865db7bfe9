"""Merge-on-read equality deletes (the Iceberg v2 / Delta DV shape):
strategy='merge-on-read' publishes delete files instead of rewriting data
files; readers anti-join them out scoped by file birth version; OPTIMIZE
materializes and clears; vacuum never sweeps a live delete file.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from procurement_data_pipeline_spark.operators.versioning import (
    read_manifest as _read_manifest,
    resolve_manifest as _resolve_manifest,
    merge_into,
    optimize_table,
    read_table,
    rollback,
    scan_table,
    vacuum,
    versioned_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, s string")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_mor_delete_rewrites_nothing(spark, tmp_path):
    """Structural proof: the data-file list of the new version is
    byte-identical to the base's — only the delete entry can explain the
    missing rows."""
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(i, f"r{i}") for i in range(10)]), t)
    before = _resolve_manifest(spark, t, 1)["files"]
    man = merge_into(
        spark,
        t,
        spark.createDataFrame([(3,), (7,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    assert man["merge"]["strategy"] == "merge-on-read"
    assert man["merge"]["files_rewritten"] == 0
    assert man["files"] == before  # ZERO write amplification
    assert len(man["deletes"]) == 1 and man["deletes"][0]["n_keys"] == 2
    assert _ids(read_table(spark, t)) == [0, 1, 2, 4, 5, 6, 8, 9]
    # time travel to the pre-delete version still sees everything
    assert _ids(read_table(spark, t, version=1)) == list(range(10))


def test_mor_update_upserts_without_rewrite(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "old"), (2, "old")]), t)
    before = _resolve_manifest(spark, t, 1)["files"]
    merge_into(
        spark,
        t,
        _df(spark, [(2, "new"), (3, "new")]),
        key_col="id",
        strategy="merge-on-read",
    )
    man = _resolve_manifest(spark, t, 2)
    assert set(before) <= set(man["files"])  # old files untouched
    got = {r.id: r.s for r in read_table(spark, t).collect()}
    assert got == {1: "old", 2: "new", 3: "new"}


def test_mor_reinserted_key_escapes_older_delete(spark, tmp_path):
    """Birth-version scoping: a key deleted at v2 and re-inserted at v3
    must be visible — the v2 entry masks only files born before v2."""
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    assert _ids(read_table(spark, t)) == [2]
    versioned_write(spark, _df(spark, [(1, "reborn")]), t, mode="append")
    got = {r.id: r.s for r in read_table(spark, t).collect()}
    assert got == {1: "reborn", 2: "b"}  # not masked by the v2 delete
    # and a SECOND MOR delete of the same key removes the reborn row too
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    assert _ids(read_table(spark, t)) == [2]


def test_mor_null_keyed_rows_survive(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(
        spark,
        spark.createDataFrame([(1, "a"), (None, "n")], "id long, s string"),
        t,
    )
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    rows = read_table(spark, t).collect()
    assert len(rows) == 1 and rows[0].s == "n"


def test_mor_composite_key(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(
        spark,
        spark.createDataFrame(
            [(1, "a", 1), (1, "b", 2), (2, "a", 3)], "k1 int, k2 string, v int"
        ),
        t,
    )
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1, "a")], "k1 int, k2 string"),
        key_col=["k1", "k2"],
        when_matched="delete",
        strategy="merge-on-read",
    )
    got = {(r.k1, r.k2) for r in read_table(spark, t).collect()}
    assert got == {(1, "b"), (2, "a")}


def test_mor_condition_refused(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a")]), t)
    with pytest.raises(ValueError, match="copy-on-write"):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(1,)], "id long"),
            key_col="id",
            when_matched="delete",
            strategy="merge-on-read",
            when_matched_condition="s = 'a'",
        )


def test_optimize_materializes_and_clears_deletes(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(i, f"r{i}") for i in range(8)]), t)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(0,), (4,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    man = optimize_table(spark, t, target_files=1)
    assert "deletes" not in man
    assert _ids(read_table(spark, t)) == [1, 2, 3, 5, 6, 7]


def test_cow_merge_on_mor_table_keeps_masking(spark, tmp_path):
    """A copy-on-write merge AFTER a merge-on-read delete: rewritten rows
    must not resurrect masked rows, untouched files stay masked, and the
    upserted row (which reuses a deleted key) is visible."""
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(i, f"r{i}") for i in range(6)]), t)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(2,), (5,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    # COW upsert touching keys 2 (deleted — reborn) and 0 (replaced)
    merge_into(
        spark, t, _df(spark, [(0, "upd"), (2, "reborn")]), key_col="id"
    )
    got = {r.id: r.s for r in read_table(spark, t).collect()}
    assert got == {0: "upd", 1: "r1", 2: "reborn", 3: "r3", 4: "r4"}
    # 5 stays deleted: its entry still masks the untouched file OR the
    # rewrite dropped it — either way it must not resurrect
    assert 5 not in got


def test_mor_scan_table_applies_deletes(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(
        spark,
        spark.range(0, 100).select(F.col("id"), F.lit("x").alias("s")),
        t,
        stats_cols=["id"],
    )
    merge_into(
        spark,
        t,
        spark.createDataFrame([(10,), (11,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    got = _ids(scan_table(spark, t, "id", lo=5, hi=15))
    assert got == [5, 6, 7, 8, 9, 12, 13, 14, 15]


def test_mor_cdf_reports_deletes_not_empty_feed(spark, tmp_path):
    """A MOR delete changes no data file; the CDF subset fast path must
    NOT report an empty insert feed — it falls back to the keyed diff and
    reports the deletions."""
    from procurement_data_pipeline_spark.operators.cdf import table_changes

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    feed = table_changes(spark, t, from_version=1, to_version=2, key_cols=["id"])
    rows = feed.collect()
    assert len(rows) == 1
    assert rows[0]["change_type"] == "delete" and rows[0]["id"] == 1


def test_native_mor_cdf_matches_cow_diff_without_keys(spark, tmp_path):
    """Native CDF over merge-on-read (VERDICT r10 stretch 8): the feed
    derives from the delete entry + appended files — no key_cols needed,
    no snapshot diff — and matches exactly what the COW merge's keyed
    diff reports for the same logical operation."""
    from procurement_data_pipeline_spark.operators.cdf import table_changes

    rows = [(1, "a"), (2, "b"), (3, "c")]
    t_mor, t_cow = str(tmp_path / "mor"), str(tmp_path / "cow")
    for t in (t_mor, t_cow):
        versioned_write(spark, _df(spark, rows), t)  # v1
    dele = spark.createDataFrame([(2,)], "id long")
    merge_into(spark, t_mor, dele, key_col="id",
               when_matched="delete", strategy="merge-on-read")
    merge_into(spark, t_cow, dele, key_col="id", when_matched="delete")
    # NO key_cols: the entry carries them
    native = table_changes(spark, t_mor, from_version=1).collect()
    cow = table_changes(
        spark, t_cow, from_version=1, key_cols=["id"]
    ).collect()
    norm = lambda rs: sorted(  # noqa: E731
        (r["id"], r["old_s"], r["new_s"], r["change_type"]) for r in rs
    )
    assert norm(native) == norm(cow) == [(2, "b", None, "delete")]

    # upsert decomposes per-commit: update row for the matched key with
    # OLD and NEW values populated — same as the COW diff
    ups = _df(spark, [(3, "C"), (9, "new")])
    merge_into(spark, t_mor, ups, key_col="id",
               when_matched="update", strategy="merge-on-read")
    merge_into(spark, t_cow, ups, key_col="id", when_matched="update")
    native = table_changes(spark, t_mor, from_version=2).collect()
    cow = table_changes(
        spark, t_cow, from_version=2, key_cols=["id"]
    ).collect()
    assert norm(native) == norm(cow) == [
        (3, "c", "C", "update"),
        (9, None, "new", "insert"),
    ]
    # a mixed range (append + MOR merge) stays native and per-commit
    versioned_write(spark, _df(spark, [(10, "j")]), t_mor)  # v4 append
    feed = table_changes(spark, t_mor, from_version=1).collect()
    assert sorted(
        (r["id"], r["change_type"]) for r in feed
    ) == [
        (2, "delete"), (3, "update"), (9, "insert"), (10, "insert"),
    ]
    # caller pinning DIFFERENT keys falls back to the keyed diff (their
    # contract, netted endpoints) rather than the native reading
    fed = table_changes(spark, t_mor, from_version=1, key_cols=["s"])
    assert "change_type" in fed.columns


def test_vacuum_preserves_live_delete_files(spark, tmp_path):
    t = str(tmp_path / "t")
    for batch in ([(1, "a"), (2, "b")], [(3, "c")], [(4, "d")]):
        versioned_write(spark, _df(spark, batch), t, mode="append")
    merge_into(
        spark,
        t,
        spark.createDataFrame([(2,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    versioned_write(spark, _df(spark, [(5, "e")]), t, mode="append")
    before = _ids(read_table(spark, t))
    assert before == [1, 3, 4, 5]
    vacuum(spark, t, keep_last=2)
    assert _ids(read_table(spark, t)) == before  # delete files survived


def test_mor_survives_delta_manifest_chain(spark, tmp_path, monkeypatch):
    """deletes_adds on a delta manifest folds down the chain: later
    delta APPENDS keep masking, and a vacuum checkpoint materializes the
    accumulated entries."""
    from procurement_data_pipeline_spark.operators import tablelog

    monkeypatch.setattr(tablelog, "_DELTA_MIN_FILES", 1)
    monkeypatch.setattr(tablelog, "_CHECKPOINT_EVERY", 100)
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    merge_into(  # v2: MOR delete as a DELTA manifest
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    raw2 = _read_manifest(spark, t, 2)
    assert raw2.get("delta_of") == 1 and raw2.get("deletes_adds")
    versioned_write(spark, _df(spark, [(3, "c")]), t, mode="append")  # v3 delta
    assert _ids(read_table(spark, t)) == [2, 3]  # entry folded through v3
    versioned_write(spark, _df(spark, [(4, "d")]), t, mode="append")  # v4
    vacuum(spark, t, keep_last=2)  # expires v1, v2 → checkpoints v3 (or v4)
    assert _ids(read_table(spark, t)) == [2, 3, 4]
    assert _ids(read_table(spark, t, version=3)) == [2, 3]


def test_mor_rollback_carries_and_clears(spark, tmp_path):
    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t)  # v1
    merge_into(  # v2
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    rollback(spark, t, to_version=1)  # v3: pre-delete content
    assert _ids(read_table(spark, t)) == [1, 2]
    rollback(spark, t, to_version=2)  # v4: post-delete content (carries entry)
    assert _ids(read_table(spark, t)) == [2]


def test_sql_merge_strategy_kwarg(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView("dels_mor")
    sql(
        spark,
        f"CALL versioned.merge('{t}', 'dels_mor', key_col => 'id', "
        "when_matched => 'delete', strategy => 'merge-on-read')",
    )
    assert _ids(read_table(spark, t)) == [2]


def test_birth_version_ignores_table_path_segments():
    """Code-review r9: re.search took the FIRST '/commit-N-' match, so a
    table path like '/data/commit-7-backup/t' poisoned every file's birth
    and silently skipped delete entries (resurrecting deleted rows). The
    parse is anchored to the file's immediate parent directory."""
    from procurement_data_pipeline_spark.operators.tablelog import (
        birth_version as _birth_version,
    )

    assert (
        _birth_version(
            "file:/data/commit-7-backup/t/commit-00000001-abcd1234/part-0.parquet"
        )
        == 1
    )
    assert (
        _birth_version(
            "/t/commit-00000003-abcd1234-del/part-00000-x.snappy.parquet"
        )
        == 3
    )
    assert _birth_version("/plain/dir/part-0.parquet") == 0  # unknown → 0


def test_mor_table_under_commit_named_path(spark, tmp_path):
    """End-to-end twin of the parse fix: a table whose PATH contains a
    commit-N- segment must still apply delete entries."""
    trap = tmp_path / "commit-7-backup"
    trap.mkdir()
    t = str(trap / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b")]), t)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    assert _ids(read_table(spark, t)) == [2]


def test_cdf_bootstrap_applies_deletes_without_keys(spark, tmp_path):
    """Code-review r9: table_changes(from_version=0) on a table with live
    delete entries must emit the SNAPSHOT as inserts (deletes applied) and
    must not demand key_cols."""
    from procurement_data_pipeline_spark.operators.cdf import table_changes

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(2,)], "id long"),
        key_col="id",
        when_matched="delete",
        strategy="merge-on-read",
    )
    feed = table_changes(spark, t, from_version=0).collect()  # no key_cols
    assert sorted(r["new_id"] for r in feed) == [1, 3]
    assert all(r["change_type"] == "insert" for r in feed)


def test_verify_commit_tolerates_prelineage_successor(spark, tmp_path):
    """Code-review r9: a successor manifest written by PRE-LINEAGE code
    (no base_commit_id) is indeterminate — the liveness check must assume
    live and KEEP the manifest, never delete one a delta chain may
    reference. A successor with a FOREIGN lineage id still proves
    orphanhood."""
    import json as _json

    from procurement_data_pipeline_spark.storage import (
        read_text as _read_text,
        write_text as _write_text,
    )
    from procurement_data_pipeline_spark.operators.versioning import (
        ConcurrentWriteError,
        list_versions as _list_versions,
        _verify_commit_visible,
    )
    from procurement_data_pipeline_spark.operators.tablelog import (
        manifest_uri as _manifest_uri,
    )

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a")]), t)
    m2 = versioned_write(spark, _df(spark, [(2, "b")]), t)
    # strip lineage from v2, simulating a pre-round-9 successor
    uri2 = _manifest_uri(t, 2)
    raw2 = _json.loads(_read_text(spark, uri2))
    raw2.pop("base_commit_id", None)
    raw2.pop("commit_id", None)
    _write_text(spark, uri2, _json.dumps(raw2))
    fake_v1 = {"version": 1, "commit_id": "not-the-real-one"}
    _verify_commit_visible(spark, t, fake_v1, None)  # must NOT raise
    assert _list_versions(spark, t) == [1, 2]  # nothing deleted
    # foreign lineage on the successor → orphan proof → raises
    raw2["base_commit_id"] = "someone-else"
    _write_text(spark, uri2, _json.dumps(raw2))
    with pytest.raises(ConcurrentWriteError):
        _verify_commit_visible(spark, t, fake_v1, None)


def test_sql_rewrite_case_insensitive(spark, tmp_path):
    """Code-review r9: VERSIONED.`path` (any case) must rewrite — the
    gate was case-sensitive while the regex was IGNORECASE."""
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(1, "a")]), t)
    got = sql(spark, f"SELECT id FROM VERSIONED.`{t}` VERSION AS OF 1").collect()
    assert [r.id for r in got] == [1]


def test_describe_deletes_debt_appears_and_clears(spark, tmp_path):
    """VERDICT r9 item 4: the per-table delete debt (entry count, Σ keys,
    masked files) is visible after a MOR merge — via the helper AND via
    CALL versioned.describe — and returns to zero after OPTIMIZE
    materializes the entries."""
    from procurement_data_pipeline_spark.operators.versioned_sql import sql
    from procurement_data_pipeline_spark.operators.versioning import (
        describe_deletes,
    )

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(i, f"r{i}") for i in range(10)]), t)
    assert describe_deletes(spark, t)["entry_count"] == 0
    merge_into(
        spark, t,
        spark.createDataFrame([(2,), (4,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    merge_into(
        spark, t,
        _df(spark, [(6, "upd6"), (99, "new99")]),
        key_col="id", when_matched="update", strategy="merge-on-read",
    )
    d = describe_deletes(spark, t)
    assert d["version"] == 3 and d["entry_count"] == 2
    assert d["total_keys"] == 4  # {2,4} + {6,99}
    assert d["delete_file_count"] >= 2
    # v1's files are masked; the upsert's appended files escape by birth
    assert 0 < d["masked_file_count"] < d["data_file_count"]
    # same numbers through the SQL procedure
    row = sql(spark, f"CALL versioned.describe('{t}')").collect()[0]
    assert (row.entry_count, row.total_keys) == (2, 4)
    assert row.masked_file_count == d["masked_file_count"]
    # version pinning: v2 had ONE entry
    assert describe_deletes(spark, t, version=2)["entry_count"] == 1
    # OPTIMIZE materializes and clears the debt — and the data survives
    optimize_table(spark, t)
    d4 = describe_deletes(spark, t)
    assert d4["entry_count"] == 0
    assert d4["total_keys"] == 0 and d4["masked_file_count"] == 0
    assert _ids(read_table(spark, t)) == [0, 1, 3, 5, 6, 7, 8, 9, 99]


def test_mor_source_scoped_condition(spark, tmp_path):
    """VERDICT r9 stretch: a SOURCE-columns predicate works under
    merge-on-read (pre-filter before key extraction) — the 'delete these
    keys where batch-flagged' case — while a target predicate stays
    rejected with a pointer to the source form."""
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(i, f"r{i}") for i in range(8)]), t)
    batch = spark.createDataFrame(
        [(1, True), (2, False), (3, True), (4, False)],
        "id long, flagged boolean",
    )
    man = merge_into(
        spark, t, batch, key_col="id",
        when_matched="delete", strategy="merge-on-read",
        when_matched_condition="flagged", condition_scope="source",
    )
    assert _ids(read_table(spark, t)) == [0, 2, 4, 5, 6, 7]
    assert man["merge"]["files_rewritten"] == 0  # still merge-on-read
    assert man["merge"]["condition"] == "flagged"
    assert man["merge"]["condition_scope"] == "source"
    assert man["merge"]["n_keys"] == 2  # keys counted AFTER the filter

    # update mode: excluded rows neither update nor insert (a pre-filter)
    merge_into(
        spark, t,
        spark.createDataFrame(
            [(2, "upd2"), (99, "new99"), (5, "skip5")], "id long, s string"
        ),
        key_col="id", when_matched="update", strategy="merge-on-read",
        when_matched_condition="s <> 'skip5'", condition_scope="source",
    )
    got = {r.id: r.s for r in read_table(spark, t).collect()}
    assert got[2] == "upd2" and got[99] == "new99" and 1 not in got
    assert got[5] == "r5"  # excluded row: neither updated nor inserted

    # target predicate under MOR: still rejected, names the escape hatch
    with pytest.raises(ValueError, match="condition_scope='source'"):
        merge_into(
            spark, t, spark.createDataFrame([(2,)], "id long"),
            key_col="id", when_matched="delete", strategy="merge-on-read",
            when_matched_condition="s = 'x'",
        )
    # scope validation
    with pytest.raises(ValueError, match="target|source"):
        merge_into(
            spark, t, spark.createDataFrame([(2,)], "id long"),
            key_col="id", when_matched="delete",
            when_matched_condition="true", condition_scope="both",
        )
    with pytest.raises(ValueError, match="requires when_matched_condition"):
        merge_into(
            spark, t, spark.createDataFrame([(2,)], "id long"),
            key_col="id", when_matched="delete", condition_scope="source",
        )
    # the SQL surface passes the scope through
    spark.createDataFrame([(0, True), (6, False)], "id long, flagged boolean")\
        .createOrReplaceTempView("mor_batch")
    sql(
        spark,
        f"CALL versioned.merge('{t}', 'mor_batch', key_col => 'id', "
        "when_matched => 'delete', strategy => 'merge-on-read', "
        "when_matched_condition => 'flagged', condition_scope => 'source')",
    )
    assert 0 not in _ids(read_table(spark, t)) and 6 in _ids(read_table(spark, t))


def test_manifest_births_recorded_and_survive_file_moves(spark, tmp_path):
    """VERDICT r9 stretch: birth versions live in the manifest (births
    map), path parsing is only the pre-upgrade fallback. A simulated
    relocation — data files copied to a FLAT layout with no commit-N
    parent, manifest rewritten by the mover with the carried births —
    must keep delete scoping exact: without the map, flat paths parse to
    birth 0 and every entry would mask the upsert's reborn rows."""
    import json as _json
    import shutil as _shutil

    from procurement_data_pipeline_spark.operators.versioning import (
        read_manifest as _read_manifest,
        resolve_manifest as _resolve_manifest,
    )
    from procurement_data_pipeline_spark.operators.tablelog import (
        manifest_uri as _manifest_uri,
    )
    from procurement_data_pipeline_spark.storage import (
        read_text as _read_text,
        write_text as _write_text,
    )

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(i, f"r{i}") for i in range(6)]), t)
    merge_into(  # v2: MOR delete ids {1, 2}
        spark, t, spark.createDataFrame([(1,), (2,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    merge_into(  # v3: MOR upsert REBIRTHS id 2 (escapes the v2 entry)
        spark, t, _df(spark, [(2, "reborn")]),
        key_col="id", when_matched="update", strategy="merge-on-read",
    )
    man = _resolve_manifest(spark, t, 3)
    # births recorded for every data file and matching the path parse
    from procurement_data_pipeline_spark.operators.tablelog import (
        birth_version as _birth_version,
    )

    assert set(man["births"]) == set(man["files"])
    assert all(man["births"][f] == _birth_version(f) for f in man["files"])
    assert _ids(read_table(spark, t)) == [0, 2, 3, 4, 5]

    # simulate a mover: copy every data file into a flat dir, rewrite the
    # manifest's files + births (delete files stay put — entries keep
    # their own paths)
    flat = str(tmp_path / "flat")
    os_sep_files = {}
    for f in man["files"]:
        local = f.replace("file:", "")
        dest = flat + "/" + local.replace("/", "_").strip("_")
        os_sep_files[f] = "file:" + dest
    import os as _os

    _os.makedirs(flat, exist_ok=True)
    for src, dst in os_sep_files.items():
        _shutil.copy(src.replace("file:", ""), dst.replace("file:", ""))
    raw = _json.loads(_read_text(spark, _manifest_uri(t, 3)))
    assert "delta_of" not in raw  # small table → full manifest
    raw["files"] = [os_sep_files[f] for f in raw["files"]]
    raw["births"] = {
        os_sep_files[f]: b for f, b in raw["births"].items()
    }
    from tests.hadoop_fs import fs_path as _fs_path

    fs, p, _ = _fs_path(spark, _manifest_uri(t, 3))
    fs.delete(p, False)
    _write_text(spark, _manifest_uri(t, 3), _json.dumps(raw))

    # flat paths carry no commit-N segment, yet scoping is still exact:
    # id 2's reborn row survives, ids {1} stay deleted
    assert _ids(read_table(spark, t)) == [0, 2, 3, 4, 5]
    got = {r.id: r.s for r in read_table(spark, t).collect()}
    assert got[2] == "reborn"


def test_optimize_scope_deletes_rewrites_only_masked_files(spark, tmp_path):
    """OPTIMIZE scope='deletes': clears the whole MOR debt at O(masked
    files) — files born after every entry carry verbatim (same URIs),
    content is unchanged, and describe_deletes returns to zero. A no-op
    (current manifest, no new version) when there is no debt."""
    from procurement_data_pipeline_spark.operators.versioning import (
        describe_deletes,
        latest_version,
    )

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [(i, f"r{i}") for i in range(8)]), t)
    merge_into(  # v2: delete {1,2}
        spark, t, spark.createDataFrame([(1,), (2,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    merge_into(  # v3: upsert 2 (reborn) + 99 (new) — files born AFTER v2
        spark, t, _df(spark, [(2, "reborn"), (99, "new")]),
        key_col="id", when_matched="update", strategy="merge-on-read",
    )
    before = {(r.id, r.s) for r in read_table(spark, t).collect()}
    m3 = _resolve_manifest(spark, t, 3)
    upsert_files = {
        f for f in m3["files"] if m3["births"][f] == 3
    }
    assert upsert_files  # the files that must NOT be rewritten

    man = optimize_table(spark, t, scope="deletes")
    assert man["op"] == "optimize" and man["optimize_scope"] == "deletes"
    # the v3 upsert files carried verbatim; every masked file was replaced
    assert upsert_files < set(man["files"])
    assert not (set(m3["files"]) - upsert_files) & set(man["files"])
    assert "deletes" not in man  # debt fully cleared
    assert describe_deletes(spark, t)["entry_count"] == 0
    assert {(r.id, r.s) for r in read_table(spark, t).collect()} == before

    # no debt → no-op: latest version unchanged
    v = latest_version(spark, t)
    optimize_table(spark, t, scope="deletes")
    assert latest_version(spark, t) == v


def test_optimize_scope_small_binpacks_and_keeps_needed_entries(
    spark, tmp_path
):
    """OPTIMIZE scope='small': only sub-threshold files rewrite (bin-
    packed), big files carry; live delete entries are KEPT while any
    carried file is still masked, and rewritten rows read through the
    entries first (fresh births escape them afterwards)."""
    t = str(tmp_path / "t")
    # three tiny single-row commits + the masking delete
    for i in range(3):
        versioned_write(spark, _df(spark, [(i, f"r{i}")]), t)
    merge_into(
        spark, t, spark.createDataFrame([(0,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    before = _ids(read_table(spark, t))
    assert before == [1, 2]
    n_before = _resolve_manifest(
        spark, t, 4
    )["n_files"]
    man = optimize_table(spark, t, scope="small")  # everything is tiny
    assert man["n_files"] < n_before
    # all masked files rewrote → entries dropped; content identical
    assert "deletes" not in man
    assert _ids(read_table(spark, t)) == before

    # partial case: a big carried file that stays masked keeps the entry
    t2 = str(tmp_path / "t2")
    versioned_write(
        spark,
        spark.createDataFrame(
            [(i, "x" * 64) for i in range(5000)], "id long, s string"
        ).coalesce(1),  # ONE file, well above the threshold below
        t2,
    )
    versioned_write(spark, _df(spark, [(100000, "tiny1")]), t2)
    versioned_write(spark, _df(spark, [(100001, "tiny2")]), t2)
    merge_into(
        spark, t2, spark.createDataFrame([(7,), (100000,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    before2 = set(_ids(read_table(spark, t2)))
    assert 7 not in before2 and 100000 not in before2
    # threshold chosen between the tiny files and the 5000-row file
    man2 = optimize_table(spark, t2, scope="small", small_file_bytes=4096)
    assert man2.get("deletes"), "entry must survive while the big file is masked"
    assert set(_ids(read_table(spark, t2))) == before2
    # zorder demands full scope
    with pytest.raises(ValueError, match="scope='table'"):
        optimize_table(spark, t2, scope="small", zorder_cols=["id"])
