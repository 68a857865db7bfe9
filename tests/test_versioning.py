"""Versioned-table operator: snapshot isolation, time travel, rollback,
optimistic concurrency, vacuum, and crash-window invisibility."""

from __future__ import annotations

import json
import os

import pytest

from procurement_data_pipeline_spark.storage import write_text as _write_text
from procurement_data_pipeline_spark.operators.versioning import (
    ConcurrentWriteError,
    history,
    latest_version,
    read_table,
    rollback,
    vacuum,
    versioned_write,
)


def _df(spark, ids):
    return spark.createDataFrame([(i, f"r{i}") for i in ids], "id long, s string")


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_append_overwrite_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    m1 = versioned_write(spark, _df(spark, [1, 2, 3]), t, mode="append")
    assert m1["version"] == 1 and m1["base_version"] is None
    m2 = versioned_write(spark, _df(spark, [4, 5]), t, mode="append")
    assert m2["version"] == 2
    m3 = versioned_write(spark, _df(spark, [9]), t, mode="overwrite")
    assert m3["version"] == 3 and m3["n_files"] < m2["n_files"]
    assert _ids(read_table(spark, t)) == [9]
    # time travel: every historical version still reads exactly
    assert _ids(read_table(spark, t, version=1)) == [1, 2, 3]
    assert _ids(read_table(spark, t, version=2)) == [1, 2, 3, 4, 5]
    assert latest_version(spark, t) == 3
    with pytest.raises(ValueError, match="version 7 does not exist"):
        read_table(spark, t, version=7)


def test_rollback_is_append_only_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t, mode="overwrite")
    man = rollback(spark, t, to_version=1)
    assert man["version"] == 3 and man["op"] == "rollback"
    assert _ids(read_table(spark, t)) == [1, 2]
    # the overwritten state is still reachable — history never rewrites
    assert _ids(read_table(spark, t, version=2)) == [3]
    ops = [(h["version"], h["op"], h["base_version"]) for h in history(spark, t)]
    assert ops == [(1, "append", None), (2, "overwrite", 1), (3, "rollback", 1)]


def test_concurrent_publish_loses_cleanly(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "tbl")
    m1 = versioned_write(spark, _df(spark, [1]), t)
    # interleave the race: OUR writer reads latest=1, then ANOTHER writer
    # publishes v2 before our publish — modeled by pinning the stale read
    from procurement_data_pipeline_spark.operators import versioning as V

    monkeypatch.setattr(V, "latest_version", lambda *_: 1)
    fake = {
        "version": 2,
        "op": "append",
        "base_version": 1,
        "files": json.loads(json.dumps(m1["files"])),
        "n_files": m1["n_files"],
        "schema": _df(spark, [1]).schema.json(),
    }
    _write_text(spark, f"{t}/_log/v00000002.json", json.dumps(fake))
    with pytest.raises(ConcurrentWriteError):
        versioned_write(spark, _df(spark, [2]), t, mode="append")
    monkeypatch.undo()
    # the loser's data files were rolled back — a retry lands cleanly as v3
    m = versioned_write(spark, _df(spark, [2]), t, mode="append")
    assert m["version"] == 3
    assert _ids(read_table(spark, t)) == [1, 2]
    # no leftover commit dir from the losing attempt
    commits = [p.name for p in (tmp_path / "tbl").iterdir() if p.name.startswith("commit-")]
    assert len(commits) == 2


def test_crashed_writer_is_invisible(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    # a writer that crashed after writing data but before publishing:
    _df(spark, [99]).write.parquet(f"{t}/commit-00000002-deadbeef")
    # and one that crashed mid-manifest-write (temp name, never renamed):
    _write_text(spark, f"{t}/_log/.tmp-2-cafe", "{not even json")
    assert latest_version(spark, t) == 1
    assert _ids(read_table(spark, t)) == [1]
    # the next real write is unaffected
    versioned_write(spark, _df(spark, [2]), t)
    assert _ids(read_table(spark, t)) == [1, 2]


def test_vacuum_expires_history_and_orphans(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    versioned_write(spark, _df(spark, [2]), t, mode="overwrite")
    versioned_write(spark, _df(spark, [3]), t, mode="append")
    _df(spark, [99]).write.parquet(f"{t}/commit-00000099-orphan")
    audit = vacuum(spark, t, keep_last=2)
    assert audit["expired_versions"] == 1 and audit["deleted_files"] >= 1
    # retained versions read exactly; expired version fails loudly
    assert _ids(read_table(spark, t, version=3)) == [2, 3]
    assert _ids(read_table(spark, t, version=2)) == [2]
    with pytest.raises(ValueError, match="may have been vacuumed"):
        read_table(spark, t, version=1)
    # v1's data file (overwritten at v2, so referenced by nothing retained)
    # and the orphan commit are both gone
    leftovers = sorted(p.name for p in (tmp_path / "tbl").iterdir())
    assert "commit-00000099-orphan" not in leftovers
    assert not any(n.startswith("commit-00000001") for n in leftovers)
    # idempotent: a second vacuum finds nothing
    assert vacuum(spark, t, keep_last=2) == {
        "expired_versions": 0,
        "deleted_files": 0,
    }


def test_empty_version_roundtrips_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    empty = _df(spark, [1]).where("id < 0")
    man = versioned_write(spark, empty, t, mode="overwrite")
    got = read_table(spark, t, version=man["version"])
    assert got.count() == 0
    assert got.schema == empty.schema


def test_vacuum_guards_keep_last(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    with pytest.raises(ValueError, match="keep_last"):
        vacuum(spark, t, keep_last=0)


def test_optimize_compacts_without_changing_contents(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import (
        optimize_table,
    )

    t = str(tmp_path / "tbl")
    # many tiny appends — the streaming-sink small-file shape
    for i in range(4):
        versioned_write(spark, _df(spark, [2 * i, 2 * i + 1]), t)
    before = _ids(read_table(spark, t))
    n_files_before = history(spark, t)[-1]["n_files"]
    man = optimize_table(spark, t, target_files=1)
    assert man["op"] == "optimize" and man["n_files"] == 1 < n_files_before
    assert _ids(read_table(spark, t)) == before
    # pre-optimize version still time-travels until vacuumed
    assert _ids(read_table(spark, t, version=4)) == before
    vacuum(spark, t, keep_last=1)
    with pytest.raises(ValueError):
        read_table(spark, t, version=4)
    assert _ids(read_table(spark, t)) == before


def test_optimize_zorder_layout(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import (
        optimize_table,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i * 7 % 100) for i in range(500)], "x long, y long"
    )
    versioned_write(spark, df, t)
    man = optimize_table(spark, t, zorder_cols=["x", "y"], target_files=4)
    assert man["zorder_cols"] == ["x", "y"] and man["n_files"] == 4
    got = read_table(spark, t)
    assert got.count() == 500
    assert sorted(r["x"] for r in got.collect()) == list(range(500))


def test_merge_into_upsert_prunes_untouched_files(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    # two disjoint-key files in separate versions → disjoint envelopes
    versioned_write(spark, _df(spark, [1, 2, 3]).coalesce(1), t)
    versioned_write(spark, _df(spark, [100, 101]).coalesce(1), t)
    updates = spark.createDataFrame(
        [(2, "UPDATED"), (50, "INSERTED")], "id long, s string"
    )
    man = merge_into(spark, t, updates, key_col="id")
    assert man["op"] == "merge"
    assert man["merge"]["files_rewritten"] == 1  # only the low-key file
    assert man["merge"]["files_untouched"] == 1
    got = {r["id"]: r["s"] for r in read_table(spark, t).collect()}
    assert got == {1: "r1", 2: "UPDATED", 3: "r3", 50: "INSERTED",
                   100: "r100", 101: "r101"}
    # pre-merge version is still exact
    assert _ids(read_table(spark, t, version=2)) == [1, 2, 3, 100, 101]
    # the untouched file is carried VERBATIM (same URI in both manifests)
    from procurement_data_pipeline_spark.operators.versioning import (
        read_manifest as _read_manifest,
    )

    before, after = _read_manifest(spark, t, 2), _read_manifest(spark, t, 3)
    assert set(after["files"]) & set(before["files"])


def test_merge_into_delete_mode(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2, 3, 4]), t)
    dels = spark.createDataFrame([(2,), (4,), (999,)], "id long")
    man = merge_into(spark, t, dels, key_col="id", when_matched="delete")
    assert _ids(read_table(spark, t)) == [1, 3]
    assert man["merge"]["when_matched"] == "delete"
    assert _ids(read_table(spark, t, version=1)) == [1, 2, 3, 4]


def test_merge_into_guards(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    with pytest.raises(ValueError, match="key-unique"):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(1, "a"), (1, "b")], "id long, s string"),
            key_col="id",
        )
    with pytest.raises(ValueError, match="NULL merge key"):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(None, "a")], "id long, s string"),
            key_col="id",
        )
    with pytest.raises(ValueError, match="schema"):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(1,)], "id long"),
            key_col="id",
        )
    # delete everything → empty but schema'd table
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1,)], "id long"),
        key_col="id",
        when_matched="delete",
    )
    got = read_table(spark, t)
    assert got.count() == 0 and "s" in got.columns


def test_schema_evolution_widening_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)
    wide = spark.createDataFrame(
        [(3, "r3", 9.5)], "id long, s string, score double"
    )
    # silent mixed-schema appends are refused…
    with pytest.raises(ValueError, match="merge_schema=True"):
        versioned_write(spark, wide, t, mode="append")
    # …and a retyped column is refused even WITH merge_schema
    retyped = spark.createDataFrame([("x", "r")], "id string, s string")
    with pytest.raises(ValueError, match="retyped"):
        versioned_write(spark, retyped, t, mode="append", merge_schema=True)
    man = versioned_write(spark, wide, t, mode="append", merge_schema=True)
    got = read_table(spark, t)
    assert set(got.columns) == {"id", "s", "score"}
    vals = {r["id"]: r["score"] for r in got.collect()}
    assert vals == {1: None, 2: None, 3: 9.5}  # old rows backfill NULL
    # time travel reads the OLD shape, not the widened one
    assert set(read_table(spark, t, version=1).columns) == {"id", "s"}
    assert man["version"] == 2


def test_merge_preserves_null_keyed_rows(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a"), (None, "nullkey"), (2, "b")], "id long, s string"
    )
    versioned_write(spark, df, t)
    merge_into(
        spark,
        t,
        spark.createDataFrame([(2,)], "id long"),
        key_col="id",
        when_matched="delete",
    )
    got = {(r["id"], r["s"]) for r in read_table(spark, t).collect()}
    # the NULL-keyed row must survive — it matches nothing
    assert got == {(1, "a"), (None, "nullkey")}


def test_merge_string_keys_prune_untouched_files(spark, tmp_path):
    """String merge keys prune via footer string stats (round 7): a file
    whose [min, max] name envelope cannot contain any update key carries
    into the new version untouched. Parquet may truncate long string
    stats, but the stored bounds stay valid by spec, so the envelope
    check is safe."""
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    a = spark.createDataFrame([("a1", 1), ("a2", 2)], "name string, v long")
    z = spark.createDataFrame([("z1", 9), ("z2", 8)], "name string, v long")
    versioned_write(spark, a.coalesce(1), t)
    versioned_write(spark, z.coalesce(1), t)
    ups = spark.createDataFrame([("z1", 90), ("z9", 70)], "name string, v long")
    man = merge_into(spark, t, ups, key_col="name")
    assert man["merge"]["files_untouched"] == 1  # the a-file never reread
    got = {r["name"]: r["v"] for r in read_table(spark, t).collect()}
    assert got == {"a1": 1, "a2": 2, "z1": 90, "z2": 8, "z9": 70}


def test_merge_mixed_type_keys_fall_back_unpruned(spark, tmp_path):
    """Keys that are neither all-numeric nor all-string have no safe
    envelope — every file rewrites (correct, just unpruned)."""
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(True, 1), (False, 2)], "flag boolean, v long")
    versioned_write(spark, df.coalesce(1), t)
    ups = spark.createDataFrame([(True, 10)], "flag boolean, v long")
    man = merge_into(spark, t, ups, key_col="flag")
    assert man["merge"]["files_untouched"] == 0
    got = {r["flag"]: r["v"] for r in read_table(spark, t).collect()}
    assert got == {True: 10, False: 2}


def test_register_versioned_view_sql_time_travel(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import (
        register_versioned_view,
    )

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)
    versioned_write(spark, _df(spark, [3]), t, mode="overwrite")
    register_versioned_view(spark, "vt_latest", t)
    register_versioned_view(spark, "vt_v1", t, version=1)
    assert spark.sql("SELECT COUNT(*) n FROM vt_latest").collect()[0]["n"] == 1
    assert (
        spark.sql("SELECT SUM(id) s FROM vt_v1").collect()[0]["s"] == 3
    )  # 1 + 2
    # snapshot isolation: a later write does NOT shift the registered view
    versioned_write(spark, _df(spark, [9]), t, mode="append")
    assert spark.sql("SELECT COUNT(*) n FROM vt_latest").collect()[0]["n"] == 1
    spark.catalog.dropTempView("vt_latest")
    spark.catalog.dropTempView("vt_v1")


def test_merge_after_widening_reads_pinned_schema(spark, tmp_path):
    """ADVICE r5 (high): touched files mix pre- and post-evolution physical
    schemas; merge must read them with the MANIFEST schema, or Spark
    infers from one arbitrary file and a merge silently NULLs (or fails
    unionByName on) the widened column."""
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)  # pre-evolution files
    wide = spark.createDataFrame(
        [(3, "r3", 9.5), (4, "r4", 4.5)], "id long, s string, score double"
    )
    versioned_write(spark, wide, t, mode="append", merge_schema=True)

    # update-merge touching BOTH schema generations: old bug could fail on
    # unionByName or NULL the widened column of rewritten rows
    ups = spark.createDataFrame(
        [(1, "r1x", 1.5), (3, "r3x", 3.5)], "id long, s string, score double"
    )
    merge_into(spark, t, ups, key_col="id")
    got = {r["id"]: (r["s"], r["score"]) for r in read_table(spark, t).collect()}
    assert got == {
        1: ("r1x", 1.5),
        2: ("r2", None),  # pre-evolution row, rewritten, still NULL
        3: ("r3x", 3.5),
        4: ("r4", 4.5),  # post-evolution row must KEEP its value
    }

    # delete-merge across both generations keeps widened values intact
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1,), (4,)], "id long"),
        key_col="id",
        when_matched="delete",
    )
    got = {r["id"]: r["score"] for r in read_table(spark, t).collect()}
    assert got == {2: None, 3: 3.5}


def test_publish_race_has_exactly_one_winner(spark, tmp_path):
    """ADVICE r5: on file:// the exists/rename pair is a TOCTOU window —
    the commit point must be a true create-no-overwrite primitive, so N
    writers racing the same version number produce exactly one winner."""
    from concurrent.futures import ThreadPoolExecutor

    from procurement_data_pipeline_spark.operators import versioning as V

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    schema = _df(spark, [1]).schema.json()

    def attempt(i: int) -> bool:
        man = {
            "version": 2,
            "op": "append",
            "base_version": 1,
            "files": [],
            "n_files": 0,
            "schema": schema,
            "writer": i,
        }
        try:
            V._publish(spark, t, man)
            return True
        except ConcurrentWriteError:
            return False

    with ThreadPoolExecutor(max_workers=8) as ex:
        wins = list(ex.map(attempt, range(8)))
    assert sum(wins) == 1
    # the winning manifest is intact JSON (no torn writes under the race)
    man = V.read_manifest(spark, t, 2)
    assert man["version"] == 2 and man["writer"] == wins.index(True)
    # no temp files leak from the losers
    leftovers = [
        p.name
        for p in (tmp_path / "tbl" / "_log").iterdir()
        if p.name.startswith(".tmp-")
    ]
    assert leftovers == []


def test_listing_failure_propagates_not_empty_manifest(spark, tmp_path, monkeypatch):
    """ADVICE r5: a transient listing failure after a successful write must
    PROPAGATE — round 5 swallowed it into files=[], publishing a manifest
    missing the just-written data (silent loss reported as success)."""
    from procurement_data_pipeline_spark import storage

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)

    def boom(*_a, **_k):
        raise IOError("transient listing failure")

    monkeypatch.setattr(storage, "list_parquet_files", boom)
    with pytest.raises(IOError, match="transient"):
        versioned_write(spark, _df(spark, [2]), t, mode="append")
    monkeypatch.undo()
    # nothing was published for the failed attempt
    assert latest_version(spark, t) == 1
    assert _ids(read_table(spark, t)) == [1]


def _df_range(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .selectExpr("id", "CAST(id AS STRING) AS s")
        .coalesce(1)
    )


def test_manifest_stats_prune_scan(spark, tmp_path):
    """Data skipping: per-file [min,max] in the manifest lets scan_table
    open only the files a range predicate can match — planned from one
    JSON, zero data IO for pruned files — and the result stays exact."""
    from procurement_data_pipeline_spark.operators.versioning import (
        plan_scan,
        scan_table,
    )

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df_range(spark, 0, 100), t, stats_cols=["id"])
    versioned_write(spark, _df_range(spark, 100, 200), t)  # sticky stats
    versioned_write(spark, _df_range(spark, 200, 300), t)
    kept, total = plan_scan(spark, t, "id", lo=120, hi=150)
    assert total == 3 and len(kept) == 1  # only the middle file can match
    got = scan_table(spark, t, "id", lo=120, hi=150)
    assert sorted(r["id"] for r in got.collect()) == list(range(120, 151))
    # boundary values survive the ulp widening (never pruned away)
    assert scan_table(spark, t, "id", lo=199, hi=200).count() == 2
    # open ranges prune one-sided
    kept, _ = plan_scan(spark, t, "id", lo=250)
    assert len(kept) == 1
    # a column without stats never prunes
    kept, _ = plan_scan(spark, t, "s", lo=0, hi=1)
    assert len(kept) == 3


def test_stats_maintained_by_merge_optimize_rollback(spark, tmp_path):
    from procurement_data_pipeline_spark.operators.versioning import (
        merge_into,
        optimize_table,
        plan_scan,
        scan_table,
    )

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df_range(spark, 0, 100), t, stats_cols=["id"])
    versioned_write(spark, _df_range(spark, 100, 200), t)
    # merge rewrites only the touched file; stats carry + recompute
    ups = spark.createDataFrame([(50, "FIFTY")], "id long, s string")
    man = merge_into(spark, t, ups, key_col="id")
    assert man["merge"]["files_untouched"] == 1
    assert set(man["stats"]) == set(man["files"])
    got = scan_table(spark, t, "id", lo=50, hi=50).collect()
    assert [(r["id"], r["s"]) for r in got] == [(50, "FIFTY")]
    # optimize recomputes stats for the compacted layout
    man = optimize_table(spark, t, target_files=1)
    assert man["stats_cols"] == ["id"] and len(man["stats"]) == len(man["files"])
    kept, total = plan_scan(spark, t, "id", lo=10, hi=20)
    assert (len(kept), total) == (1, 1)
    # rollback carries the target version's stats verbatim
    rb = rollback(spark, t, to_version=2)
    assert set(rb["stats"]) == set(rb["files"])
    kept, total = plan_scan(spark, t, "id", lo=120, hi=130)
    assert total == 2 and len(kept) == 1


def test_stats_backfill_on_enable(spark, tmp_path):
    """Enabling stats_cols on an existing table backfills older files in
    the same commit — a one-commit upgrade, not a rewrite."""
    from procurement_data_pipeline_spark.operators.versioning import plan_scan

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df_range(spark, 0, 100), t)  # no stats yet
    man = versioned_write(
        spark, _df_range(spark, 100, 200), t, stats_cols=["id"]
    )
    assert set(man["stats"]) == set(man["files"])  # old file backfilled
    kept, total = plan_scan(spark, t, "id", lo=150, hi=160)
    assert (len(kept), total) == (1, 2)


def test_stats_cols_type_gate(spark, tmp_path):
    """numeric/string/date stats columns are accepted; anything else
    (boolean, arrays, …) refuses UP FRONT — not deep in the write."""
    t = str(tmp_path / "tbl")
    bools = spark.createDataFrame([(True, 1)], "b boolean, v long")
    with pytest.raises(ValueError, match="numeric/string/date"):
        versioned_write(spark, bools, t, stats_cols=["b"])
    with pytest.raises(ValueError, match="missing"):
        versioned_write(
            spark, _df_range(spark, 0, 10), t, stats_cols=["nope"]
        )
    # string columns are now in the supported set
    man = versioned_write(spark, _df_range(spark, 0, 10), t, stats_cols=["s"])
    assert man["stats_cols"] == ["s"]


def test_compound_predicate_pruning(spark, tmp_path):
    """AND-ed predicates prune in one manifest pass and keep STRICTLY
    fewer files than either predicate alone; the residual filter keeps
    the result exact."""
    from procurement_data_pipeline_spark.operators.versioning import (
        plan_scan,
        scan_table,
    )

    t = str(tmp_path / "tbl")

    def two_col(arange, brange):
        rows = [(a, b) for a, b in zip(range(*arange), range(*brange))]
        return spark.createDataFrame(rows, "a long, b long").coalesce(1)

    versioned_write(spark, two_col((0, 11), (0, 11)), t, stats_cols=["a", "b"])
    versioned_write(spark, two_col((0, 11), (20, 31)), t)
    versioned_write(spark, two_col((20, 31), (0, 11)), t)
    kept_a, total = plan_scan(spark, t, "a", hi=10)
    kept_b, _ = plan_scan(spark, t, "b", hi=10)
    kept_ab, _ = plan_scan(
        spark, t, predicates={"a": (None, 10), "b": (None, 10)}
    )
    assert total == 3 and len(kept_a) == 2 and len(kept_b) == 2
    assert len(kept_ab) == 1  # strictly fewer than either alone
    got = scan_table(spark, t, predicates={"a": (None, 10), "b": (None, 10)})
    want = read_table(spark, t).filter("a <= 10 AND b <= 10")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_string_and_date_stats_pruning(spark, tmp_path):
    """Date and string manifest stats prune with exact (ulp-free) boundary
    semantics: a file whose envelope TOUCHES the predicate boundary is
    kept; one strictly outside is pruned. Dates compare as ISO strings."""
    import datetime

    from procurement_data_pipeline_spark.operators.versioning import (
        plan_scan,
        scan_table,
    )

    t = str(tmp_path / "tbl")

    def month(y, m, cat):
        d1 = datetime.date(y, m, 1)
        d2 = datetime.date(y, m, 28)
        return spark.createDataFrame(
            [(d1, cat, 1), (d2, cat, 2)], "d date, cat string, v long"
        ).coalesce(1)

    versioned_write(spark, month(2024, 1, "alpha"), t, stats_cols=["d", "cat"])
    versioned_write(spark, month(2024, 2, "beta"), t)
    versioned_write(spark, month(2024, 3, "gamma"), t)
    # date range covering feb only → 1 file
    kept, total = plan_scan(
        spark, t, "d", lo="2024-02-01", hi="2024-02-28"
    )
    assert (total, len(kept)) == (3, 1)
    # boundary: hi exactly on jan's max date keeps jan (never pruned away)
    kept, _ = plan_scan(spark, t, "d", hi="2024-01-28")
    assert len(kept) == 1
    # ...and one day earlier still keeps it (file min is 01-01)
    kept, _ = plan_scan(spark, t, "d", hi="2024-01-01")
    assert len(kept) == 1
    # but a hi before the file's min prunes everything
    kept, _ = plan_scan(spark, t, "d", hi="2023-12-31")
    assert len(kept) == 0
    # datetime.date bounds normalize identically to ISO strings
    kept, _ = plan_scan(spark, t, "d", lo=datetime.date(2024, 3, 1))
    assert len(kept) == 1
    # string category pruning, exact boundaries
    kept, _ = plan_scan(spark, t, "cat", lo="beta", hi="beta")
    assert len(kept) == 1
    kept, _ = plan_scan(spark, t, "cat", hi="aardvark")
    assert len(kept) == 0
    # scan_table residual stays exact for date + string predicates
    got = scan_table(
        spark, t, predicates={"d": ("2024-02-01", None), "cat": (None, "beta")}
    )
    assert sorted(r["v"] for r in got.collect()) == [1, 2]
    assert {r["cat"] for r in got.collect()} == {"beta"}


def test_sticky_stats_cols_revalidated_on_overwrite(spark, tmp_path):
    """ADVICE r6: inherited stats_cols must survive contact with the new
    schema. An overwrite that drops a stats column drops it from the
    sticky set (instead of perpetuating NULL bounds against a phantom
    column); remaining columns keep pruning."""
    from procurement_data_pipeline_spark.operators.versioning import plan_scan

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 10, "x")], "a long, b long, s string")
    versioned_write(spark, df, t, stats_cols=["a", "b"])
    # overwrite WITHOUT b: sticky set intersects down to ["a"]
    df2 = spark.createDataFrame([(5, "y"), (6, "z")], "a long, s string")
    man = versioned_write(spark, df2.coalesce(1), t, mode="overwrite")
    assert man["stats_cols"] == ["a"]
    assert all("b" not in ent or True for ent in man["stats"].values())
    kept, total = plan_scan(spark, t, "a", lo=99)
    assert (total, len(kept)) == (1, 0)
    # overwrite dropping EVERY stats column turns stats off cleanly
    df3 = spark.createDataFrame([("w",)], "s string")
    man = versioned_write(spark, df3, t, mode="overwrite")
    assert "stats_cols" not in man
    # ...and a later append inherits the off state without error
    man = versioned_write(spark, df3, t, mode="append")
    assert "stats_cols" not in man


def test_cluster_by_gives_partition_pruning_semantics(spark, tmp_path):
    """cluster_by hash-repartitions on the named columns so each file's
    stats envelope covers few distinct values — an equality predicate
    then prunes like hive partitioning would, WITHOUT k=v directory
    layout (the manifest already knows every file's bounds)."""
    from pyspark.sql import functions as F

    from procurement_data_pipeline_spark.operators.versioning import (
        plan_scan,
        scan_table,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(0, 1000).select(
        "id",
        F.concat(F.lit("cat_"), (F.col("id") % 8).cast("string")).alias("cat"),
    )
    man = versioned_write(
        spark, df, t, stats_cols=["id"], cluster_by=["cat"], cluster_files=8
    )
    # cluster_by columns join the stats set automatically
    assert man["cluster_by"] == ["cat"] and "cat" in man["stats_cols"]
    kept, total = plan_scan(spark, t, "cat", lo="cat_3", hi="cat_3")
    assert len(kept) < total  # equality predicate prunes clustered files
    got = scan_table(spark, t, "cat", lo="cat_3", hi="cat_3")
    assert got.count() == 125 and {r["cat"] for r in got.collect()} == {"cat_3"}
    with pytest.raises(ValueError, match="cluster_by columns"):
        versioned_write(spark, df, t, cluster_by=["nope"])


@pytest.fixture()
def delta_mode(monkeypatch):
    """Force incremental manifests at toy scale: every table qualifies,
    checkpoint every 4th version."""
    from procurement_data_pipeline_spark.operators import tablelog

    monkeypatch.setattr(tablelog, "_DELTA_MIN_FILES", 0)
    monkeypatch.setattr(tablelog, "_CHECKPOINT_EVERY", 4)


def test_delta_manifest_append_chain(spark, tmp_path, delta_mode):
    """Appends on a big table log only their adds (O(commit) metadata);
    every k-th version is a full checkpoint manifest; reads and stats
    resolve identically through the chain."""
    from procurement_data_pipeline_spark.operators.versioning import (
        read_manifest as _read_manifest,
        plan_scan,
    )

    t = str(tmp_path / "tbl")
    for i in range(6):
        versioned_write(
            spark,
            _df_range(spark, 100 * i, 100 * (i + 1)),
            t,
            stats_cols=["id"] if i == 0 else None,
        )
    raws = {v: _read_manifest(spark, t, v) for v in range(1, 7)}
    # v1 full (no base), v2/v3 delta, v4 full (checkpoint), v5/v6 delta
    assert [("delta_of" in raws[v]) for v in range(1, 7)] == [
        False, True, True, False, True, True,
    ]
    assert raws[3]["adds"] and raws[3]["removes"] == []
    assert "files" not in raws[3] and "stats" not in raws[3]
    assert set(raws[3]["stats_adds"]) == set(raws[3]["adds"])
    # resolution: every version reads its exact contents
    for v in range(1, 7):
        assert _ids(read_table(spark, t, version=v)) == list(range(100 * v))
        assert raws[v]["n_files"] == v  # one coalesced file per append
    # stats pruning works through the delta chain
    kept, total = plan_scan(spark, t, "id", lo=250, hi=260)
    assert (len(kept), total) == (1, 6)


def test_delta_merge_and_vacuum_checkpoints(spark, tmp_path, delta_mode):
    """MERGE logs removes+adds as a delta; vacuum materializes a c{N}
    checkpoint for retained deltas whose base is expired, then reads stay
    exact, expired versions refuse, and a rerun is a no-op."""
    from procurement_data_pipeline_spark.operators.versioning import (
        read_manifest as _read_manifest,
        merge_into,
    )
    from procurement_data_pipeline_spark.operators.tablelog import (
        checkpoint_uri as _ckpt_uri,
    )
    from tests.hadoop_fs import fs_path as _fs_path

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df_range(spark, 0, 100), t, stats_cols=["id"])
    versioned_write(spark, _df_range(spark, 100, 200), t)
    ups = spark.createDataFrame([(50, "FIFTY"), (250, "NEW")], "id long, s string")
    man = merge_into(spark, t, ups, key_col="id")  # v3: delta with removes
    raw3 = _read_manifest(spark, t, 3)
    assert raw3["delta_of"] == 2 and raw3["removes"] and raw3["adds"]
    assert man["merge"]["files_untouched"] == 1
    got = {r["id"]: r["s"] for r in read_table(spark, t).collect()}
    assert got[50] == "FIFTY" and got[250] == "NEW" and len(got) == 201
    # expire v1/v2 — v3 is a delta of v2, so vacuum must checkpoint it
    audit = vacuum(spark, t, keep_last=1)
    assert audit["expired_versions"] == 2
    fs, ckpt_p, _ = _fs_path(spark, _ckpt_uri(t, 3))
    assert fs.exists(ckpt_p)
    got2 = {r["id"]: r["s"] for r in read_table(spark, t).collect()}
    assert got2 == got
    with pytest.raises(ValueError, match="does not exist"):
        read_table(spark, t, version=2)
    assert vacuum(spark, t, keep_last=1) == {
        "expired_versions": 0,
        "deleted_files": 0,
    }
    # stats still prune through the checkpointed manifest
    from procurement_data_pipeline_spark.operators.versioning import plan_scan

    kept, total = plan_scan(spark, t, "id", lo=250, hi=250)
    assert len(kept) < total


def test_write_with_retry_wins_after_interleaved_commit(spark, tmp_path, monkeypatch):
    """The OCC retry loop: first attempt loses to an interleaved writer
    (stale latest_version), the retry re-reads and lands cleanly; both
    batches are present."""
    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.versioning import (
        write_with_retry,
    )

    t = str(tmp_path / "tbl")
    m1 = versioned_write(spark, _df(spark, [1]), t)
    # first call sees a stale latest (=1) while v2 already exists; the
    # retry consults the REAL latest_version and commits as v3
    _write_text(
        spark,
        f"{t}/_log/v00000002.json",
        json.dumps(
            {
                "version": 2,
                "op": "append",
                "base_version": 1,
                "files": m1["files"],
                "n_files": m1["n_files"],
                "schema": _df(spark, [1]).schema.json(),
            }
        ),
    )
    real = V.latest_version
    stale = {"used": False}

    def once_stale(sp, p):
        if not stale["used"]:
            stale["used"] = True
            return 1
        return real(sp, p)

    monkeypatch.setattr(V, "latest_version", once_stale)
    man = write_with_retry(spark, _df(spark, [2]), t)
    assert man["version"] == 3
    assert stale["used"]  # the losing attempt really happened
    assert _ids(read_table(spark, t)) == [1, 2]


def test_extra_metadata_reserved_keys_fixed_set(spark, tmp_path, monkeypatch):
    """ADVICE r7: the reserved-key check for ``extra`` must test against
    the FIXED reserved set, not the manifest instance being built — a
    delta manifest carries no 'files'/'stats' key, so instance-keyed
    checking would let extra={'stats': ...} through and plan_scan's
    n_rows==0 skip would then drop files based on injected stats."""
    from procurement_data_pipeline_spark.operators import tablelog

    monkeypatch.setattr(tablelog, "_DELTA_MIN_FILES", 0)
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    commit_dirs = sorted(n for n in os.listdir(t) if n.startswith("commit-"))
    # v2 is a delta manifest (no 'files'/'stats' keys in the instance)
    for key in ("stats", "files", "stats_adds", "adds"):
        with pytest.raises(ValueError, match="reserved manifest keys"):
            versioned_write(spark, _df(spark, [2]), t, extra={key: {}})
    # a refused call writes nothing: no orphan commit dir is left behind
    assert sorted(n for n in os.listdir(t) if n.startswith("commit-")) == commit_dirs
    # benign metadata still passes through
    man = versioned_write(spark, _df(spark, [2]), t, extra={"job_id": "j7"})
    assert man["job_id"] == "j7"


def test_write_with_retry_overwrite_reraises_by_default(
    spark, tmp_path, monkeypatch
):
    """ADVICE r7: auto-retrying an OVERWRITE replays last-writer-wins on
    top of the commit OCC just detected — the conflict signal must reach
    the caller unless it explicitly opts in."""
    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.versioning import (
        write_with_retry,
    )

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)

    calls = {"n": 0}
    real = V.versioned_write

    def conflicted_once(sp, df, path, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConcurrentWriteError("simulated interleaved commit")
        return real(sp, df, path, **kw)

    monkeypatch.setattr(V, "versioned_write", conflicted_once)
    with pytest.raises(ConcurrentWriteError):
        write_with_retry(spark, _df(spark, [9]), t, mode="overwrite")
    assert calls["n"] == 1  # no silent retry happened

    calls["n"] = 0
    man = write_with_retry(
        spark, _df(spark, [9]), t, mode="overwrite", retry_overwrite=True
    )
    assert man["op"] == "overwrite" and calls["n"] == 2
    assert _ids(read_table(spark, t)) == [9]

    # appends still retry automatically (the round-7 contract)
    calls["n"] = 0
    man = write_with_retry(spark, _df(spark, [10]), t)
    assert man["op"] == "append" and calls["n"] == 2


def test_vacuum_ctmp_sweep_spares_young_temps(spark, tmp_path):
    """ADVICE r7: the final .ctmp-* sweep must not delete a CONCURRENT
    vacuum's in-flight checkpoint temp — only wreckage older than the
    grace period (a crashed run's temp is old by the next maintenance
    window)."""
    from tests.hadoop_fs import fs_path as _fs_path

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    versioned_write(spark, _df(spark, [2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    young = f"{t}/_log/.ctmp-2-deadbeef"
    _write_text(spark, young, "{in flight}")
    vacuum(spark, t, keep_last=2)  # default grace: young temp survives
    fs, young_p, _ = _fs_path(spark, young)
    assert fs.exists(young_p)
    versioned_write(spark, _df(spark, [4]), t)
    vacuum(spark, t, keep_last=2, ctmp_grace_seconds=0.0)  # crashed-run sweep
    assert not fs.exists(young_p)


def test_delta_cadence_per_call_parameters(spark, tmp_path):
    """The incremental-manifest cadence is a versioned_write parameter
    (VERDICT r7 item 1): delta_min_files/checkpoint_every override the
    module constants for one commit, so a fixture (or a Delta-style table
    property layer) can engage the delta path without monkeypatching."""
    from procurement_data_pipeline_spark.operators.versioning import (
        read_manifest as _read_manifest,
    )

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    m2 = versioned_write(
        spark, _df(spark, [2]), t, delta_min_files=1, checkpoint_every=4
    )
    assert "delta_of" not in m2 or m2["delta_of"] == 1
    raw2 = _read_manifest(spark, t, 2)
    assert raw2["delta_of"] == 1 and raw2["adds"]
    # version 4 is a forced full under checkpoint_every=4
    versioned_write(spark, _df(spark, [3]), t, delta_min_files=1, checkpoint_every=4)
    m4 = versioned_write(
        spark, _df(spark, [4]), t, delta_min_files=1, checkpoint_every=4
    )
    assert "delta_of" not in _read_manifest(spark, t, 4) and m4["files"]
    # default cadence still applies when the parameters are omitted
    m5 = versioned_write(spark, _df(spark, [5]), t)
    assert "delta_of" not in _read_manifest(spark, t, 5)  # < 64 files
    assert _ids(read_table(spark, t)) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="checkpoint_every"):
        versioned_write(spark, _df(spark, [6]), t, checkpoint_every=0)


def test_merge_large_batch_antijoin_no_driver_key_list(spark, tmp_path, monkeypatch):
    """VERDICT r7 item 5: above key_collect_threshold, MERGE must never
    collect the key list to the driver (no isin literal blow-up) — files
    prune via the aggregated [min, max] key envelope and matched rows
    drop via a distributed anti-join. NULL-keyed table rows must survive
    this path too."""
    from pyspark.sql import functions as F

    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "big")
    base = spark.range(0, 200_000).select(
        F.col("id"), F.concat(F.lit("r"), F.col("id")).alias("s")
    ).repartition(4)
    null_row = spark.createDataFrame([(None, "null-keyed")], "id long, s string")
    versioned_write(spark, base.unionByName(null_row), t)

    _dfcls = type(spark.range(1))  # the concrete (classic) DataFrame class

    sizes: list[int] = []
    real_collect = _dfcls.collect

    def counting_collect(self):
        out = real_collect(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(_dfcls, "collect", counting_collect)
    dels = spark.range(30_000, 150_000).select(F.col("id"))
    man = merge_into(spark, t, dels, key_col="id", when_matched="delete")
    # every driver collect during the merge is metadata-bounded: the 1-row
    # key profile and the per-FILE footer stats — never the 120k keys
    assert sizes and max(sizes) <= man["n_files"] + len(man.get("removes", [])) + 8, sizes
    assert man["merge"]["n_keys"] == 120_000
    monkeypatch.setattr(_dfcls, "collect", real_collect)

    got = read_table(spark, t)
    assert got.count() == 200_000 - 120_000 + 1
    assert got.filter("id IS NULL").count() == 1  # NULL-keyed row survived
    assert got.filter("id >= 30000 AND id < 150000").count() == 0
    assert got.filter("id = 29999 OR id = 150000").count() == 2


def test_merge_large_batch_update_upserts(spark, tmp_path):
    """The anti-join path for when_matched='update': matched rows replaced,
    unmatched update rows inserted, key-uniqueness still validated via the
    aggregate profile (no count() second job on the driver key list)."""
    from pyspark.sql import functions as F

    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "upd")
    base = spark.range(0, 50_000).select(
        F.col("id"), F.lit("old").alias("s")
    )
    versioned_write(spark, base, t)
    ups = spark.range(20_000, 60_000).select(
        F.col("id"), F.lit("new").alias("s")
    )
    merge_into(spark, t, ups, key_col="id", key_collect_threshold=100)
    got = read_table(spark, t)
    assert got.count() == 60_000
    assert got.filter("s = 'new'").count() == 40_000
    assert got.filter("id < 20000 AND s <> 'old'").count() == 0
    # duplicate update keys must still refuse on the big path
    dup = ups.unionByName(ups.limit(1))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key-unique"):
        merge_into(spark, t, dup, key_col="id", key_collect_threshold=100)


def test_concurrent_append_writers_race_delta_chain_liveness(spark, tmp_path):
    """Stretch (VERDICT r7 item 8): two write_with_retry writers racing
    APPENDS under forced delta cadence, crossing a forced-checkpoint
    version. Liveness: all batches commit; every committed version
    resolves through _resolve_manifest; the forced-full versions are full
    manifests; the final table is the union of every batch; and no
    .ctmp-* orphans remain in the log."""
    from concurrent.futures import ThreadPoolExecutor

    from tests.hadoop_fs import fs_path as _fs_path
    from procurement_data_pipeline_spark.operators.versioning import (
        list_versions as _list_versions,
        read_manifest as _read_manifest,
        resolve_manifest as _resolve_manifest,
        write_with_retry,
    )

    t = str(tmp_path / "race")
    versioned_write(spark, _df(spark, [0]), t, delta_min_files=1, checkpoint_every=4)

    def writer(lo: int) -> list[int]:
        out = []
        for k in range(4):  # 2 writers x 4 batches → 9 versions (spans v4, v8)
            ids = [lo + 10 * k + j for j in range(2)]
            man = write_with_retry(
                spark,
                _df(spark, ids),
                t,
                retries=10,
                delta_min_files=1,
                checkpoint_every=4,
            )
            out.append(man["version"])
        return out

    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(writer, 100)
        f2 = pool.submit(writer, 200)
        v1, v2 = f1.result(timeout=300), f2.result(timeout=300)

    versions = _list_versions(spark, t)
    assert versions == list(range(1, 10))  # 1 seed + 8 batches, no gaps
    assert sorted(v1 + v2) == list(range(2, 10))  # every batch won exactly once
    for v in versions:
        man = _resolve_manifest(spark, t, v)  # must never raise
        assert man["files"], v
        raw = _read_manifest(spark, t, v)
        if v % 4 == 0 or v == 1:
            assert "delta_of" not in raw, v  # forced full at the cadence
        else:
            assert raw["delta_of"] == v - 1, v
    expected = {0}
    for lo in (100, 200):
        expected |= {lo + 10 * k + j for k in range(4) for j in range(2)}
    assert set(_ids(read_table(spark, t))) == expected
    fs, log_p, _ = _fs_path(spark, t + "/_log")
    names = [st.getPath().getName() for st in fs.listStatus(log_p)]
    assert not [n for n in names if n.startswith(".ctmp-") or n.startswith(".tmp-")]


def test_merge_rejects_retyped_updates(spark, tmp_path):
    """Code-review r8: names alone let unionByName WIDEN a type mismatch
    (long+double → double), writing files the manifest-pinned schema can
    no longer read — the merge must refuse up front, not poison latest."""
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)
    with pytest.raises(ValueError, match="retype"):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(1.0, "x")], "id double, s string"),
            key_col="id",
        )
    # the table is untouched — still version 1, still readable
    assert _ids(read_table(spark, t)) == [1, 2]


def test_merge_empty_updates_is_a_noop(spark, tmp_path):
    """Code-review r8: a CDC/erasure job computing zero keys on a quiet
    day must not crash — and must not publish a pointless version."""
    from procurement_data_pipeline_spark.operators.versioning import (
        latest_version,
        merge_into,
    )

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t)
    empty = spark.createDataFrame([], "id long, s string")
    for mode in ("update", "delete"):
        man = merge_into(spark, t, empty, key_col="id", when_matched=mode)
        assert man["version"] == 1          # the CURRENT manifest, unchanged
    assert latest_version(spark, t) == 1    # no version was published
    assert _ids(read_table(spark, t)) == [1, 2]


def test_append_accepts_reordered_and_renullabled_schema(spark, tmp_path):
    """Code-review r8: parquet resolves columns by NAME — a reordered
    select or a tightened nullable flag is the same table shape and must
    append cleanly (the old raw JSON-string compare rejected it with a
    misleading merge_schema suggestion)."""
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    # reordered columns, and s non-nullable (createDataFrame from
    # literals yields nullable=True; select of a literal gives False)
    from pyspark.sql import functions as F

    reordered = (
        spark.range(2, 3)
        .select(
            F.lit("r2").alias("s"),
            F.col("id").cast("long").alias("id"),
        )
    )
    man = versioned_write(spark, reordered, t, mode="append")
    assert man["version"] == 2
    got = read_table(spark, t)
    assert _ids(got) == [1, 2]
    assert {r["s"] for r in got.collect()} == {"r1", "r2"}
    # the pinned table schema survives verbatim (no silent evolution):
    # a later vanilla append publishes the exact original schema JSON
    man3 = versioned_write(spark, _df(spark, [9]), t, mode="append")
    assert json.loads(man3["schema"]) == json.loads(man["schema"])
    assert [f["name"] for f in json.loads(man["schema"])["fields"]] == ["id", "s"]


def test_cluster_by_stats_autoadd_with_inherited_stats(spark, tmp_path):
    """Code-review r8: the documented cluster_by→stats auto-add must also
    fire when stats_cols arrive by sticky INHERITANCE — otherwise the
    append pays the clustering shuffle but publishes no bounds for the
    cluster keys and plan_scan prunes nothing on exactly those columns."""
    from procurement_data_pipeline_spark.operators.versioning import plan_scan

    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1, 2]), t, stats_cols=["id"])
    big = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10, 40)], "id long, s string"
    )
    man = versioned_write(
        spark, big, t, mode="append", cluster_by=["s"], cluster_files=4
    )
    assert "s" in man["stats_cols"]          # auto-added to the sticky set
    # and the new files' s-bounds actually prune
    kept, total = plan_scan(spark, t, "s", "r10", "r10")
    assert len(kept) < total


def test_expected_base_pins_the_read_snapshot(spark, tmp_path):
    """Code-review r8: a writer that pins the snapshot it computed from
    must lose with ConcurrentWriteError whenever the table advanced after
    that read — not just when racing the publish instant."""
    from procurement_data_pipeline_spark.operators.versioning import (
        ConcurrentWriteError,
        latest_version,
    )

    t = str(tmp_path / "tbl")
    # pin on an empty table: expected_base=None targets version 1
    m1 = versioned_write(spark, _df(spark, [1]), t, expected_base=None)
    assert m1["version"] == 1
    # fresh pin commits cleanly
    m2 = versioned_write(spark, _df(spark, [2]), t, expected_base=1)
    assert m2["version"] == 2 and m2["base_version"] == 1
    # stale pin (table advanced since the read) loses, table unpoisoned
    with pytest.raises(ConcurrentWriteError):
        versioned_write(spark, _df(spark, [3]), t, expected_base=1)
    assert latest_version(spark, t) == 2
    assert _ids(read_table(spark, t)) == [1, 2]


def test_pinned_write_into_vacuumed_slot_raises_not_silent(spark, tmp_path):
    """Advice r9: a pinned write whose expected_base+1 slot was EXPIRED by
    a vacuum between the caller's read and the commit used to publish
    "successfully" into the dead slot — the rows silently never joined
    latest. It must raise ConcurrentWriteError and leave no orphan
    manifest behind."""
    from procurement_data_pipeline_spark.operators.versioning import (
        list_versions as _list_versions,
    )

    t = str(tmp_path / "tbl")
    for i in range(1, 7):  # versions 1..6
        versioned_write(spark, _df(spark, [i]), t)
    # a pinned base whose manifest was vacuumed already fails loudly at
    # resolution time — that path was never silent
    vacuum(spark, t, keep_last=2)  # retained: 5, 6
    assert _list_versions(spark, t) == [5, 6]
    with pytest.raises(ValueError, match="vacuumed"):
        versioned_write(spark, _df(spark, [99]), t, expected_base=2)
    # the SILENT path: expected_base=None needs no base resolution, so a
    # caller who found no table before others created+vacuumed one would
    # publish into the expired slot 1 and report success
    with pytest.raises(ConcurrentWriteError, match="expired"):
        versioned_write(spark, _df(spark, [99]), t, expected_base=None)
    # the orphan was unpublished: slot 1 is empty again, latest unchanged
    assert _list_versions(spark, t) == [5, 6]
    assert latest_version(spark, t) == 6
    assert 99 not in _ids(read_table(spark, t))


def test_pinned_write_succeeds_when_slot_is_genuinely_next(spark, tmp_path):
    """The liveness check must not fire on the normal path: a pinned write
    targeting the true next slot commits and IS the new latest."""
    t = str(tmp_path / "tbl")
    versioned_write(spark, _df(spark, [1]), t)
    m = versioned_write(spark, _df(spark, [2]), t, expected_base=1)
    assert m["version"] == 2 == latest_version(spark, t)
    assert "commit_id" in m and m["base_commit_id"] is not None
    # chained successors record their parent's commit id
    m3 = versioned_write(spark, _df(spark, [3]), t, expected_base=2)
    assert m3["base_commit_id"] == m["commit_id"]


def test_merge_composite_key_small_and_backfill(spark, tmp_path, monkeypatch):
    """VERDICT r8 item 5: composite merge keys (key_col as a LIST) — the
    match is the per-column conjunction, uniqueness/non-null validation
    applies to the tuple, and the backfill path stays driver-key-free
    (collect-size interceptor over a 100k-tuple delete)."""
    from pyspark.sql import functions as F

    from procurement_data_pipeline_spark.operators.versioning import merge_into

    # small path: composite upsert
    t = str(tmp_path / "ck")
    base = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30), (None, "a", 99)],
        "k1 int, k2 string, v int",
    )
    versioned_write(spark, base, t)
    ups = spark.createDataFrame(
        [(1, "a", 100), (3, "c", 300)], "k1 int, k2 string, v int"
    )
    man = merge_into(spark, t, ups, key_col=["k1", "k2"])
    assert man["merge"]["key_cols"] == ["k1", "k2"]
    got = {(r.k1, r.k2): r.v for r in read_table(spark, t).collect()}
    assert got == {
        (1, "a"): 100,  # matched tuple replaced
        (1, "b"): 20,   # same k1, different k2 — NOT matched
        (2, "a"): 30,
        (None, "a"): 99,  # NULL-keyed row survives
        (3, "c"): 300,  # new tuple inserted
    }
    # tuple-level validation: NULL in ANY key column refuses
    bad = spark.createDataFrame([(1, None, 5)], "k1 int, k2 string, v int")
    with pytest.raises(ValueError, match="non-null"):
        merge_into(spark, t, bad, key_col=["k1", "k2"])
    # duplicate TUPLE refuses; same k1 with different k2 is fine
    dup = spark.createDataFrame(
        [(7, "x", 1), (7, "x", 2)], "k1 int, k2 string, v int"
    )
    with pytest.raises(ValueError, match="key-unique"):
        merge_into(spark, t, dup, key_col=["k1", "k2"])
    okonce = spark.createDataFrame(
        [(7, "x", 1), (7, "y", 2)], "k1 int, k2 string, v int"
    )
    merge_into(spark, t, okonce, key_col=["k1", "k2"])
    assert read_table(spark, t).filter("k1 = 7").count() == 2

    # backfill path: >=100k composite-key delete, zero driver key lists
    tb = str(tmp_path / "ckbig")
    big = spark.range(0, 150_000).select(
        F.col("id").alias("k1"),
        (F.col("id") % 7).cast("string").alias("k2"),
        F.lit(1).alias("v"),
    ).repartition(4)
    nullrow = spark.createDataFrame(
        [(None, "0", 9)], "k1 long, k2 string, v int"
    )
    versioned_write(spark, big.unionByName(nullrow), tb)

    _dfcls = type(spark.range(1))
    sizes: list[int] = []
    real_collect = _dfcls.collect

    def counting_collect(self):
        out = real_collect(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(_dfcls, "collect", counting_collect)
    dels = spark.range(25_000, 130_000).select(
        F.col("id").alias("k1"),
        (F.col("id") % 7).cast("string").alias("k2"),
    )
    man = merge_into(spark, tb, dels, key_col=["k1", "k2"], when_matched="delete")
    assert sizes and max(sizes) <= man["n_files"] + len(man.get("removes", [])) + 8, sizes
    assert man["merge"]["n_keys"] == 105_000
    monkeypatch.setattr(_dfcls, "collect", real_collect)
    got = read_table(spark, tb)
    assert got.count() == 150_000 - 105_000 + 1
    assert got.filter("k1 IS NULL").count() == 1
    assert got.filter("k1 >= 25000 AND k1 < 130000").count() == 0


def test_merge_conditional_update_matches_duckdb_twin(spark, tmp_path):
    """Conditional MERGE (WHEN MATCHED AND cond THEN UPDATE SET * / WHEN
    NOT MATCHED THEN INSERT) against a DuckDB UPDATE...FROM + anti-INSERT
    twin on identical inputs: matched rows passing the TARGET-row
    condition take the update values, failing rows carry, new keys
    insert. Duplicate-keyed target rows update per-row (no collapse)."""
    import duckdb

    from procurement_data_pipeline_spark.operators.versioning import merge_into

    base_rows = [
        (1, "open", 10),
        (2, "closed", 20),
        (3, "open", 30),
        (3, "open", 31),     # duplicate key in the TARGET: per-row update
        (4, "closed", 40),
        (None, "open", 99),  # NULL key: never matched
    ]
    upd_rows = [
        (1, "open", 111),    # matched, cond true  -> updated
        (2, "open", 222),    # matched, cond false (target closed) -> carried
        (3, "open", 333),    # matched twice, both open -> both updated
        (5, "open", 555),    # unmatched -> inserted
    ]
    t = str(tmp_path / "cond")
    schema = "id int, status string, v int"
    versioned_write(spark, spark.createDataFrame(base_rows, schema), t)
    merge_into(
        spark,
        t,
        spark.createDataFrame(upd_rows, schema),
        key_col="id",
        when_matched_condition="status <> 'closed'",
    )
    got = sorted(
        ((r.id, r.status, r.v) for r in read_table(spark, t).collect()),
        key=lambda x: (x[0] is None, x),
    )

    con = duckdb.connect()
    con.execute(f"CREATE TABLE tgt (id int, status varchar, v int)")
    con.executemany("INSERT INTO tgt VALUES (?,?,?)", base_rows)
    con.execute("CREATE TABLE src (id int, status varchar, v int)")
    con.executemany("INSERT INTO src VALUES (?,?,?)", upd_rows)
    con.execute(
        "UPDATE tgt SET status = src.status, v = src.v FROM src "
        "WHERE tgt.id = src.id AND tgt.status <> 'closed'"
    )
    con.execute(
        "INSERT INTO tgt SELECT * FROM src "
        "WHERE id NOT IN (SELECT id FROM tgt WHERE id IS NOT NULL)"
    )
    want = sorted(
        (tuple(r) for r in con.execute("SELECT * FROM tgt").fetchall()),
        key=lambda x: (x[0] is None, x),
    )
    assert got == want
    # spot-check the headline semantics directly
    asmap = {}
    for r in got:
        asmap.setdefault(r[0], []).append(r)
    assert asmap[1] == [(1, "open", 111)]
    assert asmap[2] == [(2, "closed", 20)]       # carried: cond false
    assert asmap[3] == [(3, "open", 333)] * 2    # per-row update
    assert asmap[5] == [(5, "open", 555)]        # inserted
    assert asmap[None] == [(None, "open", 99)]   # NULL key untouched


def test_merge_conditional_delete(spark, tmp_path):
    """Conditional delete: matched AND condition → removed; matched rows
    failing the condition carry; composite keys compose with it."""
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "cdel")
    base = spark.createDataFrame(
        [(1, "a", "stale"), (1, "b", "fresh"), (2, "a", "stale"), (None, "a", "stale")],
        "k1 int, k2 string, state string",
    )
    versioned_write(spark, base, t)
    dels = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a")], "k1 int, k2 string"
    )
    merge_into(
        spark,
        t,
        dels,
        key_col=["k1", "k2"],
        when_matched="delete",
        when_matched_condition="state = 'stale'",
    )
    got = sorted(
        ((r.k1, r.k2, r.state) for r in read_table(spark, t).collect()),
        key=lambda x: (x[0] is None, x),
    )
    assert got == [(1, "b", "fresh"), (None, "a", "stale")]


def test_merge_read_modify_same_lineage_conditional_and_composite(
    spark, tmp_path
):
    """ADVICE r10: when ``updates`` derives from a READ OF THE SAME TABLE
    (read-modify-merge), the conditional-update insert anti-join and the
    conditional/composite join conditions must not trip same-lineage
    attribute-resolution ambiguity — all target/source refs are
    plain-name columns against a renamed side, never attribute refs."""
    from pyspark.sql import functions as F

    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "rmw")
    versioned_write(
        spark,
        spark.createDataFrame(
            [(1, "open", 10), (2, "closed", 20), (3, "open", 30)],
            "id int, status string, v int",
        ),
        t,
    )
    # conditional UPDATE whose updates are a transform of the table read
    ups = read_table(spark, t).withColumn("v", F.col("v") + 100)
    merge_into(
        spark, t, ups, key_col="id",
        when_matched_condition="status <> 'closed'",
    )
    got = {r.id: r.v for r in read_table(spark, t).collect()}
    assert got == {1: 110, 2: 20, 3: 130}

    # composite-key conditional DELETE whose keys come from the same read
    t2 = str(tmp_path / "rmw2")
    versioned_write(
        spark,
        spark.createDataFrame(
            [(1, "a", "stale"), (1, "b", "fresh"), (2, "a", "stale")],
            "k1 int, k2 string, state string",
        ),
        t2,
    )
    dels = read_table(spark, t2).select("k1", "k2")
    merge_into(
        spark, t2, dels, key_col=["k1", "k2"],
        when_matched="delete", when_matched_condition="state = 'stale'",
    )
    assert [
        (r.k1, r.k2) for r in read_table(spark, t2).collect()
    ] == [(1, "b")]


def test_committed_at_and_timestamp_resolution(spark, tmp_path, monkeypatch):
    """VERDICT r9 item 3: every publish records committed_at_ms;
    version_as_of_timestamp resolves the greatest version committed at or
    before ts, with Delta's running-max adjustment for non-monotonic
    clocks, and refuses a timestamp before the first retained commit."""
    import datetime

    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.tablelog import manifest_uri
    from procurement_data_pipeline_spark.storage import read_text
    from tests.hadoop_fs import fs_path

    t = str(tmp_path / "ts")
    clock = iter([1_000, 5_000, 3_000])  # v3's clock stepped BACKWARD
    monkeypatch.setattr(V, "_now_ms", lambda: next(clock))
    versioned_write(spark, _df(spark, [1]), t)
    versioned_write(spark, _df(spark, [2]), t)
    versioned_write(spark, _df(spark, [3]), t)
    recorded = [
        V.read_manifest(spark, t, v)["committed_at_ms"] for v in (1, 2, 3)
    ]
    assert recorded == [1_000, 5_000, 3_000]

    # between-commits instants resolve to the version current THEN;
    # the non-monotonic v3 adjusts up to v2's 5000 (never backward)
    assert V.version_as_of_timestamp(spark, t, 1_000) == 1
    assert V.version_as_of_timestamp(spark, t, 4_999) == 1  # v2 is at 5000
    assert V.version_as_of_timestamp(spark, t, 5_000) == 3  # eff(v3)=5000
    assert V.version_as_of_timestamp(spark, t, 10_000_000) == 3
    with pytest.raises(ValueError, match="precedes the first retained"):
        V.version_as_of_timestamp(spark, t, 999)
    # ISO string and datetime forms (naive = UTC)
    iso = datetime.datetime.fromtimestamp(
        5.0, tz=datetime.timezone.utc
    ).isoformat()
    assert V.version_as_of_timestamp(spark, t, iso) == 3
    assert V.version_as_of_timestamp(
        spark, t, datetime.datetime.fromtimestamp(4.9, tz=datetime.timezone.utc)
    ) == 1
    with pytest.raises(TypeError):
        V.version_as_of_timestamp(spark, t, [5000])

    # pre-upgrade manifests (no committed_at_ms) count as epoch 0:
    # reachable by version pinning, older than any real timestamp
    raw = json.loads(
        read_text(spark, manifest_uri(t, 1))
    )
    raw.pop("committed_at_ms")
    fs, p, _ = fs_path(spark, manifest_uri(t, 1))
    fs.delete(p, False)
    _write_text(spark, manifest_uri(t, 1), json.dumps(raw))
    assert V.version_as_of_timestamp(spark, t, 999) == 1  # epoch-0 prefix


def test_merge_update_set_matches_duckdb_twin(spark, tmp_path):
    """Partial-column MERGE (VERDICT r9 item 5): WHEN MATCHED [AND cond]
    THEN UPDATE SET col = expr — expressions referencing BOTH sides
    (t.col / s.col / bare = target), unlisted columns untouched, new
    keys inserted whole — against a DuckDB UPDATE ... FROM twin."""
    import duckdb

    from procurement_data_pipeline_spark.operators.versioning import merge_into

    base_rows = [
        (1, "open", 10, 100),
        (2, "closed", 20, 200),
        (3, "open", 30, 300),
        (None, "open", 99, 999),  # NULL key: never matched
    ]
    upd_rows = [
        (1, "ignored", 1000, 7),   # matched, cond true → SET applies
        (2, "ignored", 2000, 7),   # matched, cond false → carried whole
        (5, "new", 5000, 7),       # unmatched → inserted AS-IS
    ]
    schema = "id int, status string, v int, w int"
    t = str(tmp_path / "us")
    versioned_write(spark, spark.createDataFrame(base_rows, schema), t)
    man = merge_into(
        spark,
        t,
        spark.createDataFrame(upd_rows, schema),
        key_col="id",
        when_matched_condition="status <> 'closed'",
        update_set={"v": "t.v + s.v", "status": "'merged'"},
    )
    assert man["merge"]["update_set"] == {"v": "t.v + s.v", "status": "'merged'"}
    got = sorted(
        ((r.id, r.status, r.v, r.w) for r in read_table(spark, t).collect()),
        key=lambda x: (x[0] is None, x),
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE tgt (id int, status varchar, v int, w int)")
    con.executemany("INSERT INTO tgt VALUES (?,?,?,?)", base_rows)
    con.execute("CREATE TABLE src (id int, status varchar, v int, w int)")
    con.executemany("INSERT INTO src VALUES (?,?,?,?)", upd_rows)
    con.execute(
        "UPDATE tgt SET v = tgt.v + src.v, status = 'merged' FROM src "
        "WHERE tgt.id = src.id AND tgt.status <> 'closed'"
    )
    con.execute(
        "INSERT INTO tgt SELECT * FROM src "
        "WHERE id NOT IN (SELECT id FROM tgt WHERE id IS NOT NULL)"
    )
    want = sorted(
        (tuple(r) for r in con.execute("SELECT * FROM tgt").fetchall()),
        key=lambda x: (x[0] is None, x),
    )
    assert got == want
    # headline semantics spot-check: v summed, status set, w UNTOUCHED
    asmap = {r[0]: r for r in got}
    assert asmap[1] == (1, "merged", 1010, 100)
    assert asmap[2] == (2, "closed", 20, 200)
    assert asmap[5] == (5, "new", 5000, 7)
    assert asmap[None] == (None, "open", 99, 999)

    # unconditional SET (no when_matched_condition): every match applies
    merge_into(
        spark,
        t,
        spark.createDataFrame([(2, "x", 1, 1)], schema),
        key_col="id",
        update_set={"w": "s.w + 5"},
    )
    asmap = {r.id: r for r in read_table(spark, t).collect()}
    assert (asmap[2].w, asmap[2].v, asmap[2].status) == (6, 20, "closed")

    # type pinning: an expression whose natural type widens (int + 0.5)
    # casts back to the column's table type — reads stay manifest-clean
    merge_into(
        spark,
        t,
        spark.createDataFrame([(1, "x", 1, 1)], schema),
        key_col="id",
        update_set={"v": "t.v + 0.9"},
    )
    got1 = {r.id: r for r in read_table(spark, t).collect()}[1]
    assert got1.v == 1010  # 1010.9 cast back to int
    assert dict(read_table(spark, t).dtypes)["v"] == "int"


def test_merge_update_set_guards(spark, tmp_path):
    """update_set rejects delete mode, merge-on-read, empty/unknown/key
    columns — loudly, before any data IO."""
    from procurement_data_pipeline_spark.operators.versioning import merge_into

    t = str(tmp_path / "g")
    versioned_write(
        spark, spark.createDataFrame([(1, 1)], "id int, v int"), t
    )
    ups = spark.createDataFrame([(1, 2)], "id int, v int")
    with pytest.raises(ValueError, match="when_matched='update'"):
        merge_into(spark, t, ups, key_col="id", when_matched="delete",
                   update_set={"v": "1"})
    with pytest.raises(ValueError, match="copy-on-write"):
        merge_into(spark, t, ups, key_col="id",
                   strategy="merge-on-read", update_set={"v": "1"})
    with pytest.raises(ValueError, match="at least one column"):
        merge_into(spark, t, ups, key_col="id", update_set={})
    with pytest.raises(ValueError, match="merge key"):
        merge_into(spark, t, ups, key_col="id", update_set={"id": "1"})
    with pytest.raises(ValueError, match="not in the table"):
        merge_into(spark, t, ups, key_col="id", update_set={"zz": "1"})


def test_translate_update_expr_boundaries():
    """s./t. alias rewriting skips string literals and backtick
    identifiers and requires a token boundary — same scanner discipline
    as the SQL time-travel rewriter."""
    from procurement_data_pipeline_spark.operators.versioning import (
        _translate_update_expr as tr,
    )

    assert tr("t.v + s.v") == "v + _mu_v"
    assert tr("s.a*2 + t.b - c") == "_mu_a*2 + b - c"
    assert tr("concat(x, 's.literal')") == "concat(x, 's.literal')"
    assert tr('"t.also literal" || s.y') == '"t.also literal" || _mu_y'
    assert tr("foo.s.bar") == "foo.s.bar"      # qualified tail: no match
    assert tr("xs.col + ts.col") == "xs.col + ts.col"  # identifier tail
    assert tr("`s.q` + s.q") == "`s.q` + _mu_q"
    assert tr("'it''s.fine' = s.z") == "'it''s.fine' = _mu_z"


def test_clone_shallow_and_deep(spark, tmp_path):
    """CLONE: shallow publishes a dst manifest referencing the source's
    files (zero copy) and stays correct through MOR delete entries and
    birth scoping; deep materializes the content with no source
    dependency. Either way the clone is an independent table: writes at
    dst never appear at src, and dst's vacuum never deletes src data."""
    from procurement_data_pipeline_spark.operators.versioning import (
        resolve_manifest as _resolve_manifest,
        clone_table,
        merge_into,
        vacuum,
    )

    src = str(tmp_path / "src")
    versioned_write(spark, _df(spark, [1, 2, 3, 4]), src)
    merge_into(  # MOR delete id 2, then rebirth it — the scoping case
        spark, src, spark.createDataFrame([(2,), (3,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    merge_into(
        spark, src, _df(spark, [2]),
        key_col="id", when_matched="update", strategy="merge-on-read",
    )
    assert _ids(read_table(spark, src)) == [1, 2, 4]

    shallow = str(tmp_path / "shallow")
    man = clone_table(spark, src, shallow)
    assert man["op"] == "clone" and man["clone_src_version"] == 3
    assert _ids(read_table(spark, shallow)) == [1, 2, 4]
    # zero-copy: the dst manifest references the SOURCE's files
    assert set(man["files"]) == set(_resolve_manifest(spark, src, 3)["files"])

    deep = str(tmp_path / "deep")
    clone_table(spark, src, deep, deep=True)
    dman = _resolve_manifest(spark, deep, 1)
    assert _ids(read_table(spark, deep)) == [1, 2, 4]
    assert "deletes" not in dman  # materialized, no entries carried
    assert all(f.startswith("file:" + deep) for f in dman["files"])

    # version pinning: clone of v1 sees the pre-delete table
    v1clone = str(tmp_path / "v1c")
    clone_table(spark, src, v1clone, version=1)
    assert _ids(read_table(spark, v1clone)) == [1, 2, 3, 4]

    # independence: append at the shallow clone; src latest unchanged
    versioned_write(spark, _df(spark, [99]), shallow)
    assert _ids(read_table(spark, shallow)) == [1, 2, 4, 99]
    assert _ids(read_table(spark, src)) == [1, 2, 4]
    # dst vacuum sweeps only dst commit dirs — src data survives
    versioned_write(spark, _df(spark, [100]), shallow)
    vacuum(spark, shallow, keep_last=1)
    assert _ids(read_table(spark, src)) == [1, 2, 4]

    # refuse to clone ONTO an existing table
    with pytest.raises(ValueError, match="already a versioned table"):
        clone_table(spark, src, shallow)


def test_clone_shallow_version_domain(spark, tmp_path):
    """ADVICE r10 high: a shallow clone publishes at the SOURCE'S version
    number, so post-clone writes land strictly OUTSIDE the carried
    version domain. Two scoping cases that silently corrupted when the
    clone published at version 1:

    (a) a key MOR-deleted at src BEFORE the clone, re-appended at dst
        AFTER it, must survive — the append's birth version exceeds the
        carried delete entry's version;
    (b) a NEW MOR delete at dst must mask carried files born at src
        version >= 2 — the new entry's version exceeds every carried
        birth."""
    from procurement_data_pipeline_spark.operators.versioning import (
        clone_table,
        merge_into,
    )

    src = str(tmp_path / "src")
    versioned_write(spark, _df(spark, [1, 2, 3]), src)          # v1
    versioned_write(spark, _df(spark, [4]), src)                # v2 (birth 2)
    merge_into(  # v3: MOR delete id 2 — entry version 3
        spark, src, spark.createDataFrame([(2,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    assert _ids(read_table(spark, src)) == [1, 3, 4]

    dst = str(tmp_path / "dst")
    man = clone_table(spark, src, dst)
    assert man["version"] == 3  # published AT the source version
    assert latest_version(spark, dst) == 3

    # (a) re-append the once-deleted key: birth 4 > entry version 3
    versioned_write(spark, _df(spark, [2]), dst)
    assert _ids(read_table(spark, dst)) == [1, 2, 3, 4]

    # (b) new MOR delete at dst of a key living in a carried file born
    # at src v2: entry version 5 > birth 2 — must actually mask
    merge_into(
        spark, dst, spark.createDataFrame([(4,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    assert _ids(read_table(spark, dst)) == [1, 2, 3]
    # src untouched by any of it
    assert _ids(read_table(spark, src)) == [1, 3, 4]


def test_consolidate_deletes_merges_runs_and_respects_rebirths(
    spark, tmp_path
):
    """MOR delete-entry consolidation (VERDICT r10 item 7): N consecutive
    pure deletes collapse to ONE entry (reads pay one anti-join instead
    of N), reads are unchanged, describe_deletes reflects it — and a
    rebirth (upsert of a once-deleted key) FENCES the run, because moving
    the older entry past the upsert's birth would re-delete the reborn
    rows."""
    from procurement_data_pipeline_spark.operators.versioning import (
        consolidate_deletes,
        describe_deletes,
        merge_into,
    )

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, list(range(1, 11))), t)  # v1
    for k in (2, 3, 4):  # v2..v4: three pure MOR deletes
        merge_into(
            spark, t, spark.createDataFrame([(k,)], "id long"),
            key_col="id", when_matched="delete", strategy="merge-on-read",
        )
    assert describe_deletes(spark, t)["entry_count"] == 3
    before = _ids(read_table(spark, t))
    man = consolidate_deletes(spark, t)  # v5
    assert man["op"] == "consolidate_deletes"
    d = describe_deletes(spark, t)
    assert d["entry_count"] == 1 and d["total_keys"] == 3
    assert _ids(read_table(spark, t)) == before == [1, 5, 6, 7, 8, 9, 10]
    # idempotent: nothing left to merge, no version published
    assert consolidate_deletes(spark, t)["version"] == man["version"]

    # rebirth fence: delete 5 (v6), upsert 5 back (v7: entry + upserted
    # file born at 7), delete 6 (v8). Merging v6's entry past v7's birth
    # would mask the reborn 5 — the run must split there.
    merge_into(
        spark, t, spark.createDataFrame([(5,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    merge_into(
        spark, t, _df(spark, [5]),
        key_col="id", when_matched="update", strategy="merge-on-read",
    )
    merge_into(
        spark, t, spark.createDataFrame([(6,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    assert describe_deletes(spark, t)["entry_count"] == 4
    consolidate_deletes(spark, t)
    d = describe_deletes(spark, t)
    # the run [v4-merged, v6, v7] merges (no data file born in [4,7) —
    # masking keys {2,3,4,5} below birth 7 spares the reborn 5's file,
    # born exactly AT 7), then v7's birth fences v8's entry out
    assert d["entry_count"] == 2
    assert _ids(read_table(spark, t)) == [1, 5, 7, 8, 9, 10]
    # SQL surface
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    sql(spark, f"CALL versioned.consolidate('{t}')")
    assert _ids(read_table(spark, t)) == [1, 5, 7, 8, 9, 10]


def test_optimize_rebases_over_interleaved_append(spark, tmp_path, monkeypatch):
    """OCC rebase (VERDICT r10 item 6): an append that lands while an
    OPTIMIZE is compacting does not waste the rewrite — the optimize
    re-reads the head, carries the interleaved append's files verbatim,
    and republishes at head+1. Both writers' rows survive, no user-level
    retry."""
    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.tablelog import file_birth

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [1, 2]), t)  # v1
    versioned_write(spark, _df(spark, [3]), t)  # v2

    real_publish = V._publish
    state = {"injected": False}

    def racing_publish(spark_, path, manifest):
        if manifest.get("op") == "optimize" and not state["injected"]:
            state["injected"] = True  # before the write: its own publish
            versioned_write(spark, _df(spark, [99]), t)  # steals v3
        return real_publish(spark_, path, manifest)

    monkeypatch.setattr(V, "_publish", racing_publish)
    man = V.optimize_table(spark, t, target_files=1)
    assert state["injected"]
    assert man["op"] == "optimize" and man["version"] == 4
    assert man["base_version"] == 3  # rebased onto the interleaved head
    assert _ids(read_table(spark, t)) == [1, 2, 3, 99]
    # the interleaved append's file carried VERBATIM (born at v3, not
    # rewritten by a commit that planned before it existed)
    v3_adds = [
        f for f in man["files"] if file_birth(man["births"], f) == 3
    ]
    assert v3_adds and all("commit-00000003" in f for f in v3_adds)


def test_optimize_conflict_with_non_append_still_raises(
    spark, tmp_path, monkeypatch
):
    """A non-append interleaver (here a MERGE delete) cannot be rebased
    over — the optimize discards its rewrite and raises; the table keeps
    the merge's effect untouched."""
    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.versioning import (
        ConcurrentWriteError,
        merge_into,
    )

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [1, 2, 3]), t)  # v1

    real_publish = V._publish
    state = {"injected": False}

    def racing_publish(spark_, path, manifest):
        if manifest.get("op") == "optimize" and not state["injected"]:
            state["injected"] = True
            merge_into(  # steals v2 with a rewrite
                spark, t, spark.createDataFrame([(2,)], "id long"),
                key_col="id", when_matched="delete",
            )
        return real_publish(spark_, path, manifest)

    monkeypatch.setattr(V, "_publish", racing_publish)
    with pytest.raises(ConcurrentWriteError):
        V.optimize_table(spark, t, target_files=1)
    assert _ids(read_table(spark, t)) == [1, 3]  # merge intact
    assert latest_version(spark, t) == 2


def test_vacuum_retain_hours_age_boundary(spark, tmp_path, monkeypatch):
    """VACUUM RETAIN N HOURS (VERDICT r10 item 5): keeps every version
    whose effective commit timestamp is inside the horizon, composes as a
    floor with keep_last, and dry run reports the same split without
    touching anything."""
    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    HOUR = 3_600_000
    t = str(tmp_path / "t")
    clock = iter([1 * HOUR, 2 * HOUR, 3 * HOUR, 10 * HOUR])
    monkeypatch.setattr(V, "_now_ms", lambda: next(clock))
    versioned_write(spark, _df(spark, [1]), t, mode="overwrite")  # v1 @ 1h
    versioned_write(spark, _df(spark, [2]), t, mode="overwrite")  # v2 @ 2h
    versioned_write(spark, _df(spark, [3]), t, mode="overwrite")  # v3 @ 3h
    # vacuum "now" = 10h, retain 8h → horizon 2h: v2 (exactly at the
    # boundary, inclusive) and v3 stay by age; keep_last=1 floor is lower
    dry = V.vacuum(
        spark, t, keep_last=1, retain_hours=8, dry_run=True
    )
    assert dry["expired_versions"] == 1 and dry["dry_run"] is True
    # dry run touched nothing
    assert _list_versions_of(spark, t) == [1, 2, 3]
    monkeypatch.setattr(V, "_now_ms", lambda: 10 * HOUR)
    res = V.vacuum(spark, t, keep_last=1, retain_hours=8)
    assert res == {
        "expired_versions": 1, "deleted_files": dry["deleted_files"],
    }
    assert _list_versions_of(spark, t) == [2, 3]
    assert _ids(read_table(spark, t, version=2)) == [2]
    # keep_last floor still applies when the horizon would keep less
    res = V.vacuum(spark, t, keep_last=2, retain_hours=0)
    assert res == {"expired_versions": 0, "deleted_files": 0}
    # SQL surface passes retain_hours through
    versioned_write(spark, _df(spark, [4]), t, mode="overwrite")  # v4 @10h
    monkeypatch.setattr(V, "_now_ms", lambda: 20 * HOUR)
    row = sql(
        spark,
        f"CALL versioned.vacuum('{t}', keep_last => 1, retain_hours => 5)",
    ).collect()[0]
    assert row.expired_versions == 2  # v2,v3 aged out; v4 retained
    assert _list_versions_of(spark, t) == [4]


def _list_versions_of(spark, t):
    from procurement_data_pipeline_spark.operators.versioning import (
        list_versions as _list_versions,
    )

    return _list_versions(spark, t)


def test_vacuum_dry_run_reports_without_touching(spark, tmp_path):
    """VACUUM DRY RUN: same counts as the real run would produce, zero
    mutation — every version stays readable, no checkpoint appears."""
    from procurement_data_pipeline_spark.operators.versioning import (
        list_versions as _list_versions,
        vacuum,
    )

    t = str(tmp_path / "t")
    versioned_write(spark, _df(spark, [1]), t, mode="append")
    versioned_write(spark, _df(spark, [2]), t, mode="overwrite")
    versioned_write(spark, _df(spark, [3]), t, mode="overwrite")
    dry = vacuum(spark, t, keep_last=1, dry_run=True)
    assert dry["dry_run"] is True and dry["expired_versions"] == 2
    assert dry["deleted_files"] > 0
    # nothing happened: all versions still listed and readable
    assert _list_versions(spark, t) == [1, 2, 3]
    assert _ids(read_table(spark, t, version=1)) == [1]
    # the real run deletes exactly what the dry run predicted
    real = vacuum(spark, t, keep_last=1)
    assert real == {
        "expired_versions": dry["expired_versions"],
        "deleted_files": dry["deleted_files"],
    }
    assert _list_versions(spark, t) == [3]


def test_check_constraints_enforced_everywhere(spark, tmp_path):
    """CHECK constraints (Delta invariant shape): FALSE = violation, NULL
    passes; sticky inheritance; set-time full-table scan; enforcement on
    appends, MERGE rewrites, and merge-on-read upsert appends; a
    violation aborts pre-publish (no version, no orphan files); rollback
    restores the old constraint set; clones keep enforcing."""
    from procurement_data_pipeline_spark.operators.versioning import (
        list_versions as _list_versions,
        clone_table,
        merge_into,
    )

    t = str(tmp_path / "t")
    rows = lambda *vs: spark.createDataFrame(  # noqa: E731
        list(vs), "id long, v long"
    )
    versioned_write(
        spark, rows((1, 10), (2, None)), t, constraints=["v >= 0"]
    )  # NULL passes (SQL CHECK semantics)

    with pytest.raises(ValueError, match="CHECK constraint violation"):
        versioned_write(spark, rows((3, -5)), t)  # inherited + enforced
    assert _list_versions(spark, t) == [1]  # nothing published
    # ...and no orphan commit dir rows leak into a later read
    versioned_write(spark, rows((3, 30)), t)
    assert read_table(spark, t).count() == 3

    # MERGE upsert enforcement (COW rewrite path)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        merge_into(spark, t, rows((2, -1)), key_col="id")
    # merge-on-read upsert appends enforce too
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        merge_into(
            spark, t, rows((2, -1)), key_col="id", strategy="merge-on-read"
        )
    merge_into(spark, t, rows((2, 22)), key_col="id")
    assert {r.id: r.v for r in read_table(spark, t).collect()}[2] == 22

    # ADD CONSTRAINT semantics: a new list validates EXISTING data too
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        versioned_write(
            spark, rows((4, 40)), t, constraints=["v >= 0", "v < 20"]
        )  # existing v=30 violates the new bound
    # clearing then re-adding a satisfiable set works
    versioned_write(spark, rows((4, 40)), t, constraints=[])
    versioned_write(spark, rows((5, -50)), t)  # cleared: negatives pass

    # rollback restores the version's OWN constraint set
    from procurement_data_pipeline_spark.operators.versioning import (
        rollback,
        read_manifest as _read_manifest,
        latest_version,
    )

    rollback(spark, t, 3)
    assert _read_manifest(
        spark, t, latest_version(spark, t)
    )["constraints"] == ["v >= 0"]
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        versioned_write(spark, rows((9, -9)), t)

    # clones keep enforcing
    c = str(tmp_path / "c")
    clone_table(spark, t, c)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        versioned_write(spark, rows((9, -9)), c)


def test_add_constraint_validates_through_mor_deletes(spark, tmp_path):
    """ADVICE r10 low: ADD CONSTRAINT's full-table re-validation judges
    what a READER sees — a row masked by a live merge-on-read delete
    entry must not abort a constraint every actual read satisfies."""
    from procurement_data_pipeline_spark.operators.versioning import (
        merge_into,
    )

    t = str(tmp_path / "t")
    rows = lambda *vs: spark.createDataFrame(  # noqa: E731
        list(vs), "id long, v long"
    )
    versioned_write(spark, rows((1, 10), (2, -99)), t)
    merge_into(  # MOR delete the violating row — zero rewrites
        spark, t, spark.createDataFrame([(2,)], "id long"),
        key_col="id", when_matched="delete", strategy="merge-on-read",
    )
    # every read satisfies v >= 0 now; ADD CONSTRAINT must agree
    versioned_write(spark, rows((3, 30)), t, constraints=["v >= 0"])
    assert sorted(
        (r.id, r.v) for r in read_table(spark, t).collect()
    ) == [(1, 10), (3, 30)]
    # ...and still catches a LIVE violation among carried rows
    versioned_write(spark, rows((4, -4)), t, constraints=[])
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        versioned_write(spark, rows((5, 5)), t, constraints=["v >= 0"])


def test_history_exposes_commit_timestamps_and_read_table_timestamp(
    spark, tmp_path, monkeypatch
):
    """history() surfaces committed_at_ms (discovery surface for
    TIMESTAMP AS OF) and read_table accepts timestamp= directly."""
    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    t = str(tmp_path / "t")
    clock = iter([1_000, 2_000])
    monkeypatch.setattr(V, "_now_ms", lambda: next(clock))
    versioned_write(spark, _df(spark, [1]), t)
    versioned_write(spark, _df(spark, [2]), t)
    assert [h["committed_at_ms"] for h in history(spark, t)] == [1_000, 2_000]
    row = sql(spark, f"CALL versioned.history('{t}')").collect()[0]
    assert row.committed_at_ms == 1_000
    assert _ids(read_table(spark, t, timestamp=1_500)) == [1]
    with pytest.raises(ValueError, match="not both"):
        read_table(spark, t, version=1, timestamp=1_500)


def test_timestamp_forms_on_scan_and_cdf(spark, tmp_path, monkeypatch):
    """scan_table(timestamp=) and table_changes(from_timestamp=/
    to_timestamp=) resolve with Delta's asymmetric boundary semantics:
    startingTimestamp INCLUDES a commit landing exactly at T (first
    version at-or-after T), endingTimestamp is at-or-before-inclusive
    (ADVICE r10 low)."""
    from procurement_data_pipeline_spark.operators import versioning as V
    from procurement_data_pipeline_spark.operators.cdf import table_changes

    t = str(tmp_path / "t")
    clock = iter(range(1_000, 100_000, 1_000))
    monkeypatch.setattr(V, "_now_ms", lambda: next(clock))
    versioned_write(spark, _df(spark, [1, 2]), t)      # v1 @ 1000
    versioned_write(spark, _df(spark, [3]), t)         # v2 @ 2000
    versioned_write(spark, _df(spark, [4]), t)         # v3 @ 3000

    from procurement_data_pipeline_spark.operators.versioning import (
        scan_table,
    )

    assert _ids(scan_table(spark, t, "id", lo=0, timestamp=2_500)) == [1, 2, 3]
    with pytest.raises(ValueError, match="not both"):
        scan_table(spark, t, "id", version=1, timestamp=2_500)

    # changes since instant 1500 (v1 current then) = v2 + v3 adds
    got = table_changes(spark, t, from_timestamp=1_500)
    assert sorted(r.new_id for r in got.collect()) == [3, 4]
    assert {r.change_type for r in got.collect()} == {"insert"}
    # bounded above by an instant: (v1, v2]
    got = table_changes(spark, t, from_timestamp=1_500, to_timestamp=2_500)
    assert sorted(r.new_id for r in got.collect()) == [3]
    # Delta startingTimestamp boundary: a commit landing EXACTLY at T is
    # included (v2 @ 2000 is the first version at-or-after 2000)
    got = table_changes(spark, t, from_timestamp=2_000)
    assert sorted(r.new_id for r in got.collect()) == [3, 4]
    # T before every commit = bootstrap (everything is an insert)
    got = table_changes(spark, t, from_timestamp=500)
    assert sorted(r.new_id for r in got.collect()) == [1, 2, 3, 4]
    # T after the latest commit: no changes exist at-or-after it
    with pytest.raises(ValueError, match="after the latest commit"):
        table_changes(spark, t, from_timestamp=999_999_999)
    with pytest.raises(ValueError, match="from_version or from_timestamp"):
        table_changes(spark, t)
    with pytest.raises(ValueError, match="not both"):
        table_changes(spark, t, from_version=1, from_timestamp=1_500)
