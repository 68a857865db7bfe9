"""Exactly-once streaming appends onto the versioned table format."""

from __future__ import annotations

import shutil

import pytest

from procurement_data_pipeline_spark.operators.versioning import (
    history,
    read_table,
    versioned_write,
)
from procurement_data_pipeline_spark.streaming.versioned_sink import (
    last_committed_batch,
    stream_to_versioned_table,
)


def _write_sources(spark, src):
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").coalesce(
        1
    ).write.mode("append").parquet(src)
    spark.createDataFrame([(3, "c")], "id long, s string").coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _run(spark, src, table, ckpt):
    stream = (
        spark.readStream.schema("id long, s string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_to_versioned_table(stream, table, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_each_batch_is_one_version(spark, tmp_path):
    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_sources(spark, src)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == [1, 2, 3]
    hist = history(spark, table)
    assert [h["op"] for h in hist] == ["append", "append"]
    from procurement_data_pipeline_spark.streaming.versioned_sink import _qualify

    assert last_committed_batch(spark, table) == (_qualify(spark, ckpt), 1)
    # every microbatch is a time-travel point
    assert len(_ids(read_table(spark, table, version=1))) == 1 or len(
        _ids(read_table(spark, table, version=1))
    ) == 2  # file order determines which batch came first
    assert _ids(read_table(spark, table, version=2)) == [1, 2, 3]


def test_lost_checkpoint_replay_is_exactly_once(spark, tmp_path):
    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_sources(spark, src)
    _run(spark, src, table, ckpt)
    before = _ids(read_table(spark, table))
    n_versions = len(history(spark, table))
    # a LOST checkpoint (same location, contents gone) replays every batch
    # from scratch with the same monotone ids — the at-least-once worst
    # case; the sink must no-op because the stream identity still matches
    shutil.rmtree(ckpt)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == before
    assert len(history(spark, table)) == n_versions


def test_foreign_checkpoint_raises_instead_of_silent_skip(spark, tmp_path):
    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    _write_sources(spark, src)
    _run(spark, src, table, str(tmp_path / "ckpt1"))
    # a DIFFERENT checkpoint restarts batch ids at 0; batch-id-only replay
    # detection would silently drop every batch it delivers — the sink
    # must refuse loudly instead (StreamIdentityError inside foreachBatch
    # surfaces as the query's terminal exception)
    with pytest.raises(Exception, match="StreamIdentityError|not comparable"):
        _run(spark, src, table, str(tmp_path / "ckpt2"))
    assert _ids(read_table(spark, table)) == [1, 2, 3]  # table unharmed


def test_interleaved_batch_write_does_not_hide_stream_state(spark, tmp_path):
    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_sources(spark, src)
    _run(spark, src, table, ckpt)
    # a maintenance write (no stream_batch_id) lands on top
    extra_df = spark.createDataFrame([(9, "z")], "id long, s string")
    versioned_write(spark, extra_df, table, mode="append")
    from procurement_data_pipeline_spark.streaming.versioned_sink import _qualify

    # scans past the non-stream write
    assert last_committed_batch(spark, table) == (_qualify(spark, ckpt), 1)
    # replayed stream (lost checkpoint, same identity) still no-ops; the
    # manual row survives
    shutil.rmtree(ckpt)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == [1, 2, 3, 9]


def test_streaming_sink_maintains_sticky_stats(spark, tmp_path):
    """A table created with stats_cols keeps maintaining per-file stats
    through the streaming sink's appends (stats are sticky in
    versioned_write) — the microbatch files are immediately prunable."""
    from procurement_data_pipeline_spark.operators.versioning import (
        read_manifest as _read_manifest,
        latest_version,
        plan_scan,
    )

    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    seed = spark.createDataFrame([(0, "seed")], "id long, s string")
    versioned_write(spark, seed, table, stats_cols=["id"])
    _write_sources(spark, src)  # ids 1,2 then 3, one file per batch
    _run(spark, src, table, str(tmp_path / "ckpt"))
    man = _read_manifest(spark, table, latest_version(spark, table))
    assert man["stats_cols"] == ["id"]
    assert set(man["stats"]) == set(man["files"])
    kept, total = plan_scan(spark, table, "id", lo=3, hi=3)
    # only the one microbatch file that can hold id=3 survives the plan
    # (microbatches may split into several part files — don't assume 1:1)
    assert total == len(man["files"]) and len(kept) == 1


def test_streaming_sink_under_delta_manifests(spark, tmp_path, monkeypatch):
    """The streaming sink is the workload incremental manifests exist
    for (one commit per microbatch): under delta mode each microbatch
    logs only its adds, the stream identity keys survive in the raw
    delta manifests (so lost-checkpoint replay still no-ops), and reads
    resolve exactly."""
    from procurement_data_pipeline_spark.operators import tablelog
    from procurement_data_pipeline_spark.operators.versioning import (
        read_manifest as _read_manifest,
    )

    monkeypatch.setattr(tablelog, "_DELTA_MIN_FILES", 0)
    monkeypatch.setattr(tablelog, "_CHECKPOINT_EVERY", 100)
    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_sources(spark, src)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == [1, 2, 3]
    hist = history(spark, table)
    assert len(hist) == 2  # one version per microbatch (maxFilesPerTrigger=1)
    raw2 = _read_manifest(spark, table, 2)
    assert raw2["delta_of"] == 1 and raw2["adds"]  # O(batch) metadata
    # exactly-once under lost-checkpoint replay, same as full mode
    before = _ids(read_table(spark, table))
    shutil.rmtree(ckpt)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == before
    assert len(history(spark, table)) == 2


def test_replay_guard_survives_manifest_expiry(spark, tmp_path):
    """Code-review r8: vacuum after maintenance writes can expire every
    stream-tagged manifest; the durable batch cursor must still block a
    replayed batch from re-appending (and keep the identity check live)."""
    from procurement_data_pipeline_spark.operators.versioning import (
        list_versions as _list_versions,
        read_manifest as _read_manifest,
        optimize_table,
        vacuum,
    )

    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_sources(spark, src)
    _run(spark, src, table, ckpt)
    before = _ids(read_table(spark, table))
    assert before == [1, 2, 3]
    # two maintenance rewrites, then vacuum to 2 retained versions —
    # every retained manifest is op='optimize' with no stream tag
    optimize_table(spark, table, target_files=1)
    optimize_table(spark, table, target_files=1)
    vacuum(spark, table, keep_last=2)
    for v in _list_versions(spark, table):
        assert "stream_batch_id" not in _read_manifest(spark, table, v)
    # the durable cursor still knows the stream
    last = last_committed_batch(spark, table)
    assert last is not None and last[1] == 1
    # lost checkpoint, same identity: the replayed batches must no-op
    shutil.rmtree(ckpt)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == before


def test_torn_id_json_degrades_to_legacy_not_wedged(spark, tmp_path):
    """Advice r9: a torn id.json (crash mid-write) raised JSONDecodeError
    on every subsequent last_committed_batch, permanently wedging commits.
    Now: the writer goes through tmp+rename (no torn window), and the
    reader degrades a torn file to sid=None (legacy identity) instead of
    raising."""
    import json as _json

    from procurement_data_pipeline_spark.storage import write_text as _write_text
    from procurement_data_pipeline_spark.streaming.versioned_sink import (
        _state_dir,
        _stream_states,
    )

    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    _write_sources(spark, src)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == [1, 2, 3]
    # simulate a torn id.json under the stream's state dir
    from procurement_data_pipeline_spark.streaming.versioned_sink import (
        _qualify,
    )

    sdir = _state_dir(table, _qualify(spark, ckpt))
    _write_text(spark, sdir.rstrip("/") + "/id.json", '{"stream_')
    states = _stream_states(spark, table)  # must not raise
    assert states and states[0][0] is None and states[0][1] == 1
    # the table still accepts commits: replay with same checkpoint no-ops
    before = _ids(read_table(spark, table))
    shutil.rmtree(ckpt)
    _run(spark, src, table, ckpt)
    assert _ids(read_table(spark, table)) == before


def test_streaming_sink_enforces_check_constraints(spark, tmp_path):
    """The exactly-once streaming sink writes through versioned_write, so
    a table's CHECK constraints gate every microbatch: a violating batch
    fails the stream and publishes nothing."""
    from procurement_data_pipeline_spark.operators.versioning import (
        latest_version,
        versioned_write,
    )
    from procurement_data_pipeline_spark.streaming.versioned_sink import (
        stream_to_versioned_table,
    )

    t = str(tmp_path / "t")
    versioned_write(
        spark,
        spark.createDataFrame([(1, 10)], "id long, v long"),
        t,
        constraints=["v >= 0"],
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(2, -5)], "id long, v long").write.parquet(src)
    stream = (
        spark.readStream.schema("id long, v long").parquet(src)
    )
    q = (
        stream_to_versioned_table(stream, t, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="CHECK constraint violation"):
        q.awaitTermination()
    assert latest_version(spark, t) == 1  # nothing published
