"""Cursor-committed CDF consumption: incremental downstream refreshes.

``table_changes`` (operators/cdf.py) answers "what changed between two
versions"; a real consumer also has to REMEMBER where it left off, survive
crashes, and never skip or double-apply a range. This module is that
consumer harness:

* the cursor (last fully-processed version) lives in an append-only
  directory of versioned cursor files (read = newest), advanced only
  AFTER the handler returns — a crash anywhere re-presents the same range
  on the next call (at-least-once), and no crash point can leave the
  cursor absent or regressed (see :func:`read_cursor`);
* handlers that are idempotent per range (overwrite-by-range, merge by
  key, versioned-table appends keyed by source version) therefore get
  exactly-once end-to-end — the same contract foreachBatch gives
  streaming sinks, here for table-to-table maintenance;
* each call processes the range (cursor, latest] in ONE handler
  invocation, so the downstream sees consistent version boundaries, never
  a torn prefix of somebody's commit.

This is the missing half of incremental view maintenance: ivm.py reacts
to raw parquet appends; this consumer reacts to VERSIONED tables,
including merges and deletes (the handler receives the full changelog
with change_type), at whatever cadence the caller polls.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from procurement_data_pipeline_spark import storage
from procurement_data_pipeline_spark.operators import tablelog
from procurement_data_pipeline_spark.operators.cdf import table_changes
from procurement_data_pipeline_spark.operators.versioning import (
    latest_version,
)

_CURSOR_PREFIX = "cursor-v"


def _cursor_file(cursor_path: str, version: int) -> str:
    return f"{cursor_path.rstrip('/')}/{_CURSOR_PREFIX}{version:08d}.json"


def cursor_versions(spark: SparkSession, cursor_path: str) -> list[int]:
    """The versions of the cursor files under ``cursor_path``, ascending
    (names that are not ``cursor-v{N}.json`` are skipped)."""
    return tablelog.versions(storage.list_names(spark, cursor_path), _CURSOR_PREFIX)


def _stored_version(spark: SparkSession, cursor_file: str) -> int:
    return int(json.loads(storage.read_text(spark, cursor_file))["version"])


# cursor paths this process has already seen in directory form — once a
# cursor is a directory it can never regress to the legacy single-file
# shape, so the migration probe (2-3 filesystem RPCs) runs at most once
# per path per process instead of on every poll forever (ADVICE r7)
_MIGRATED: set[str] = set()


def _migrate_legacy_cursor(spark: SparkSession, cursor_path: str) -> None:
    """Releases before the directory scheme stored the cursor as ONE json
    FILE at ``cursor_path``. Left in place it is invisible to the
    directory listing (read would report 0 and replay every range ever
    handled) and ``advance_cursor`` would fail over it. Migration
    is crash-safe in two steps: park the file under a sibling name (so
    the path can become a directory), then commit it as the first
    ``cursor-v{N}.json``. A crash between the steps leaves the sibling,
    which the next call resumes from; the sibling is deleted only after
    the directory entry is fully committed.

    Two consumers may race this: the park-rename is the only contended
    step, and losing it is BENIGN whenever the legacy file is gone or the
    path is already a directory (the other migrator won and will/did
    commit) — only a rename that fails with the legacy file still sitting
    there is a real filesystem error (ADVICE r7)."""
    key = cursor_path.rstrip("/")
    if key in _MIGRATED:
        return
    legacy = key + ".legacy-migrating"

    def _is_file(uri: str) -> bool:
        return storage.exists(spark, uri) and not storage.is_dir(spark, uri)

    if storage.exists(spark, legacy) and _is_file(cursor_path):
        # wedge state (code-review r8): a migration crashed after parking
        # the sibling, then an old-version process RECREATED the
        # single-file cursor — rename(p, legacy) would now fail on every
        # poll forever (destination exists). The cursor is monotone and a
        # file's content is name-determined, so drop whichever artifact
        # holds the SMALLER version; a crash between these steps still
        # leaves the larger version on disk, so no committed range is
        # ever lost (worst case: one at-least-once replay).
        if _stored_version(spark, cursor_path) >= _stored_version(spark, legacy):
            storage.delete(spark, legacy)
        else:
            storage.delete(spark, cursor_path)
    if storage.is_dir(spark, cursor_path):
        # already migrated; clean a leftover sibling from a crash between
        # the directory commit and the sibling delete, then memoize
        storage.delete(spark, legacy)
        _MIGRATED.add(key)
        return
    if _is_file(cursor_path):
        try:
            storage.rename(spark, cursor_path, legacy)
        except IOError:
            if _is_file(cursor_path):
                raise IOError(
                    f"could not migrate legacy cursor file {cursor_path}"
                ) from None
            # another migrator parked it first — fall through; the
            # sibling (if it still exists) is finished below
    if storage.exists(spark, legacy):
        version = _stored_version(spark, legacy)
        if version > 0:
            advance_cursor(spark, cursor_path, version)
        else:
            storage.mkdirs(spark, cursor_path)
        storage.delete(spark, legacy)
        _MIGRATED.add(key)  # migration committed — the path is a directory
    # Fall-through (path absent, no parked sibling): nothing to migrate YET
    # — deliberately NOT memoized. A not-yet-created cursor can still gain
    # a legacy single-file cursor from an old-version writer in a rolling
    # deploy; memoizing here would hide that file from every later poll of
    # this process (read_cursor would report 0 and replay handled ranges,
    # and advance_cursor would fail over the file). The probe
    # stays cheap: the first advance_cursor creates the directory and the
    # next poll memoizes through the directory branch above.


def read_cursor(spark: SparkSession, cursor_path: str) -> int:
    """Last fully-processed version; 0 before the first successful run.

    The cursor is a DIRECTORY of append-only ``cursor-v{N}.json`` files
    (read = max N), not one live file: a delete-then-rename single-file
    scheme has a crash point where NO cursor exists, which read_cursor
    would report as 0 and the next poll would re-present every range ever
    handled — double-apply under the very exactly-once contract this
    module promises. Here no crash point can make the cursor absent or
    regress: either the new file is fully visible (rename is the commit)
    or the old max still stands (at-least-once replay of one range).
    """
    _migrate_legacy_cursor(spark, cursor_path)
    for _ in range(3):
        vs = cursor_versions(spark, cursor_path)
        if not vs:
            return 0
        try:
            return _stored_version(spark, _cursor_file(cursor_path, vs[-1]))
        except Exception:
            # list-then-read race (code-review r8): a faster consumer
            # committed a newer cursor and pruned the file we just
            # listed. Every cursor file is rename-committed (never torn),
            # so a read failure can only mean deleted-under-us — re-list
            # and read the newer one.
            continue
    raise IOError(f"cursor at {cursor_path} kept vanishing during read")


def advance_cursor(spark: SparkSession, cursor_path: str, version: int) -> None:
    """Commit ``version`` as the cursor at ``cursor_path``: publish a NEW
    ``cursor-v{N}.json`` (the destination never pre-exists), then prune
    superseded files; a crash mid-prune just leaves harmless extras."""
    final = _cursor_file(cursor_path, version)
    tmp = f"{cursor_path.rstrip('/')}/.tmp-{version}"
    if not storage.publish(spark, tmp, final, json.dumps({"version": version})):
        # a cursor file's content is fully determined by its name
        # ({"version": N}), so losing the claim to a concurrent consumer
        # that committed the SAME version is success, not failure
        if not storage.exists(spark, final):
            # ... and losing to a FASTER consumer is success too
            # (code-review r8): its sweep may have deleted our in-flight
            # tmp (tv <= its version), but the cursor then stands AT OR
            # PAST our target — raising here would report a hard failure
            # for a fully-handled, fully-recorded range. The winner owns
            # prune + sweep; we are done.
            vs = cursor_versions(spark, cursor_path)
            if vs and vs[-1] >= version:
                return
            raise IOError(f"could not advance cursor at {cursor_path}")
    for v in cursor_versions(spark, cursor_path)[:-1]:
        storage.delete(spark, _cursor_file(cursor_path, v))
    # sweep torn .tmp-{v} files a crash left behind — safe once the claim
    # for a version ≤ ours has committed (ours just did); a .tmp for a
    # NEWER version (concurrent writer mid-flight) is left alone
    for e in storage.list_dir(spark, cursor_path):
        tv = tablelog.parse_version(e.name, ".tmp-", "")
        if tv is not None and tv <= version:
            storage.delete(spark, e.uri)


def consume_changes(
    spark: SparkSession,
    table_path: str,
    cursor_path: str,
    handler: Callable[[DataFrame, int, int], None],
    key_cols: list[str] | None = None,
) -> dict:
    """Present the changelog (cursor, latest] to ``handler`` once, then
    advance the cursor. Returns an audit dict; a no-op poll (nothing new)
    never invokes the handler. ``handler(feed, from_v, to_v)`` gets the
    snapshot_diff-shaped feed plus the version boundaries so idempotent
    sinks can key on them."""
    cursor = read_cursor(spark, cursor_path)
    latest = latest_version(spark, table_path)
    if latest is None or latest <= cursor:
        return {"from_version": cursor, "to_version": cursor, "invoked": False}
    feed = table_changes(
        spark, table_path, from_version=cursor, to_version=latest, key_cols=key_cols
    )
    handler(feed, cursor, latest)
    # the commit point: only a fully-handled range advances the cursor
    advance_cursor(spark, cursor_path, latest)
    return {"from_version": cursor, "to_version": latest, "invoked": True}


__all__ = ["advance_cursor", "consume_changes", "cursor_versions", "read_cursor"]
