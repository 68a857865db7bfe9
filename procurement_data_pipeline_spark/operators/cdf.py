"""Change data feed over versioned tables: row-level deltas between versions.

Delta's CDF answers "what changed between version i and j?" without the
consumer diffing snapshots itself. The versioned format's manifests make
the common case FREE: any range whose end-version file set is a superset
of the start's (pure appends — every streaming-sink microbatch, every
plain append, every dedup-index ingest) has its delta sitting verbatim in
the added files; ``table_changes`` just reads them and tags inserts. Zero
joins, zero scans of pre-existing data — at 100 TB this is the difference
between a CDC read costing O(new rows) and one costing O(table).

Ranges that include overwrites / merges / rollbacks fall back to a keyed
``snapshot_diff`` (operators/cdc.py) of the two endpoint snapshots — the
general, always-correct path (one full-outer join). OPTIMIZE rewrites are
recognized by row-identity, not file-identity: the fallback diff returns
the correct empty changelog.

Output schema matches snapshot_diff: ``key_cols, old_<c>…, new_<c>…,
change_type`` — downstream consumers (incremental refreshers, audit
sinks) cannot tell which path produced the feed.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from procurement_data_pipeline_spark.operators import tablelog
from procurement_data_pipeline_spark.operators.cdc import snapshot_diff
from procurement_data_pipeline_spark.operators.versioning import (
    commit_times,
    latest_version,
    physical_names,
    plan_scan,
    read_files,
    read_manifest,
    read_table,
    resolve_manifest,
    ts_to_ms,
    version_as_of_timestamp,
)


def table_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """Row-level changelog from ``from_version`` (exclusive) to
    ``to_version`` (inclusive, default latest).

    ``key_cols`` is required only when the range is not pure-append (an
    overwrite / merge / rollback needs a keyed diff); the pure-append fast
    path works without keys and reads ONLY the added files.

    ``from_timestamp`` / ``to_timestamp`` are the Delta CDF timestamp
    forms, with Delta's asymmetric boundary semantics (ADVICE r10 low —
    the boundaries were both at-or-before-exclusive before):

    * ``from_timestamp=T`` INCLUDES changes committed at-or-after T
      (Delta's ``startingTimestamp``): it resolves to the first version
      whose effective commit timestamp is >= T and includes that
      version's changes. Raises if T is after the latest commit.
    * ``to_timestamp=T`` includes changes committed at-or-before T
      (Delta's ``endingTimestamp``): the greatest version committed
      at-or-before T, inclusive (``version_as_of_timestamp``).

    Effective timestamps are the running max down the version chain
    (the same non-monotonic-clock adjustment as ``TIMESTAMP AS OF``).
    """
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError("pass from_version OR from_timestamp, not both")
        t = ts_to_ms(from_timestamp)
        first_at_or_after = eff = None
        for v, eff in commit_times(spark, table_path):
            if eff >= t:
                first_at_or_after = v
                break
        if eff is None:
            raise ValueError(f"no versions published at {table_path}")
        if first_at_or_after is None:
            raise ValueError(
                f"from_timestamp {from_timestamp!r} is after the latest "
                f"commit at {table_path} (latest committed_at_ms: {eff}) — "
                "no changes exist at or after it"
            )
        # from_version is EXCLUSIVE, so minus one includes the resolved
        # version's own changes. If that predecessor was vacuumed the
        # range resolution below raises its standard message; the
        # pure-append fast path never needs it (raw manifests of
        # (from, to] only).
        from_version = first_at_or_after - 1
    if from_version is None:
        raise ValueError("table_changes needs from_version or from_timestamp")
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError("pass to_version OR to_timestamp, not both")
        to_version = version_as_of_timestamp(spark, table_path, to_timestamp)
    if to_version is None:
        to_version = latest_version(spark, table_path)
        if to_version is None:
            raise ValueError(f"no versions published at {table_path}")
    if not 0 <= from_version <= to_version:
        raise ValueError(
            f"need 0 <= from_version <= to_version, got {from_version}..{to_version}"
        )
    added: list[str] | None = None
    if from_version > 0:
        # delta-manifest fast path: when every commit in (from, to] is an
        # append DELTA, the changed files are exactly the union of their
        # adds — O(changed versions) raw manifest reads, never a full
        # file-list materialization + set diff (which is O(table files)
        # of driver work on a million-file table)
        adds: list[str] = []
        fast = True
        for v in range(from_version + 1, to_version + 1):
            raw = read_manifest(spark, table_path, v)
            if (
                raw.get("op") != "append"
                or "delta_of" not in raw
                or raw.get("removes")
                or raw.get("deletes_adds")  # merge-on-read: rows removed
            ):
                fast = False
                break
            adds.extend(raw["adds"])
        if fast:
            added = sorted(adds)
    bootstrap = from_version == 0
    if added is None and not bootstrap:
        old_man = resolve_manifest(spark, table_path, from_version)
        old_files = set(old_man["files"])
        new_man = resolve_manifest(spark, table_path, to_version)
        new_files = set(new_man["files"])
        # a merge-on-read delete changes NO data file — the file-subset
        # test alone would report an empty insert feed for a range that
        # DELETED rows. Equal delete-entry lists are required for the
        # pure-append fast path.
        if old_files <= new_files and old_man.get("deletes", []) == new_man.get(
            "deletes", []
        ):
            added = sorted(new_files - old_files)

    if added is not None or bootstrap:
        to_df = read_table(spark, table_path, version=to_version)
        cols = [c for c in to_df.columns]
        keys = key_cols or []
        compare = [c for c in cols if c not in keys]
        if bootstrap:
            # from version 0 the feed is EVERY row of the snapshot as an
            # insert — read_table, not raw files, so merge-on-read delete
            # entries are applied (code-review r9: the raw-file path
            # emitted masked rows as inserts and the delete-equality check
            # wrongly demanded key_cols for a keyless bootstrap)
            base = to_df
        elif not added:
            base = to_df.limit(0)
        else:
            # pure-append range WITH UNCHANGED delete entries: files added
            # after from_version were born after every live entry's
            # version, so a raw read is exact. The read goes through the
            # manifest schema (not to_df.schema) so column-mapping
            # physical names resolve — every raw manifest form carries
            # the schema key.
            man_schema = StructType.fromJson(
                json.loads(
                    read_manifest(spark, table_path, to_version)["schema"]
                )
            )
            base = read_files(spark, man_schema, added)
        return base.select(
            *keys,
            *[F.lit(None).cast(base.schema[c].dataType).alias(f"old_{c}") for c in compare],
            *[F.col(c).alias(f"new_{c}") for c in compare],
            F.lit("insert").alias("change_type"),
        )

    native = _native_mor_feed(
        spark, table_path, from_version, to_version, key_cols
    )
    if native is not None:
        return native

    if not key_cols:
        raise ValueError(
            f"versions {from_version}..{to_version} include a rewrite "
            "(overwrite/merge/rollback/optimize) — key_cols are required "
            "for the snapshot diff"
        )
    old_df = (
        read_table(spark, table_path, version=from_version)
        if from_version > 0
        else read_table(spark, table_path, version=to_version).limit(0)
    )
    return snapshot_diff(
        old_df, read_table(spark, table_path, version=to_version), key_cols
    )


def _native_mor_feed(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int,
    key_cols: list[str] | None,
) -> DataFrame | None:
    """Native change rows for a range of pure appends + MERGE-ON-READ
    merges (VERDICT r10 stretch 8): derive the feed from each commit's
    OWN metadata — O(changed data), never a full snapshot diff, and no
    caller-supplied key_cols needed (the delete entries carry them).

    Per MOR merge at version v the feed is ``snapshot_diff(old_v, new_v,
    keys)`` where ``old_v`` = the pre-merge rows with entry keys
    (candidate files stats-pruned by the keys' min/max, then a broadcast
    semi-join — entry keys are O(batch) by the MOR contract) and
    ``new_v`` = the merge's own upsert files. Rows outside the entry keys
    are untouched by construction, so this equals the full diff of v-1
    vs v restricted to changed rows — delete merges emit exactly the COW
    diff's delete rows (old values populated); upserts emit the same
    update/insert rows. Appends contribute their added files as inserts.

    Granularity note: the feed is PER-COMMIT (a key touched twice in the
    range appears once per touching commit — Delta CDF's reading), where
    the keyed-diff fallback nets the endpoints.

    Returns None (caller falls back) when the range contains any other
    op, entries disagree on key columns, or the caller pinned different
    ``key_cols`` than the entries use.
    """
    if from_version <= 0:
        return None
    per_version: list[tuple] = []  # (v, adds, new_entries)
    prev_resolved: dict | None = None
    for v in range(from_version + 1, to_version + 1):
        raw = read_manifest(spark, table_path, v)
        op = raw.get("op")
        mor = op == "merge" and (
            raw.get("merge", {}).get("strategy") == "merge-on-read"
        )
        if op != "append" and not mor:
            return None
        if "delta_of" not in raw and (
            prev_resolved is None or prev_resolved["version"] != v - 1
        ):
            prev_resolved = resolve_manifest(spark, table_path, v - 1)
        adds, removes, new_entries = tablelog.changes(raw, prev_resolved)
        if removes or (new_entries and not mor):
            return None  # something removed: not pure growth
        if "delta_of" not in raw:
            prev_resolved = raw  # full manifest: usable as next prev
        per_version.append((v, adds, new_entries))
    all_entries = [d for _, _, es in per_version for d in es]
    if all_entries:
        kc0 = all_entries[0]["key_cols"]
        if any(d["key_cols"] != kc0 for d in all_entries[1:]):
            return None
    # schema / mapping of the range end pins names for the whole feed
    end_schema = StructType.fromJson(
        json.loads(read_manifest(spark, table_path, to_version)["schema"])
    )
    rev = {p: l for l, p in physical_names(end_schema).items()}
    logical_keys = (
        [rev.get(k, k) for k in all_entries[0]["key_cols"]]
        if all_entries
        else list(key_cols or [])
    )
    if key_cols is not None and all_entries and sorted(key_cols) != sorted(
        logical_keys
    ):
        return None  # caller pinned different keys: their diff, not ours
    cols = [f.name for f in end_schema.fields]
    compare = [c for c in cols if c not in logical_keys]

    def as_insert(df: DataFrame) -> DataFrame:
        return df.select(
            *logical_keys,
            *[
                F.lit(None).cast(df.schema[c].dataType).alias(f"old_{c}")
                for c in compare
            ],
            *[F.col(c).alias(f"new_{c}") for c in compare],
            F.lit("insert").alias("change_type"),
        )

    parts: list[DataFrame] = []
    for v, adds, new_entries in per_version:
        merge_adds_df = (
            read_files(spark, end_schema, adds) if adds else None
        )
        if not new_entries:
            if merge_adds_df is not None:
                parts.append(as_insert(merge_adds_df))
            continue
        # MOR merge: reconstruct the keyed diff of exactly the touched
        # rows — old side = pre-merge rows with entry keys, new side =
        # the merge's own upsert files (empty for delete merges)
        entry = new_entries[0]  # one entry per MOR commit
        keys_df = (
            spark.read.parquet(*entry["files"])
            .select(
                *[
                    F.col(k).alias(rev.get(k, k))
                    for k in entry["key_cols"]
                ]
            )
            .distinct()
        )
        man_prev = resolve_manifest(spark, table_path, v - 1)
        prev_schema = StructType.fromJson(json.loads(man_prev["schema"]))
        kept = list(man_prev["files"])
        fk = logical_keys[0]
        if man_prev.get("stats_cols") and fk in man_prev["stats_cols"]:
            bounds = keys_df.agg(
                F.min(fk).alias("lo"), F.max(fk).alias("hi")
            ).collect()[0]
            kept, _total = plan_scan(
                spark, table_path, fk, bounds["lo"], bounds["hi"],
                version=v - 1, _manifest=man_prev,
            )
        old_v = read_files(
            spark, prev_schema, kept, man_prev.get("deletes", []),
            births=man_prev.get("births"),
        ).join(F.broadcast(keys_df), on=logical_keys, how="semi")
        new_v = (
            merge_adds_df
            if merge_adds_df is not None
            else spark.createDataFrame([], end_schema)
        )
        parts.append(snapshot_diff(old_v, new_v, logical_keys))
    if not parts:
        to_df = read_table(spark, table_path, version=to_version)
        return as_insert(to_df.limit(0))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


__all__ = ["table_changes"]
