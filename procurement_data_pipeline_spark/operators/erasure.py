"""Right-to-be-forgotten: targeted row erasure over plain parquet.

GDPR/CCPA deletion requests are the operational case where "rewrite the
table" is not an answer: at 100 TB a single user's rows live in a handful
of files, and the erase job must touch ONLY those. Table formats
(Delta/Iceberg) get this from their manifest layer; this operator
recovers the same behavior for plain parquet directories by composing the
repo's footer-stats index (:mod:`.fileindex`) with a manifest-committed
file swap:

1. **Prune** — read every file's ``[min, max]`` envelope for the id
   column from footers only (O(files), no data pages) and keep the files
   whose envelope admits at least one target id (NULL stats always keep —
   pruning must never prove too much). With range-clustered layout (see
   ``catalog.z_order_write`` / sorted writes) this is a tiny fraction of
   the table; with random layout it degrades to a full rewrite, which is
   the true cost of that layout, reported honestly in the audit.
2. **Rewrite** — ONE distributed job reads just the candidate files,
   anti-filters the targets, and writes replacements to a side directory.
3. **Commit** — a manifest file listing the candidate originals is
   written into the side directory; its existence is the commit point.
   Then candidates are parked (per-file Hadoop-FS rename), replacements
   move in, and the parked copies are dropped.

Every crash point is recoverable by :func:`recover_erasure` (called
automatically at the start of :func:`erase_users`): before the manifest
exists the live table was never touched (roll the side directory back);
after it exists the swap replays forward — renames of already-moved
files skip, so replay is idempotent. At no point can both the original
and replacement version of a file be live simultaneously, and at no
point is a row lost: the parked copies survive until the last step.

The deletion audit a DPO needs is returned: files pruned vs rewritten
and exact row counts before/after (both read from footers, not scans).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark import storage
from procurement_data_pipeline_spark.operators.fileindex import footer_stats

_TMP_SUFFIX = "__erase_tmp"
_PARK_SUFFIX = "__erase_parked"
_MANIFEST = "_ERASE_MANIFEST.json"


def _child(dir_uri: str, file_uri: str) -> str:
    """``dir_uri``'s entry with the same basename as ``file_uri``."""
    return dir_uri.rstrip("/") + "/" + file_uri.rsplit("/", 1)[-1]


def _replay_commit(spark: SparkSession, path: str) -> None:
    """Forward-replay a committed swap: park manifest sources still live,
    promote remaining replacement files, drop parked + tmp. Idempotent."""
    tmp, park = path.rstrip("/") + _TMP_SUFFIX, path.rstrip("/") + _PARK_SUFFIX
    storage.mkdirs(spark, park)
    sources = json.loads(storage.read_text(spark, tmp + "/" + _MANIFEST))
    for uri in sources:
        if storage.exists(spark, uri):
            storage.rename(spark, uri, _child(park, uri))
    for f in storage.list_parquet_files(spark, tmp):
        dst = _child(path, f)
        if not storage.exists(spark, dst):  # else promoted by the crashed run
            storage.rename(spark, f, dst)
    storage.delete(spark, park, True)
    storage.delete(spark, tmp, True)


def recover_erasure(spark: SparkSession, path: str) -> bool:
    """Finish or roll back an interrupted :func:`erase_users`.

    Returns True if there was anything to recover. Safe to call any time;
    :func:`erase_users` calls it first, so a crashed erase heals on the
    next attempt (or on an explicit call from an ops runbook).
    """
    tmp, park = path.rstrip("/") + _TMP_SUFFIX, path.rstrip("/") + _PARK_SUFFIX
    tmp_exists = storage.exists(spark, tmp)
    park_exists = storage.exists(spark, park)
    if not tmp_exists and not park_exists:
        return False
    if tmp_exists and storage.exists(spark, tmp + "/" + _MANIFEST):
        _replay_commit(spark, path)  # committed → forward
        return True
    # Not committed: the live directory was never modified. Restore any
    # parked strays (defensive — pre-commit runs never park), drop tmp.
    # The restore is checked: the park directory may hold the only copy
    # of those rows, so a failed move must stop before it is deleted.
    if park_exists:
        for f in storage.list_parquet_files(spark, park):
            dst = _child(path, f)
            if not storage.exists(spark, dst):
                storage.rename(spark, f, dst)
        storage.delete(spark, park, True)
    if tmp_exists:
        storage.delete(spark, tmp, True)
    return True


def erase_users(
    spark: SparkSession,
    path: str,
    user_ids: Sequence[int],
    id_col: str = "user_id",
) -> dict:
    """Erase every row whose ``id_col`` is in ``user_ids`` from the parquet
    directory at ``path``, rewriting only the files that can contain them.

    Returns the deletion audit::

        {files_total, files_rewritten, rows_before, rows_after,
         rows_deleted, recovered}

    ``user_ids`` is a bounded request list (deletion requests arrive in
    batches of at most thousands); it travels to executors as a broadcast
    literal. For larger sets, run in chunks — the swap is per-call atomic.
    """
    targets = sorted(set(int(u) for u in user_ids))
    if not targets:
        raise ValueError("user_ids must be non-empty")
    recovered = recover_erasure(spark, path)

    stats = footer_stats(spark, path, [id_col]).collect()
    import bisect
    import math

    def admits(r) -> bool:
        lo, hi = r[f"min_{id_col}"], r[f"max_{id_col}"]
        if lo is None or hi is None:
            return True  # no stats → cannot prune
        # footer_stats rounds int64 stats to float64 (error ≤ ½ ulp, which
        # is ~1024 at 2^63 scale). For an ERASE, pruning too much is a
        # silent right-to-be-forgotten violation — widen the envelope by a
        # full ulp each way so rounding can only ever keep extra files.
        lo = lo - math.ulp(lo)
        hi = hi + math.ulp(hi)
        i = bisect.bisect_left(targets, lo)
        return i < len(targets) and targets[i] <= hi

    candidates = [r for r in stats if admits(r)]
    # Flat-layout guard (code-review r8): replacements are promoted into
    # the table ROOT by basename, and spark.read.parquet(*leaf_files)
    # cannot recover hive partition-column values (no basePath) — on a
    # nested/hive layout the rewrite would drop the partition columns and
    # strand replacements in the wrong directory (same-basename files
    # could even collide mid-swap). Refuse loudly instead of corrupting;
    # erase partitioned tables partition-by-partition at the leaf dirs.
    live_dir = storage.qualify(spark, path).rstrip("/")
    nested = [
        r["file"]
        for r in candidates
        if storage.qualify(spark, r["file"]).rsplit("/", 1)[0] != live_dir
    ]
    if nested:
        raise ValueError(
            f"erase_users requires a FLAT parquet directory; {len(nested)} "
            f"candidate file(s) sit in subdirectories (e.g. {nested[0]}) — "
            "a hive-partitioned table must be erased per leaf directory"
        )
    audit = {
        "files_total": len(stats),
        "files_rewritten": len(candidates),
        "rows_before": sum(r["n_rows"] for r in candidates),
        "rows_after": 0,
        "rows_deleted": 0,
        "recovered": recovered,
    }
    if not candidates:
        return audit

    tmp = path.rstrip("/") + _TMP_SUFFIX
    storage.delete(spark, tmp, True)  # stale pre-commit junk
    # NULL-keyed rows are never erasure targets: ~isin over NULL is NULL
    # (falsy) and would silently DELETE them — the same guard merge_into's
    # isin path carries (code-review r8: this was a real data-loss hole)
    kept = spark.read.parquet(*[r["file"] for r in candidates]).filter(
        F.col(id_col).isNull() | ~F.col(id_col).isin(targets)
    )
    kept.write.mode("overwrite").parquet(tmp)

    rows_after = sum(
        r["n_rows"] for r in footer_stats(spark, tmp, [id_col]).collect()
    )
    # Commit point: manifest in place → the swap below (or any future
    # recover_erasure) completes exactly once.
    storage.write_text(
        spark, tmp + "/" + _MANIFEST, json.dumps([r["file"] for r in candidates])
    )
    _replay_commit(spark, path)
    audit["rows_after"] = rows_after
    audit["rows_deleted"] = audit["rows_before"] - rows_after
    return audit


__all__ = ["erase_users", "recover_erasure"]
