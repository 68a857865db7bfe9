"""Incremental view maintenance for JOIN views over append-only parquet.

``incremental_refresh`` (operators/incremental.py) maintains AGGREGATE
rollups by recomputing changed partitions; join views need the other
classic IVM identity. For an inner equi-join view V = A ⋈ B over
append-only inputs, a batch of new rows (ΔA, ΔB) changes the view by
exactly::

    ΔV = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
       (B_new = B_old ∪ ΔB, so ΔA⋈ΔB is inside the first term)

so a refresh never re-joins A_old with B_old — the dominant cost of the
naive rebuild. Physical shape: ΔA/ΔB are the newly arrived files (small
by definition of a refresh interval), so BOTH delta joins broadcast the
delta side against ONE scan of the other table — no shuffle of the big
relations at any point. At 100 TB that is the difference between an
hourly refresh costing O(new data) and one costing O(table).

Exactly-once without a table format: the view directory holds immutable
per-refresh delta subdirectories plus a manifest (committed via the
crash-safe ``catalog.swap_dir``) listing the ingested input files and
the COMMITTED delta dirs. Readers (:func:`read_view`) union only
committed deltas, so a refresh that crashes after writing its delta but
before committing the manifest leaves an invisible orphan — re-running
the refresh re-derives the same delta from the same unconsumed input
files and commits once. ``recover`` semantics therefore cost nothing:
the manifest IS the truth.

Caveat stated plainly: the identity above is for APPEND-ONLY inputs
(fact streams). Updates/deletes need retraction deltas — that path is
deliberately out of scope here and raises if input files disappear.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark import storage
from procurement_data_pipeline_spark.catalog import recover_swap, swap_dir
from procurement_data_pipeline_spark.operators.fileindex import footer_stats

_MANIFEST = "_ivm_manifest"


def _manifest_path(view_path: str) -> str:
    return view_path.rstrip("/") + "/" + _MANIFEST


def _read_manifest(spark: SparkSession, view_path: str) -> dict:
    recover_swap(spark, _manifest_path(view_path))
    # explicit existence probe, NOT a blanket except (code-review r8): a
    # transient FS error swallowed here read as "first refresh", and the
    # refresh would then rewrite a COMMITTED delta directory in place —
    # corrupting the view the real manifest still references. Missing dir
    # → genuinely first refresh; anything else propagates.
    path = _manifest_path(view_path)
    if not storage.exists(spark, path) or not storage.list_parquet_files(spark, path):
        return {"a_files": [], "b_files": [], "deltas": []}
    [row] = spark.read.parquet(path).select("payload").collect()
    return json.loads(row["payload"])


def _write_manifest(spark: SparkSession, view_path: str, manifest: dict) -> None:
    tmp = _manifest_path(view_path) + "__next"
    spark.createDataFrame(
        [(json.dumps(manifest),)], "payload string"
    ).coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_dir(spark, tmp, _manifest_path(view_path))


def refresh_join_view(
    spark: SparkSession,
    a_path: str,
    b_path: str,
    view_path: str,
    on: str,
) -> dict:
    """Incrementally refresh the materialized inner-join view of the
    parquet directories ``a_path ⋈ b_path`` on column ``on``.

    Returns an audit dict: files consumed per side, delta rows appended,
    and whether anything changed. Safe to re-run at any time; a crashed
    refresh is invisible and the next run redoes its work exactly once.
    """
    man = _read_manifest(spark, view_path)
    a_now = sorted(storage.list_parquet_files(spark, a_path))
    b_now = sorted(storage.list_parquet_files(spark, b_path))
    known_a, known_b = set(man["a_files"]), set(man["b_files"])
    gone_a = known_a - set(a_now)
    gone_b = known_b - set(b_now)
    if gone_a or gone_b:
        raise ValueError(
            "append-only contract violated: input files vanished "
            f"({sorted(gone_a | gone_b)[:3]}…) — join IVM without "
            "retractions cannot repair the view; rebuild it"
        )
    new_a = [f for f in a_now if f not in known_a]
    new_b = [f for f in b_now if f not in known_b]
    audit = {
        "new_a_files": len(new_a),
        "new_b_files": len(new_b),
        "delta_rows": 0,
        "changed": False,
    }
    if not new_a and not new_b:
        return audit

    old_a = man["a_files"]
    parts = []
    if new_a:
        da = F.broadcast(spark.read.parquet(*new_a))
        # ΔA ⋈ B_new — covers ΔA⋈B_old and ΔA⋈ΔB in one pass
        if b_now:
            parts.append(spark.read.parquet(*b_now).join(da, on))
    if new_b and old_a:
        db = F.broadcast(spark.read.parquet(*new_b))
        parts.append(spark.read.parquet(*old_a).join(db, on))
    # unique dir per refresh ATTEMPT (code-review r8): a positional name
    # (delta_{len}) let two overlapping refreshes overwrite the SAME
    # directory mid-write and commit a mix of both jobs' part files. With
    # a uuid suffix each attempt writes its own dir (mode 'error' — no
    # clobbering possible); an uncommitted attempt is an invisible orphan.
    # Overlapping refreshes remain benign only because identical inputs
    # derive identical deltas (last manifest wins with the same content);
    # schedule refreshes serially per view, as with vacuum.
    delta_id = len(man["deltas"])
    delta_dir = (
        view_path.rstrip("/")
        + f"/delta_{delta_id:06d}_{uuid.uuid4().hex[:8]}"
    )
    if parts:
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        # deltas from different sides produce different column ORDERS
        # (join puts the scanned side first) — normalize so every delta
        # dir shares one layout
        delta = delta.select(*sorted(delta.columns))
        delta.write.mode("error").parquet(delta_dir)
        # the join's schema is committed even when the delta is empty, so
        # read_view can distinguish "refreshed, legitimately zero rows"
        # from "never refreshed" (code-review r8)
        man["schema"] = delta.schema.json()
        delta_rows = sum(
            r["n_rows"] for r in footer_stats(spark, delta_dir, [on]).collect()
        )
        if delta_rows > 0:
            audit["delta_rows"] = delta_rows
            man["deltas"].append(delta_dir)
            audit["changed"] = True
        # zero matching rows → the dir may hold no data files at all;
        # leaving it out of the manifest keeps read_view's union valid
    man["a_files"] = a_now
    man["b_files"] = b_now
    _write_manifest(spark, view_path, man)  # the commit point
    return audit


def read_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The view's current contents: the union of COMMITTED deltas only —
    an orphan delta from a crashed refresh is invisible by construction.
    A refreshed view whose join produced zero rows is a VALID empty view
    (returned with the committed schema), not an error."""
    man = _read_manifest(spark, view_path)
    if not man["deltas"]:
        if man.get("schema"):
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(man["schema"]))
            )
        raise ValueError(f"view at {view_path} has no committed refresh yet")
    return spark.read.parquet(*man["deltas"])


__all__ = ["refresh_join_view", "read_view"]
