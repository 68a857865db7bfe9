"""Incremental rollup maintenance — don't recompute 100 TB to add one day.

The daily pipeline derives rollups (aggregated_orders, net_demand) whose
grain includes the partition date. At scale the naive refresh — re-aggregate
the whole fact table — rescans everything for an append-only change. These
helpers maintain a date-partitioned rollup incrementally:

* :func:`incremental_refresh` — aggregate ONLY the affected partitions of
  the fact table and dynamic-partition-overwrite them into the rollup.
  Cost is O(changed partitions), and the overwrite is idempotent (retry- and
  backfill-safe): rerunning a day replaces that day's partition byte-for-byte.
* :func:`verify_incremental` — the audit query: recompute the affected
  partitions from the facts and anti-join against the stored rollup
  (both directions) — an empty result proves the incremental path converged
  to the full-recompute answer without running a full recompute.

Why partition-overwrite instead of a MERGE: the rollup grain embeds the
partition key, so a changed day maps to exactly its partition — replacing
the partition IS the merge, with none of a row-level MERGE's shuffle-and-
match cost, and plain parquet supports it (no table format required).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark import storage


def incremental_refresh(
    spark: SparkSession,
    facts: DataFrame,
    rollup_fn: Callable[[DataFrame], DataFrame],
    rollup_path: str,
    partition_col: str,
    dates: list[str],
    fact_date_col: str | None = None,
) -> DataFrame:
    """Refresh ``rollup_path`` for exactly ``dates``.

    ``rollup_fn`` is the per-partition aggregation (facts → rollup rows); it
    only ever sees the affected partitions, so the scan is pruned to the
    changed dates (the filter reaches the parquet reader — date partitions
    prune at the file listing). ``fact_date_col`` names the date column on
    the FACT side (defaults to ``partition_col`` when the grain column
    already exists pre-aggregation). The write uses dynamic partition
    overwrite: partitions NOT in ``dates`` are untouched.
    """
    from procurement_data_pipeline_spark.caching import scoped_persist

    src = fact_date_col or partition_col
    affected = facts.filter(
        F.col(src).cast("date").cast("string").isin(dates)
    )
    # PERSISTED: the rollup rows feed both the write and the
    # present-partitions collect below. Re-evaluating rollup_fn for the
    # collect (code-review r8) doubled the refresh cost AND re-read the
    # fact scan — if new fact files landed between the write and the
    # collect (the streaming-maintained case) `present` could disagree
    # with what was just written and the stale-partition sweep would
    # delete a freshly written partition.
    rows = scoped_persist(rollup_fn(affected))
    (
        rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(rollup_path)
    )
    # Dynamic overwrite only replaces partitions PRESENT in the write: a
    # refreshed date whose facts have vanished (bad-load rollback) produces
    # no rows and would silently keep its stale partition. Drop those
    # partitions explicitly so "refresh date D" always means "the rollup
    # now reflects D's current facts", including absence.
    present = {
        str(r[0])
        for r in rows.select(F.col(partition_col).cast("string")).distinct().collect()
    }
    # storage (not os/shutil) so the drop works on whatever filesystem the
    # rollup actually lives on — local file://, hdfs://, s3a:// — matching
    # the writer above, which also resolves rollup_path through Hadoop.
    for d in dates:
        if d not in present:
            storage.delete(spark, f"{rollup_path.rstrip('/')}/{partition_col}={d}", True)
    # a refresh can legitimately leave the rollup EMPTY (only partition
    # vanished): spark.read would fail schema inference on a dataless
    # directory — honor the docstring's "including absence" with an
    # empty frame of the rollup's own schema (code-review r8)
    if not storage.list_parquet_files(spark, rollup_path):
        return spark.createDataFrame([], rows.schema)
    return spark.read.parquet(rollup_path)


def verify_incremental(
    spark: SparkSession,
    facts: DataFrame,
    rollup_fn: Callable[[DataFrame], DataFrame],
    rollup_path: str,
    partition_col: str,
    dates: list[str] | None = None,
    fact_date_col: str | None = None,
) -> DataFrame:
    """Audit: rows where the stored rollup disagrees with a fresh recompute
    (either direction), optionally restricted to ``dates``. Empty ⇒ the
    incremental maintenance converged to the full-recompute answer.

    The comparison is EXACT set equality (``exceptAll``), so ``rollup_fn``
    must emit comparison-stable values: keep floating-point aggregates
    rounded (or in integer/decimal units, as the engine's money math does)
    — a raw ``SUM(double)`` can differ in the last ulp between runs with
    different partition merge orders and would flag a converged partition.
    """
    stored = spark.read.parquet(rollup_path)
    if dates is not None:
        # Prune the recompute to the audited dates at the fact scan —
        # fact_date_col defaults to partition_col WHEN the fact side
        # carries it (code-review r8: the audit used to rescan ALL
        # history whenever the default was relied on). Facts whose grain
        # column only appears post-aggregation (rollup_fn derives it)
        # keep the unpruned recompute — correct, just unpruned.
        src = fact_date_col or (
            partition_col if partition_col in facts.columns else None
        )
        if src is not None:
            facts = facts.filter(
                F.col(src).cast("date").cast("string").isin(dates)
            )
    expected = rollup_fn(facts)
    # Partition-directory type inference may read the partition column back
    # as a richer type (date/int) than the rollup wrote (string) — align the
    # stored side to the recompute's dtype before comparing.
    stored = stored.withColumn(
        partition_col,
        F.col(partition_col).cast(dict(expected.dtypes)[partition_col]),
    )
    if dates is not None:
        stored = stored.filter(F.col(partition_col).cast("string").isin(dates))
        expected = expected.filter(
            F.col(partition_col).cast("string").isin(dates)
        )
    cols = expected.columns
    missing = expected.select(cols).exceptAll(stored.select(cols)).withColumn(
        "_side", F.lit("missing_from_rollup")
    )
    extra = stored.select(cols).exceptAll(expected.select(cols)).withColumn(
        "_side", F.lit("extra_in_rollup")
    )
    return missing.unionByName(extra)


__all__ = ["incremental_refresh", "verify_incremental"]
