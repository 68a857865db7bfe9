"""Oracle-backed declared queries over the versioned table format.

Every other capability tier earns driver-hash evidence (Spark vs DuckDB
value hash at sf0.01); until round 6 the table-format layer
(operators/versioning.py — time travel, MERGE INTO, CDF) was pytest-only.
These queries close that gap: each builder constructs a DETERMINISTIC
versioned fixture from the round's `orders` table —

    v1  append   orders with o_orderkey % 10 < 5
    v2  append   the remaining orders           (v2 == all of orders)
    v3  merge    DELETE WHERE o_orderkey % 97 == 0  (copy-on-write)
    v4  optimize ZORDER (o_orderkey, price_cents)   (content-identical)

— then reads it back through the format's own read paths (time travel,
latest-after-merge, change feed, manifest-stats pruned range scan) and
aggregates. The DuckDB oracle
reproduces the SAME final relation straight from `orders`, so a hash match
verifies the whole write→manifest→read roundtrip, not just the agg.

Exactness contract (memory: engine-parity toolbox): money is quantized to
cents with FLOOR(x*100) AT BUILD TIME and stored as BIGINT in the fixture,
so every downstream sum is integer-exact in both engines.

The fixture lives under the system temp dir, keyed by (sf_dir, pid), and
is rebuilt at most once per process per sf_dir (the queries share it).
Rebuilds are idempotent: the table directory is removed first. The pid in
the path makes concurrent driver processes (e.g. a graded run racing a
local check) build disjoint fixtures instead of rmtree-ing each other
mid-write (code-review r8). Paths are scheme-less: the harness contract
is fs.defaultFS = file:// (local[‥]), matching the shutil cleanup.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from procurement_data_pipeline_spark import storage
from procurement_data_pipeline_spark.operators import tablelog
from procurement_data_pipeline_spark.operators.cdf import table_changes
from procurement_data_pipeline_spark.operators.versioning import (
    clone_table,
    consolidate_deletes,
    describe_deletes,
    merge_into,
    optimize_table,
    read_manifest,
    read_table,
    rename_column,
    resolve_manifest,
    scan_table,
    vacuum,
    versioned_write,
)
from procurement_data_pipeline_spark.registry import register
from procurement_data_pipeline_spark.sources.tables import load_table

_BUILT: dict[str, str] = {}  # abs(sf_dir) -> fixture path (per process)


def _fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) the 3-version orders fixture."""
    key = os.path.abspath(sf_dir)
    if key in _BUILT:
        return _BUILT[key]
    tag = re.sub(r"[^A-Za-z0-9_.-]", "_", key).strip("_")
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_versioned_orders_{tag}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.to_date("o_orderdate").alias("o_orderdate"),
    )
    versioned_write(
        spark,
        orders.filter(F.col("o_orderkey") % 10 < 5),
        path,
        mode="append",
        # sticky: later writes maintain stats. One column per stats type
        # class — numeric envelope (ulp-widened), date (ISO-encoded), and
        # string — so the graded scans certify all three prune paths
        stats_cols=["o_orderkey", "price_cents", "o_orderdate", "o_orderpriority"],
    )
    versioned_write(
        spark, orders.filter(F.col("o_orderkey") % 10 >= 5), path, mode="append"
    )
    merge_into(
        spark,
        path,
        orders.filter(F.col("o_orderkey") % 97 == 0).select("o_orderkey"),
        key_col="o_orderkey",
        when_matched="delete",
    )
    # v4: OPTIMIZE ZORDER — content-identical by contract; stats recompute
    # for the re-clustered files, so the pruned scan below (and the hash
    # of every latest-reading query) certifies compaction + Z-order +
    # stats maintenance end-to-end, not just pytest-level identity
    # 8 z-ordered files at every sf: enough files that the range scan has
    # something to prune, few enough that the layout is a real compaction
    optimize_table(
        spark,
        path,
        zorder_cols=["o_orderkey", "price_cents"],
        target_files=8,
    )
    _BUILT[key] = path
    return path


def _priority_rollup(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


_ROLLUP_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
{where}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "versioned_time_travel",
    oracle=_ROLLUP_SQL.format(where=""),
    tags=("versioning", "time-travel"),
)
def versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read version 2 AFTER a later destructive merge: time travel must see
    every order, byte-exactly, even though latest (v3) deleted rows.
    A hash match certifies manifest-pinned reads + append isolation."""
    path = _fixture(spark, sf_dir)
    return _priority_rollup(read_table(spark, path, version=2))


@register(
    "versioned_merge_current",
    oracle=_ROLLUP_SQL.format(where="WHERE o_orderkey % 97 <> 0"),
    tags=("versioning", "merge"),
)
def versioned_merge_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read latest after the copy-on-write DELETE merge AND the OPTIMIZE
    ZORDER rewrite — the footer-pruned merge must drop exactly the matched
    keys, and compaction must be content-identical (hash-certified)."""
    path = _fixture(spark, sf_dir)
    return _priority_rollup(read_table(spark, path))


@register(
    "versioned_cdf_inserts",
    oracle="""
SELECT 'insert' AS change_type, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderkey % 10 >= 5
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "cdf"),
)
def versioned_cdf_inserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed for the pure-append range v1→v2 must present exactly
    the appended rows as inserts — the join-free fast path that makes CDC
    O(new rows) instead of O(table) at 100 TB."""
    path = _fixture(spark, sf_dir)
    feed = table_changes(spark, path, from_version=1, to_version=2)
    return (
        feed.groupBy("change_type", F.col("new_o_orderpriority").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("new_price_cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


_SCAN_LO, _SCAN_HI = 10_000, 40_000


@register(
    "versioned_pruned_scan",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderkey BETWEEN {_SCAN_LO} AND {_SCAN_HI}
  AND o_orderkey % 97 <> 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "data-skipping"),
)
def versioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan through the manifest's per-file stats (scan_table): the
    plan opens only files whose [min, max] envelope intersects the key
    range — Delta-style data skipping, planned from one JSON. The residual
    filter keeps the result exact regardless of pruning, and the oracle
    hash certifies that pruning lost nothing."""
    path = _fixture(spark, sf_dir)
    return _priority_rollup(
        scan_table(spark, path, "o_orderkey", lo=_SCAN_LO, hi=_SCAN_HI)
    )


_CS_DATE_LO, _CS_DATE_HI = "1996-01-01", "1999-12-31"
_CS_KEY_HI = 7_000
_CS_PRICE_HI = 20_000_000  # cents


@register(
    "versioned_compound_scan",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '{_CS_DATE_LO}'
  AND CAST(o_orderdate AS DATE) <= DATE '{_CS_DATE_HI}'
  AND o_orderkey <= {_CS_KEY_HI}
  AND CAST(FLOOR(o_totalprice * 100) AS BIGINT) <= {_CS_PRICE_HI}
  AND o_orderkey % 97 <> 0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "data-skipping"),
)
def versioned_compound_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound-predicate data skipping: a DATE range (the reference's own
    partition-pruning key shape — sql/net_demand.sql filters orders by
    date) AND-ed with a key bound and a price bound, planned in ONE
    manifest pass. The key and price predicates each prune z-ordered
    files the other keeps (the fixture's ZORDER clusters both), the date
    predicate exercises the ISO-string stats path, and the residual
    filter keeps the result exact — the oracle hash certifies no prune
    path lost anything."""
    path = _fixture(spark, sf_dir)
    return _priority_rollup(
        scan_table(
            spark,
            path,
            predicates={
                "o_orderdate": (_CS_DATE_LO, _CS_DATE_HI),
                "o_orderkey": (None, _CS_KEY_HI),
                "price_cents": (None, _CS_PRICE_HI),
            },
        )
    )


_CLUSTERED: dict[str, str] = {}


def _clustered_fixture(spark: SparkSession, sf_dir: str) -> str:
    """One cluster_by=['o_orderpriority'] write of orders: every file's
    priority envelope covers ~one value, so the equality scan below gets
    hive-partition pruning from plain manifest stats (no k=v dirs)."""
    key = os.path.abspath(sf_dir)
    if key in _CLUSTERED:
        return _CLUSTERED[key]
    tag = re.sub(r"[^A-Za-z0-9_.-]", "_", key).strip("_")
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_clustered_orders_{tag}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    versioned_write(
        spark,
        orders,
        path,
        stats_cols=["o_orderkey"],
        cluster_by=["o_orderpriority"],
        cluster_files=16,
    )
    _CLUSTERED[key] = path
    return path


@register(
    "versioned_clustered_scan",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "clustering", "data-skipping"),
)
def versioned_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruning semantics WITHOUT hive directories: cluster_by
    hash-routes each priority into its own file(s), the manifest's string
    stats make the equality predicate prune every other file, and the
    residual filter keeps the result exact (the oracle hash certifies
    it). This is the Iceberg hidden-partitioning argument re-expressed on
    the repo's own table format."""
    path = _clustered_fixture(spark, sf_dir)
    return _priority_rollup(
        scan_table(spark, path, "o_orderpriority", lo="1-URGENT", hi="1-URGENT")
    )


# ---------------------------------------------------------------------------
# Incremental (delta) manifest fixture — oracle-hash evidence for the
# round-7 metadata-scaling path (operators/tablelog.py _DELTA_MIN_FILES
# block). The shared fixture above never crosses the 64-file delta
# threshold, so until round 8 delta resolution rode on pytest alone; this
# fixture pins the threshold low (the versioned_write parameter — the
# production cadence is unchanged) and builds an append-delta chain that
# exercises every resolution path a 100 TB table log hits:
#
#   v1  append slice 0  (first write → FULL manifest, stats on)
#   v2  append slice 1  (delta_of=1)
#   v3  append slice 2  (delta_of=2)
#   v4  append slice 3  (4 % checkpoint_every == 0 → forced FULL)
#   v5  append slice 4  (delta_of=4)
#   v6  append slice 5  (delta_of=5)
#   v7  append slice 6  (delta_of=6)
#   vacuum keep_last=3  → v1..v4 expire; v5's base (v4) is expired, so
#                         vacuum materializes the c5.json CHECKPOINT
#
# A read of latest (v7) therefore MUST fold v7→v6→v5 and resolve v5 via
# the vacuum-written checkpoint — the expired base makes any other route
# raise, so a hash match is proof the delta machinery ran, not luck.
# _delta_fixture re-verifies that structure on every build and refuses to
# return a path whose log does not have the intended shape.

_DELTA_SLICES = 7  # orders rows with o_orderkey % 8 < 7; slice k → v(k+1)
_DELTA: dict[str, str] = {}


def _delta_fixture(spark: SparkSession, sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    if key in _DELTA:
        return _DELTA[key]
    tag = re.sub(r"[^A-Za-z0-9_.-]", "_", key).strip("_")
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_delta_orders_{tag}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    for k in range(_DELTA_SLICES):
        versioned_write(
            spark,
            orders.filter(F.col("o_orderkey") % 8 == k),
            path,
            mode="append",
            stats_cols=["o_orderkey"] if k == 0 else None,  # sticky after v1
            delta_min_files=1,
            checkpoint_every=4,
        )
    # the delta regime must actually be engaged before vacuum hides v1-v4:
    # v2/v3/v5/v6/v7 are deltas carrying stats_adds, v4 is the forced full
    for v, want_delta in ((2, True), (3, True), (4, False), (5, True)):
        raw = read_manifest(spark, path, v)
        if ("delta_of" in raw) != want_delta:
            raise RuntimeError(
                f"delta fixture malformed: v{v} delta={'delta_of' in raw}, "
                f"expected {want_delta} — the incremental-manifest path is "
                "not engaging"
            )
        if want_delta and not raw.get("stats_adds"):
            raise RuntimeError(f"delta fixture: v{v} carries no stats_adds")
    vacuum(spark, path, keep_last=3)
    if not storage.exists(spark, tablelog.checkpoint_uri(path, 5)):
        raise RuntimeError(
            "delta fixture: vacuum did not materialize the c5 checkpoint"
        )
    raw7 = read_manifest(spark, path, 7)
    if raw7.get("delta_of") != 6:
        raise RuntimeError("delta fixture: latest manifest is not a delta")
    _DELTA[key] = path
    return path


@register(
    "versioned_delta_chain",
    oracle=_ROLLUP_SQL.format(where="WHERE o_orderkey % 8 <> 7"),
    tags=("versioning", "delta-manifests"),
)
def versioned_delta_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read latest through an append-delta manifest chain: v7 (delta) folds
    onto v6 (delta) onto v5, which resolves via the vacuum-written c5.json
    checkpoint because its base (v4) is EXPIRED — there is no non-delta
    route to this answer, so the oracle hash certifies the O(commit)
    metadata path end-to-end (fold order, remove/add application, and
    checkpoint preference). This is the 100 TB read shape: a million-file
    table whose every append logged only its own files."""
    path = _delta_fixture(spark, sf_dir)
    return _priority_rollup(read_table(spark, path))


@register(
    "versioned_delta_cdf",
    oracle="""
SELECT 'insert' AS change_type, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderkey % 8 IN (4, 5, 6)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "delta-manifests", "cdf"),
)
def versioned_delta_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF over the delta chain, range (4, 7]: every commit in range is an
    append DELTA, so the fast path (operators/cdf.py:60-78) reads the
    union of their ``adds`` — O(changed versions) metadata. The evidence
    is structural, not circumstantial: version 4 is VACUUMED, so the
    fallback file-set diff (which resolves the from-version manifest)
    would raise — only the fast path, which never touches the endpoint
    manifests, can produce these rows at all."""
    path = _delta_fixture(spark, sf_dir)
    feed = table_changes(spark, path, from_version=4, to_version=7)
    return (
        feed.groupBy(
            "change_type",
            F.col("new_o_orderpriority").alias("o_orderpriority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("new_price_cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


_DP_LO, _DP_HI = 5_000, 30_000


@register(
    "versioned_delta_pruned",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
WHERE o_orderkey % 8 <> 7
  AND o_orderkey BETWEEN {_DP_LO} AND {_DP_HI}
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "delta-manifests", "data-skipping"),
)
def versioned_delta_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping THROUGH the delta chain: per-file stats arrive as
    ``stats_adds`` fragments on v5/v6/v7 and must fold onto the
    checkpoint's stats map before plan_scan can prune — the one resolution
    path neither versioned_delta_chain (files only) nor the graded
    versioned_pruned_scan (full manifests only) certifies. The residual
    filter keeps the result exact regardless of pruning; the hash proves
    the folded stats lost nothing."""
    path = _delta_fixture(spark, sf_dir)
    return _priority_rollup(
        scan_table(spark, path, "o_orderkey", lo=_DP_LO, hi=_DP_HI)
    )


@register(
    "versioned_sql_time_travel",
    # Same relation as versioned_time_travel, read through the SQL-ONLY
    # surface: the `versioned.`path` VERSION AS OF k` table syntax
    # (operators/versioned_sql.py rewrite) → snapshot-pinned temp view →
    # spark.sql aggregation. A hash match certifies the rewrite + view
    # registration path end-to-end, completing the SQL-only lifecycle
    # (VERDICT r8 stretch: reads as well as lifecycle).
    oracle=_ROLLUP_SQL.format(where=""),
    tags=("versioning", "time-travel", "sql"),
)
def versioned_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel via pure SQL: VERSION AS OF 2 after the destructive v3
    merge must see every order — through the statement-rewrite path, not
    read_table directly."""
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    path = _fixture(spark, sf_dir)
    return sql(
        spark,
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(price_cents) AS BIGINT) AS total_cents
        FROM versioned.`{path}` VERSION AS OF 2
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
    )


@register(
    "versioned_timestamp_travel",
    # Same relation as versioned_sql_time_travel, pinned by WALL-CLOCK
    # TIMESTAMP instead of version number: the manifests' committed_at_ms
    # field (recorded at every publish, VERDICT r9 item 3) resolves a
    # between-commits instant to the greatest version committed at or
    # before it. A hash match certifies record→resolve→pin end-to-end.
    oracle=_ROLLUP_SQL.format(where=""),
    tags=("versioning", "time-travel", "timestamps"),
)
def versioned_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF through the SQL surface: an instant strictly
    between the v2 append's commit and the v3 destructive merge's commit
    must read exactly v2 (every order). The instant is taken from the
    fixture's own recorded timestamps — ``max(ts_v2, ts_v3 - 1)`` — so
    the pin is deterministic for any real clock (commits are multi-second
    Spark jobs; only a same-millisecond v2/v3 pair could be ambiguous,
    and then no timestamp can separate them by definition)."""
    from procurement_data_pipeline_spark.operators.versioned_sql import sql

    path = _fixture(spark, sf_dir)
    ts2 = int(read_manifest(spark, path, 2)["committed_at_ms"])
    ts3 = int(read_manifest(spark, path, 3)["committed_at_ms"])
    ts = max(ts2, ts3 - 1)
    return sql(
        spark,
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(price_cents) AS BIGINT) AS total_cents
        FROM versioned.`{path}` TIMESTAMP AS OF {ts}
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
    )


# ---------------------------------------------------------------------------
# Merge-on-read fixture — oracle-hash evidence for equality deletes (the
# Iceberg v2 delete-file / Delta deletion-vector shape, round 9):
#
#   v1  append all orders            (FULL manifest, stats on)
#   v2  MOR delete  o_orderkey % 13 == 0   → delete entry, ZERO rewrites
#   v3  MOR update  o_orderkey % 17 == 0 rows at price_cents + 1
#                                    → second delete entry + appended rows
#
# Structural proof baked into the fixture: v2's data-file list is
# BYTE-IDENTICAL to v1's and v3 carries v1's files as a subset with
# files_rewritten == 0 — no rewrite happened, so only the delete-entry
# read path can explain the missing/updated rows. Keys divisible by BOTH
# 13 and 17 are REBORN by the v3 upsert (their update rows' birth version
# escapes the v2 entry) — the hash certifies birth-version scoping, not
# just masking.

_MOR: dict[str, str] = {}


def _mor_fixture(spark: SparkSession, sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    if key in _MOR:
        return _MOR[key]
    tag = re.sub(r"[^A-Za-z0-9_.-]", "_", key).strip("_")
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_mor_orders_{tag}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    versioned_write(spark, orders, path, stats_cols=["o_orderkey"])
    merge_into(
        spark,
        path,
        orders.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey"),
        key_col="o_orderkey",
        when_matched="delete",
        strategy="merge-on-read",
    )
    merge_into(
        spark,
        path,
        orders.filter(F.col("o_orderkey") % 17 == 0).withColumn(
            "price_cents", F.col("price_cents") + F.lit(1).cast("long")
        ),
        key_col="o_orderkey",
        when_matched="update",
        strategy="merge-on-read",
    )
    # RESOLVED manifests (code-review r9): a table big enough to cross the
    # delta threshold publishes the merges as delta manifests, where the
    # raw dict has deletes_adds and no 'files' key — the structural claims
    # are about the resolved file lists either way
    m1 = resolve_manifest(spark, path, 1)
    m2 = resolve_manifest(spark, path, 2)
    m3 = resolve_manifest(spark, path, 3)
    if m2["files"] != m1["files"] or m2["merge"]["files_rewritten"] != 0:
        raise RuntimeError(
            "mor fixture malformed: the v2 delete rewrote data files — "
            "the merge-on-read path is not engaging"
        )
    if not (set(m1["files"]) < set(m3["files"])) or len(m3["deletes"]) != 2:
        raise RuntimeError(
            "mor fixture malformed: v3 must carry v1's files plus the "
            "upsert appends and two delete entries"
        )
    _MOR[key] = path
    return path


@register(
    "versioned_mor_delete",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 17 = 0
              THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 1
              ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
  WHERE o_orderkey % 17 = 0 OR o_orderkey % 13 <> 0
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "merge-on-read", "deletes"),
)
def versioned_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read latest after a merge-on-read DELETE and a merge-on-read UPSERT
    that rewrote zero data files (the fixture refuses to return
    otherwise): % 13 keys are masked by the v2 delete entry, % 17 keys
    take the upserted price, and % 221 keys are REBORN by the upsert —
    visible despite the older delete because their files' birth version
    escapes it. No non-delete-path route can produce this relation."""
    path = _mor_fixture(spark, sf_dir)
    return _priority_rollup(read_table(spark, path))


@register(
    "versioned_describe_debt",
    # The delete-debt counters a SQL user reads before deciding OPTIMIZE
    # is due (VERDICT r9 item 4). File COUNTS are physical-layout facts
    # (how Spark split the write) with no SQL-derivable value, so the
    # hashed relation carries the layout-independent truths: the entry
    # count, the total masked keys (data-derived), and the two structural
    # flags — v1's files DO read through anti-joins, the v3 upsert's
    # appended files DO escape them by birth version.
    oracle="""
SELECT CAST(2 AS INT) AS entry_count,
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 13 = 0)
          + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 17 = 0)
          AS BIGINT) AS total_keys,
       CAST(1 AS INT) AS reads_pay_antijoin,
       CAST(1 AS INT) AS upsert_files_escape
""",
    tags=("versioning", "merge-on-read", "observability"),
)
def versioned_describe_debt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``describe_deletes`` over the merge-on-read fixture: two entries
    (the v2 delete, the v3 upsert), total_keys = |%13 keys| + |%17 keys|,
    some data files masked (v1's, paying the anti-join) and some not
    (the upsert's appends, escaping by birth version)."""
    d = describe_deletes(spark, _mor_fixture(spark, sf_dir))
    return spark.createDataFrame(
        [
            (
                d["entry_count"],
                d["total_keys"],
                1 if d["masked_file_count"] > 0 else 0,
                1 if d["data_file_count"] > d["masked_file_count"] else 0,
            )
        ],
        "entry_count int, total_keys long, reads_pay_antijoin int, "
        "upsert_files_escape int",
    )


# Partial-column MERGE fixture (VERDICT r9 item 5):
#   v1  append all orders
#   v2  MERGE … WHEN MATCHED AND o_orderpriority <> '1-URGENT'
#       THEN UPDATE SET price_cents = t.price_cents + s.price_cents
#       (updates = the %11 keys carrying bonus_cents = orderkey % 1000)
# Only price_cents changes, and only where the target-row condition
# holds; o_orderpriority is NOT in the SET list, so a hash match proves
# the unlisted column carried the TARGET value even on updated rows.

_US: dict[str, str] = {}


def _update_set_fixture(spark: SparkSession, sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    if key in _US:
        return _US[key]
    tag = re.sub(r"[^A-Za-z0-9_.-]", "_", key).strip("_")
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_us_orders_{tag}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    versioned_write(spark, orders, path, stats_cols=["o_orderkey"])
    merge_into(
        spark,
        path,
        orders.filter(F.col("o_orderkey") % 11 == 0).withColumn(
            "price_cents", (F.col("o_orderkey") % 1000).cast("long")
        ),
        key_col="o_orderkey",
        when_matched_condition="o_orderpriority <> '1-URGENT'",
        update_set={"price_cents": "t.price_cents + s.price_cents"},
    )
    _US[key] = path
    return path


@register(
    "versioned_merge_update_set",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 11 = 0 AND o_orderpriority <> '1-URGENT'
              THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT)
                   + (o_orderkey % 1000)
              ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "merge", "update-set"),
)
def versioned_merge_update_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read latest after a partial-column conditional MERGE: %11 keys on
    non-urgent orders gained their (orderkey % 1000) bonus IN the
    price_cents column only — urgent %11 orders carried unchanged (the
    target-row condition), and o_orderpriority survived on updated rows
    (it is not in the SET list). No UPDATE SET * path can produce this
    relation."""
    path = _update_set_fixture(spark, sf_dir)
    return _priority_rollup(read_table(spark, path))


# Column-mapping fixture (VERDICT r10 item 4, round 11):
#   v1  append all orders (stats on o_orderkey)
#   v2  RENAME COLUMN price_cents -> cents       (metadata only)
#   v3  append o_orderkey%7==0 rows AGAIN under the new logical name
# A hash match proves pre-rename files read through the physical pin,
# post-rename files read under the same logical name, and both eras
# aggregate together — zero data was rewritten by the rename.

_RN: dict[str, str] = {}


def _renamed_fixture(spark: SparkSession, sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    if key in _RN:
        return _RN[key]
    tag = re.sub(r"[^A-Za-z0-9_.-]", "_", key).strip("_")
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_rn_orders_{tag}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    versioned_write(spark, orders, path, stats_cols=["o_orderkey"])
    rename_column(spark, path, "price_cents", "cents")
    versioned_write(
        spark,
        orders.filter(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            "o_orderpriority",
            F.col("price_cents").alias("cents"),
        ),
        path,
    )
    _RN[key] = path
    return path


@register(
    "versioned_renamed_scan",
    # duplicated %7 rows: every such order counts twice — the oracle
    # replays the duplication straight from `orders`
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 7 = 0
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "column-mapping"),
)
def versioned_renamed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a table whose money column was RENAMED between two append
    eras (column mapping: pre-rename files carry the old on-disk name,
    post-rename files the same physical name via the metadata pin) and
    roll it up under the new logical name. Cites the Delta column-mapping
    semantics this reimplements (public docs); zero data rewritten."""
    path = _renamed_fixture(spark, sf_dir)
    df = read_table(spark, path)
    return (
        df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


_CONS: dict[str, str] = {}


@register(
    "versioned_consolidated_scan",
    # The MOR fixture's exact relation read AFTER consolidate_deletes
    # collapsed its two delete entries into one (the v2 delete merges
    # into the v3 upsert's entry — no data file was born in [2,3), so
    # the masking is provably identical): a hash match certifies the
    # metadata-only entry compaction changed nothing a reader sees.
    # Runs on a shallow CLONE so the shared fixture keeps its 2-entry
    # shape for versioned_mor_delete / versioned_describe_debt.
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 17 = 0
              THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 1
              ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
  WHERE o_orderkey % 17 = 0 OR o_orderkey % 13 <> 0
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "merge-on-read", "consolidation"),
)
def versioned_consolidated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-clone the merge-on-read fixture, consolidate its delete
    entries (2 → 1, metadata only), and read: the relation must equal
    versioned_mor_delete's byte-for-byte — reads pay ONE anti-join where
    they paid two, with identical results."""
    src = _mor_fixture(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    if key not in _CONS:
        dst = src + "_cons"
        shutil.rmtree(dst, ignore_errors=True)
        clone_table(spark, src, dst)
        consolidate_deletes(spark, dst)
        d = describe_deletes(spark, dst)
        if d["entry_count"] != 1:
            raise RuntimeError(
                f"consolidation fixture malformed: {d['entry_count']} "
                "entries survived (expected 1)"
            )
        _CONS[key] = dst
    return _priority_rollup(read_table(spark, _CONS[key]))


_CLONES: dict[str, str] = {}


@register(
    "versioned_clone_scan",
    # Shallow CLONE of the MOR fixture's latest (zero-copy branch whose
    # manifest references the source's files, delete entries and births
    # carried): reading the CLONE must equal reading the source — i.e.
    # the same relation versioned_mor_delete hashes, through a clone's
    # manifest instead. Certifies the carry of files+deletes+births.
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderpriority,
         CASE WHEN o_orderkey % 17 = 0
              THEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) + 1
              ELSE CAST(FLOOR(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders
  WHERE o_orderkey % 17 = 0 OR o_orderkey % 13 <> 0
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("versioning", "clone", "merge-on-read"),
)
def versioned_clone_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a SHALLOW clone of the merge-on-read fixture: the clone's
    manifest references the source's data files with the delete entries
    and birth map carried, so masking and rebirth scoping replay exactly
    — zero data was copied to make this table."""
    src = _mor_fixture(spark, sf_dir)
    key = os.path.abspath(sf_dir)
    if key not in _CLONES:
        dst = src + "_clone"
        shutil.rmtree(dst, ignore_errors=True)
        clone_table(spark, src, dst)
        _CLONES[key] = dst
    return _priority_rollup(read_table(spark, _CLONES[key]))
