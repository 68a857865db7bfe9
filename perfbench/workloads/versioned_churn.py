"""versioned_churn: writes beside reads on one multi-version table.

The table starts as a seeded orders relation. One unit is a round of three
cycles, each ``append`` (new keys), copy-on-write ``merge_into`` (updates to
recent keys plus some inserts), then six reads: the latest version twice,
time travel two versions back, and three key-range ``scan_table`` calls that
prune files.
The round ends with ``optimize_table`` and ``vacuum``. Every op is its own
sample: writes are ``commit``, reads are ``read``, each materialized through
the ``noop`` sink (a ``count()`` would be answered from parquet footers).
Warm-up is one cycle plus the maintenance.

After the loop the latest snapshot and one older version are compared with
the relation DuckDB derives by replaying the seeded op log.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from urllib.parse import urlparse

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import tree_bytes, tree_files

PKG = "procurement_data_pipeline_spark"
CYCLES_PER_ROUND = 3
KEEP_LAST = 4
TRAVEL_BACK = 2
# Reads outnumber writes, as on a table that serves queries between loads.
READS = ("read_latest", "scan", "time_travel", "scan", "read_latest", "scan")
HOT_KEYS = 20  # updates pick from the newest HOT_KEYS appended batches
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


class VersionedChurn:
    name = "versioned_churn"

    def __init__(self, ctx, sf: float = 0.01):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.np = np.random.default_rng(self.rng.randrange(2**31))
        self.rows = max(1000, int(2_000_000 * sf))
        self.batch = max(20, self.rows // 100)
        self.table = os.path.join(ctx.work, "table")
        self.batch_dir = os.path.join(ctx.work, "batches")
        self.oplog: list[tuple[int, str, str]] = []  # (version, kind, batch file)
        self.keys: list[int] = []
        self.next_key = 0
        self.version = -1
        self.first_version = 0
        self.written_bytes = 0
        self.batch_bytes = 0
        self.files_seen: dict[str, int] = {}
        self.rewritten: list[int] = []
        self.kept: list[tuple[int, int]] = []

    def describe(self) -> dict:
        return {"rows": self.rows, "batch": self.batch, "cycles_per_round": CYCLES_PER_ROUND,
                "latest_version": self.version}

    # --- seeded inputs ---------------------------------------------------------

    def _rows(self, keys: np.ndarray) -> pd.DataFrame:
        n, g = len(keys), self.np
        days = g.integers(0, 2400, n)
        return pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": g.integers(0, 15000, n).astype(np.int64),
            "o_status": [STATUSES[i] for i in g.integers(0, 3, n)],
            "o_totalcents": g.integers(100_000, 50_000_000, n).astype(np.int64),
            "o_orderdate": [dt.date(1995, 1, 1) + dt.timedelta(days=int(d)) for d in days],
            "o_priority": [PRIORITIES[i] for i in g.integers(0, 5, n)],
        })

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        self.keys.extend(int(k) for k in keys)
        return keys

    def _save(self, df: pd.DataFrame) -> str:
        path = os.path.join(self.batch_dir, f"b{len(self.oplog):05d}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
        self.batch_bytes += os.path.getsize(path)
        return path

    # --- ops ---------------------------------------------------------------------

    def _track(self, manifest: dict | None, kind: str, batch: str | None) -> None:
        """After a write: count the bytes it wrote and, if it committed,
        log it with the version it published (vacuum publishes none)."""
        if manifest is not None:
            self.version = manifest.get("version", self.version)
            self.oplog.append((self.version, kind, batch))
        files = tree_files(self.table)
        self.written_bytes += sum(
            size for p, size in files.items() if self.files_seen.get(p) != size
        )
        self.files_seen = files

    def setup(self) -> None:
        from procurement_data_pipeline_spark.operators import versioning as V

        os.makedirs(self.batch_dir, exist_ok=True)
        base = self._rows(self._new_keys(self.rows))
        path = self._save(base)
        man = V.versioned_write(
            self.ctx.spark, self._df(base), self.table, stats_cols=["o_orderkey"]
        )
        self.first_version = man["version"]
        self._track(man, "append", path)

    def _df(self, pdf: pd.DataFrame):
        return self.ctx.spark.createDataFrame(pdf)

    def warmup(self) -> None:
        self._cycle(measured=False)
        self._maintain(measured=False)

    def unit(self, i: int) -> None:
        self._round(measured=True)

    def _round(self, measured: bool) -> None:
        for _ in range(CYCLES_PER_ROUND):
            self._cycle(measured)
        self._maintain(measured)

    def _maintain(self, measured: bool) -> None:
        self._commit("optimize", lambda V, s: V.optimize_table(s, self.table), None, measured)
        self._commit(
            "vacuum", lambda V, s: V.vacuum(s, self.table, keep_last=KEEP_LAST), None, measured
        )

    def _cycle(self, measured: bool) -> None:
        appended = self._rows(self._new_keys(self.batch))
        self._commit(
            "append",
            lambda V, s: V.versioned_write(s, self._df(appended), self.table),
            self._save(appended),
            measured,
        )
        n_new = self.batch // 5
        # Updates favour recent orders: keys appended during the run.
        hot = np.array(self.keys[self.rows:][-HOT_KEYS * self.batch:])
        old = self.np.choice(hot, self.batch - n_new, replace=False)
        upserts = self._rows(np.concatenate([old, self._new_keys(n_new)]))
        path = self._save(upserts)
        man = self._commit(
            "merge",
            lambda V, s: V.merge_into(s, self.table, self._df(upserts), "o_orderkey"),
            path,
            measured,
        )
        if man is not None:
            self.rewritten.append(man.get("merge", {}).get("files_rewritten", 0))

        travel = max(self.first_version, self.version - TRAVEL_BACK)
        for name in READS:
            if name == "read_latest":
                self._read(name, lambda V, s: V.read_table(s, self.table), measured)
            elif name == "time_travel":
                self._read(name, lambda V, s: V.read_table(s, self.table, version=travel), measured)
            else:
                span = max(1, self.next_key // 20)
                lo = self.rng.randrange(0, max(1, self.next_key - span))
                self._read(
                    name,
                    lambda V, s: V.scan_table(s, self.table, "o_orderkey", lo, lo + span),
                    measured,
                )
                if self.ctx.tracing:
                    self.kept.append(_plan(self.ctx.spark, self.table, lo, lo + span))

    def _commit(self, name, fn, batch, measured) -> dict | None:
        from procurement_data_pipeline_spark.operators import versioning as V

        spark = self.ctx.spark
        if not measured:
            man = fn(V, spark)
        else:
            man = None
            with self.ctx.op(name, key="snapshot"):
                man = self.ctx.log.phase("commit", lambda: fn(V, spark))
        self._track(man, name, batch)
        return man

    def _read(self, name, fn, measured) -> None:
        from procurement_data_pipeline_spark.operators import versioning as V

        spark = self.ctx.spark

        def run() -> None:
            fn(V, spark).write.format("noop").mode("overwrite").save()

        if not measured:
            run()
            return
        key = "time_travel" if name == "time_travel" else "snapshot"
        with self.ctx.op(name, key=key):
            self.ctx.log.phase("read", run)

    # --- checks and storage ------------------------------------------------------

    def finish(self) -> dict:
        from procurement_data_pipeline_spark.operators import versioning as V
        from tools.check_oracle import _canon

        spark = self.ctx.spark
        travel = max(self.first_version, self.version - TRAVEL_BACK)
        con = duckdb.connect()
        try:
            # The latest snapshot must equal the whole op log replayed; an
            # older version must equal the log replayed up to that version.
            for key, version in (("snapshot", None), ("time_travel", travel)):
                want = _canon(self._replay(con, self.version if version is None else version))
                got = _canon(V.read_table(spark, self.table, version=version).toPandas())
                if got != want:
                    self.ctx.log.reject(
                        key, f"version {version or 'latest'}: {len(got)} rows differ "
                        f"from the replayed {len(want)}"
                    )
        finally:
            con.close()
        files, _ = V.plan_scan(spark, self.table)
        live = sum(os.path.getsize(_local(f)) for f in files)
        self.live_files = len(files)
        return {
            "write_amp": self.written_bytes / self.batch_bytes,
            "space_amp": tree_bytes(self.table) / live,
        }

    def _replay(self, con, version: int) -> pd.DataFrame:
        """The table at ``version`` derived from the op log alone."""
        con.execute("DROP TABLE IF EXISTS t")
        first = True
        for v, kind, batch in self.oplog:
            if v > version:
                break
            if batch is None:
                continue  # optimize and vacuum change no rows
            if first:
                con.execute("CREATE TABLE t AS SELECT * FROM read_parquet(?)", [batch])
                first = False
            elif kind == "append":
                con.execute("INSERT INTO t SELECT * FROM read_parquet(?)", [batch])
            else:
                con.execute(
                    "DELETE FROM t WHERE o_orderkey IN "
                    "(SELECT o_orderkey FROM read_parquet(?))", [batch]
                )
                con.execute("INSERT INTO t SELECT * FROM read_parquet(?)", [batch])
        return con.execute("SELECT * FROM t").df()

    # --- traced run ----------------------------------------------------------

    def install_tracing(self, tracer) -> None:
        from procurement_data_pipeline_spark.operators import versioning as V

        for fn in ("versioned_write", "merge_into", "optimize_table", "vacuum",
                   "read_table", "scan_table", "plan_scan"):
            tracer.install(V, fn, f"versioning.{fn}", PKG)

    def layer_metrics(self, tracer) -> dict:
        out: dict[str, float] = {}
        by_name: dict[str, list[float]] = {}
        for op in self.ctx.log.ops:
            if not op.failed:
                by_name.setdefault(op.name, []).append(op.latency)
        for name in ("append", "merge", "optimize", "vacuum", "read_latest", "time_travel", "scan"):
            xs = by_name.get(name, [])
            out[f"versioning.{name}_s"] = sum(xs) / len(xs) if xs else 0.0
        plans = tracer.totals("versioning.plan_scan").get("versioning.plan_scan", [])
        out["versioning.plan_scan_s"] = sum(plans) / len(plans) if plans else 0.0
        kept = sum(k for k, _ in self.kept)
        total = sum(t for _, t in self.kept)
        out["versioning.files_kept_ratio"] = kept / total if total else 0.0
        out["versioning.files_rewritten_per_merge"] = (
            sum(self.rewritten) / len(self.rewritten) if self.rewritten else 0.0
        )
        out["versioning.files_per_version"] = float(self.live_files)
        out["versioning.log_bytes"] = float(tree_bytes(os.path.join(self.table, "_log")))
        return out


def _plan(spark, table: str, lo: int, hi: int) -> tuple[int, int]:
    from procurement_data_pipeline_spark.operators import versioning as V

    files, total = V.plan_scan(spark, table, "o_orderkey", lo, hi)
    return len(files), total


def _local(uri: str) -> str:
    return urlparse(uri).path if uri.startswith("file:") else uri
