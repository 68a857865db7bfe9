"""analytic_mix: the 19 declared ``bench=True`` queries over seeded tables.

One op is one query run through the ``noop`` sink; one unit is two passes
over all 19, each in its own seeded order. Warm-up is one pass, three
queries at a time, that collects every result and compares it with the
query's DuckDB oracle (canonicalized as ``tools/check_oracle.py`` does). A
query whose result disagrees has every op counted as failed.
"""

from __future__ import annotations

import os
import random

import duckdb

from perfbench import fixtures
from perfbench.harness import concurrently, tree_bytes

PKG = "procurement_data_pipeline_spark"
LLM_PREFIXES = ("docs_", "emb_")
WARMUP_THREADS = 3
PASSES_PER_UNIT = 2  # a unit spans ~20 s, so a run is one whole unit


class AnalyticMix:
    name = "analytic_mix"

    def __init__(self, ctx, sf: float = 0.01):
        from procurement_data_pipeline_spark.registry import load_all

        self.ctx = ctx
        self.sf = sf
        self.rng = random.Random(ctx.seed)
        self.specs = {n: s for n, s in load_all().items() if s.bench}
        self.data_dir = os.path.join(ctx.work, "tables")
        self.persists: list[int] = []

    def describe(self) -> dict:
        return {"sf": self.sf, "queries": len(self.specs), "rows": self.rows}

    def setup(self) -> None:
        self.rows = fixtures.generate(self.data_dir, self.rng.randrange(2**31), self.sf)
        self.fixture_bytes = tree_bytes(self.data_dir)

    def _order(self) -> list[str]:
        names = sorted(self.specs)
        self.rng.shuffle(names)
        return names

    def warmup(self) -> None:
        from procurement_data_pipeline_spark.caching import release_cached
        from tools.check_oracle import CanonError, _canon

        con = duckdb.connect()
        try:
            for t in fixtures.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.rejected: dict[str, str] = {}
            spark, names = self.ctx.spark, self._order()
            builders = [self.specs[n].builder for n in names]
            results = concurrently(
                [lambda b=b: _collect(b, spark, self.data_dir) for b in builders],
                WARMUP_THREADS,
            )
            for name, got in zip(names, results):
                if isinstance(got, Exception):
                    reason = f"raised {type(got).__name__}: {got}"
                else:
                    reason = _compare(got, self.specs[name].oracle, con, _canon, CanonError)
                if reason:
                    self.rejected[name] = reason
            release_cached()
        finally:
            con.close()

    def unit(self, i: int) -> None:
        from procurement_data_pipeline_spark.caching import release_cached

        spark, ctx = self.ctx.spark, self.ctx
        for name in [n for _ in range(PASSES_PER_UNIT) for n in self._order()]:
            builder = self.specs[name].builder
            with ctx.op(name) as op:
                ctx.log.phase(
                    "read",
                    lambda: builder(spark, self.data_dir)
                    .write.format("noop").mode("overwrite").save(),
                )
                released = release_cached()
            if not op.failed:
                self.persists.append(released)

    def finish(self) -> dict:
        for name, reason in self.rejected.items():
            self.ctx.log.reject(name, reason)
        # The workload writes nothing beyond loading its tables once.
        return {"write_amp": 1.0, "space_amp": tree_bytes(self.data_dir) / self.fixture_bytes}

    # --- traced run ----------------------------------------------------------

    def install_tracing(self, tracer) -> None:
        from procurement_data_pipeline_spark import caching
        from procurement_data_pipeline_spark.sources import procurement_views, tables

        tracer.install(tables, "load_table", "sources.load_table", PKG)
        for fn in ("products", "suppliers", "product_suppliers", "orders", "inventory"):
            tracer.install(procurement_views, fn, f"sources.views.{fn}", PKG)
        tracer.install(caching, "scoped_persist", "caching.scoped_persist", PKG)
        tracer.install(caching, "release_cached", "caching.release_cached", PKG)
        for name, spec in self.specs.items():
            self.specs[name] = spec.__class__(
                **{**spec.__dict__, "builder": tracer.wrap(spec.builder, f"queries.{name}.plan")}
            )

    def layer_metrics(self, tracer) -> dict:
        out: dict[str, float] = {}
        per_query: dict[str, list[float]] = {}
        for op in self.ctx.log.ops:
            if not op.failed:
                per_query.setdefault(op.name, []).append(op.latency)
        for name in sorted(self.specs):
            xs = per_query.get(name, [])
            out[f"queries.{name}_s"] = sum(xs) / len(xs) if xs else 0.0
        out["llm_ops.family_s"] = sum(
            v for k, v in out.items() if k.split(".", 1)[1].startswith(LLM_PREFIXES)
        )
        passes = max(1, sum(1 for _ in per_query.get(sorted(self.specs)[0], [])))
        selfs = tracer.self_times()
        out["sources.load_s_per_pass"] = sum(
            v for k, v in selfs.items() if k.startswith("sources.")
        ) / passes
        out["queries.plan_s_per_pass"] = sum(
            v for k, v in selfs.items() if k.startswith("queries.")
        ) / passes
        xs = self.persists
        out["caching.persists_per_op"] = sum(xs) / len(xs) if xs else 0.0
        return out


def _collect(builder, spark, data_dir: str):
    """The query's rows as pandas, or the exception it raised."""
    try:
        return builder(spark, data_dir).toPandas()
    except Exception as e:  # noqa: BLE001 — a failing query is a result, not a crash
        return e


def _compare(got, oracle_sql, con, canon, canon_error) -> str | None:
    """None when ``got`` matches the oracle (or, without one, canonicalizes
    and is non-empty); otherwise the reason for rejecting it."""
    try:
        got_rows = canon(got)
    except canon_error as e:
        return f"canonicalization: {e}"
    if oracle_sql is None:
        return None if got_rows else "empty result"
    want = con.execute(oracle_sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    want_rows = canon(want)
    if got_rows != want_rows:
        diff = [(a, b) for a, b in zip(got_rows, want_rows) if a != b][:2]
        return f"rows differ: {len(got_rows)} vs {len(want_rows)}; first diffs {diff}"
    return None
