"""daily_batch: consecutive days through ``plans.procurement.run_daily``.

One op is one day; one unit is three consecutive days. A day's commit phase
is ``run_daily``: the reference-scale generator (1,000 orders over 5
products), the raw partition writes and the six-task DAG (sync, aggregate,
net demand, supplier JSON export, quality checks, archive). Its read phase is
the five dashboard KPIs over the accumulated warehouse, each collected.
Warm-up is two concurrent days on throw-away warehouses.

After the loop every day is recomputed in DuckDB from the raw parquet the
day wrote: the net-demand rows, the supplier JSON totals and the KPIs. A day
that disagrees counts as a failed op.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import glob
import json
import os
import random
import shutil
from decimal import Decimal

import duckdb

from perfbench.harness import concurrently, tree_bytes

PKG = "procurement_data_pipeline_spark"
KPIS = (
    "total_net_demand",
    "demand_by_product",
    "demand_by_supplier",
    "order_status_breakdown",
    "total_estimated_cost",
)
WARMUP_THREADS = 2
WARMUP_ROUNDS = 1
DAYS_PER_UNIT = 3  # a unit spans ~16 s, so a run is one whole unit
TASKS = (
    "sync_partitions",
    "aggregate_orders",
    "calculate_net_demand",
    "export_supplier_json",
    "quality_checks",
    "copy_to_processed",
)


class DailyBatch:
    name = "daily_batch"

    def __init__(self, ctx, sf: float | None = None):
        self.ctx = ctx
        rng = random.Random(ctx.seed)
        start = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(730))
        self.next_date = start
        self.gen_seed = rng.randrange(1, 2**31)
        self.root = os.path.join(ctx.work, "warehouse")
        self.days: list[str] = []
        self.kpis: dict[str, dict[str, list]] = {}

    def describe(self) -> dict:
        return {"first_date": self.days[0] if self.days else None, "days": len(self.days),
                "generator_seed": self.gen_seed}

    def setup(self) -> None:
        from procurement_data_pipeline_spark.catalog import Warehouse

        Warehouse(self.root).init_layout()

    def warmup(self) -> None:
        """Days on throw-away warehouses, WARMUP_THREADS at a time, dated
        before the measured days; the measured warehouse starts empty."""
        first = self.next_date - dt.timedelta(days=WARMUP_ROUNDS)
        for r in range(WARMUP_ROUNDS):
            date = (first + dt.timedelta(days=r)).isoformat()
            roots = [os.path.join(self.ctx.work, f"warmup-{t}") for t in range(WARMUP_THREADS)]
            concurrently([lambda root=root: self._run_day(root, date) for root in roots],
                         WARMUP_THREADS)
        for t in range(WARMUP_THREADS):
            shutil.rmtree(os.path.join(self.ctx.work, f"warmup-{t}"))

    def unit(self, i: int) -> None:
        for _ in range(DAYS_PER_UNIT):
            date = self.next_date.isoformat()
            self.next_date += dt.timedelta(days=1)
            self.days.append(date)
            with self.ctx.op("day", key=date):
                self.kpis[date] = self._run_day(self.root, date, self.ctx.log.phase)

    def _run_day(self, root: str, date: str, phase=lambda kind, fn: fn()) -> dict[str, list]:
        """``run_daily`` for ``date`` (commit), then every KPI collected (read)."""
        from procurement_data_pipeline_spark.catalog import Warehouse
        from procurement_data_pipeline_spark.operators import kpi
        from procurement_data_pipeline_spark.plans import procurement

        spark = self.ctx.spark
        wh = Warehouse(root)

        def commit() -> None:
            _, results = procurement.run_daily(spark, root, date, seed=self.gen_seed)
            bad = {n: r.error for n, r in results.items() if r.status != "success"}
            if bad:
                raise RuntimeError(f"tasks failed: {bad}")

        def read(name: str) -> list:
            nd = wh.read_derived(spark, "net_demand")
            fn = getattr(kpi, name)
            df = fn(wh.read_orders(spark)) if name == "order_status_breakdown" else fn(nd)
            return [r.asDict() for r in df.collect()]

        phase("commit", commit)
        return {k: phase("read", lambda k=k: read(k)) for k in KPIS}

    def finish(self) -> dict:
        con = duckdb.connect()
        try:
            _load_master_data(con)
            for date in self.days:
                if date not in self.kpis:
                    continue  # the day's op already failed
                reason = self._check(con, date)
                if reason:
                    self.ctx.log.reject(date, reason)
        finally:
            con.close()
        from procurement_data_pipeline_spark.catalog import RAW_ORDERS, RAW_STOCK

        batches = sum(
            os.path.getsize(p)
            for zone in (RAW_ORDERS, RAW_STOCK)
            for p in glob.glob(os.path.join(self.root, zone, "*", "*.parquet"))
        )
        # Nothing is deleted or rewritten, so bytes on disk are bytes written.
        amp = tree_bytes(self.root) / batches
        return {"write_amp": amp, "space_amp": amp}

    def _check(self, con, date: str) -> str | None:
        from procurement_data_pipeline_spark.catalog import (
            OUTPUT_SUPPLIER_ORDERS,
            PROCESSED,
            RAW_ORDERS,
            RAW_STOCK,
        )

        def files(*parts: str) -> str:
            return os.path.join(self.root, *parts, "*.parquet")

        orders = files(RAW_ORDERS, f"order_date={date}")
        stock = files(RAW_STOCK, f"snapshot_date={date}")
        want = con.execute(EXPECTED_NET_DEMAND.format(orders=orders, stock=stock)).fetchall()
        got = con.execute(
            "SELECT product_id, supplier_id, supplier_priority, net_demand,"
            " CAST(estimated_cost * 100 AS BIGINT) FROM read_parquet(?)",
            [files(PROCESSED, "net_demand", f"calculation_date={date}")],
        ).fetchall()
        if sorted(got) != sorted(want):
            return f"net_demand rows {sorted(got)} != {sorted(want)}"

        order_date = (dt.date.fromisoformat(date) + dt.timedelta(days=1)).isoformat()
        names = dict(con.execute("SELECT supplier_id, supplier_name FROM suppliers").fetchall())
        products = dict(con.execute("SELECT product_id, product_name FROM products").fetchall())
        expect: dict[int, list] = {}
        for pid, sid, _, qty, cents in want:
            expect.setdefault(sid, []).append((pid, qty, cents))
        for out_dir in (
            os.path.join(self.root, OUTPUT_SUPPLIER_ORDERS, order_date),
            os.path.join(self.root, PROCESSED, "supplier_orders", order_date),
        ):
            docs = {}
            for p in glob.glob(os.path.join(out_dir, "supplier_*.json")):
                with open(p) as f:
                    doc = json.load(f)
                docs[doc["supplier_id"]] = doc
            if set(docs) != set(expect):
                return f"{out_dir}: suppliers {sorted(docs)} != {sorted(expect)}"
            for sid, items in expect.items():
                doc = docs[sid]
                got_items = sorted(
                    (i["product_id"], i["quantity"], round(i["total_cost"] * 100))
                    for i in doc["items"]
                )
                if got_items != sorted(items):
                    return f"supplier {sid} items {got_items} != {sorted(items)}"
                if round(doc["total_estimated_cost"] * 100) != sum(c for *_, c in items):
                    return f"supplier {sid} total {doc['total_estimated_cost']}"
                if doc["supplier_name"] != names[sid] or doc["data_date"] != date:
                    return f"supplier {sid} header {doc['supplier_name']} {doc['data_date']}"

        k = self.kpis[date]
        total = sum(q for *_, q, _ in want)
        if k["total_net_demand"] != [{"total_net_demand": total or None}]:
            return f"total_net_demand {k['total_net_demand']} != {total}"
        cost = Decimal(sum(c for *_, c in want)) / 100
        if k["total_estimated_cost"] != [{"total_estimated_cost": cost or None}]:
            return f"total_estimated_cost {k['total_estimated_cost']} != {cost}"
        by_product: dict[str, int] = {}
        by_supplier: dict[str, int] = {}
        for pid, sid, _, qty, _ in want:
            by_product[products[pid]] = by_product.get(products[pid], 0) + qty
            by_supplier[names[sid]] = by_supplier.get(names[sid], 0) + qty
        if {r["product_name"]: r["net_demand"] for r in k["demand_by_product"]} != by_product:
            return f"demand_by_product {k['demand_by_product']} != {by_product}"
        if {r["supplier_name"]: r["total_demand"] for r in k["demand_by_supplier"]} != by_supplier:
            return f"demand_by_supplier {k['demand_by_supplier']} != {by_supplier}"
        status = dict(
            con.execute(f"SELECT status, COUNT(*) FROM read_parquet('{orders}') GROUP BY 1").fetchall()
        )
        if {r["status"]: r["order_count"] for r in k["order_status_breakdown"]} != status:
            return f"order_status_breakdown {k['order_status_breakdown']} != {status}"
        return None

    # --- traced run ----------------------------------------------------------

    def install_tracing(self, tracer) -> None:
        from procurement_data_pipeline_spark import generate
        from procurement_data_pipeline_spark.catalog import Warehouse
        from procurement_data_pipeline_spark.operators import kpi
        from procurement_data_pipeline_spark.plans import procurement
        from procurement_data_pipeline_spark.plans.runner import Pipeline

        for fn in ("generate_orders", "generate_inventory", "master_data"):
            tracer.install(generate, fn, f"generate.{fn}", PKG)
        for m in ("write_orders", "write_inventory"):
            tracer.install(Warehouse, m, f"catalog.ingest.{m}", PKG)
        for m in ("read_orders", "read_inventory", "read_derived"):
            tracer.install(Warehouse, m, f"catalog.discover.{m}", PKG)
        tracer.install(Warehouse, "write_derived", "catalog.write_derived", PKG)
        for fn in ("aggregate_orders", "net_demand", "present_net_demand", "supplier_orders",
                   "write_supplier_json", "exceptions_report", "write_exceptions_json"):
            tracer.install(procurement, fn, f"operators.{fn}", PKG)
        for fn in KPIS:
            tracer.install(kpi, fn, f"operators.kpi.{fn}", PKG)
        tracer.install(Pipeline, "run", "plans.run", PKG)
        add = Pipeline.add

        def traced_add(pipe, task):
            return add(pipe, dataclasses.replace(task, fn=tracer.wrap(task.fn, f"plans.{task.name}")))

        tracer.patch(Pipeline, "add", traced_add)

    def layer_metrics(self, tracer) -> dict:
        days = max(1, len({s.op for s in tracer.spans if s.op}))
        tot = {k: sum(v) for k, v in tracer.totals().items()}

        def per_day(*names: str) -> float:
            return sum(tot.get(n, 0.0) for n in names) / days

        out = {f"plans.{t}_s": per_day(f"plans.{t}") for t in TASKS}
        out["plans.runner_overhead_s"] = per_day("plans.run") - sum(
            out[f"plans.{t}_s"] for t in TASKS
        )
        out["catalog.ingest_write_s"] = per_day(
            "catalog.ingest.write_orders", "catalog.ingest.write_inventory"
        )
        out["catalog.partition_discovery_s"] = per_day(
            *(n for n in tot if n.startswith("catalog.discover."))
        )
        out["catalog.write_derived_s"] = per_day("catalog.write_derived")
        out["generate_s"] = per_day(*(n for n in tot if n.startswith("generate.")))
        out["operators.kpi_s"] = per_day(*(n for n in tot if n.startswith("operators.kpi.")))
        selfs = tracer.self_times()
        for layer in ("generate", "catalog", "plans", "operators"):
            out[f"{layer}.self_s_per_day"] = sum(
                v for k, v in selfs.items() if k.split(".")[0] == layer
            ) / days
        return out


def _load_master_data(con) -> None:
    from procurement_data_pipeline_spark import generate as g

    con.execute(
        "CREATE TABLE products (product_id INT, product_name VARCHAR, product_code VARCHAR,"
        " category VARCHAR, unit_price DECIMAL(10,2), safety_stock_level INT,"
        " min_order_quantity INT, is_active BOOLEAN)"
    )
    con.executemany("INSERT INTO products VALUES (?,?,?,?,?,?,?,?)", g.PRODUCTS_SEED)
    con.execute(
        "CREATE TABLE suppliers (supplier_id INT, supplier_name VARCHAR, supplier_code VARCHAR,"
        " lead_time_days INT, reliability_score DECIMAL(3,2), is_active BOOLEAN)"
    )
    con.executemany("INSERT INTO suppliers VALUES (?,?,?,?,?,?)", g.SUPPLIERS_SEED)
    con.execute(
        "CREATE TABLE product_suppliers (product_id INT, supplier_id INT,"
        " unit_cost DECIMAL(10,2), priority INT, is_preferred BOOLEAN)"
    )
    con.executemany("INSERT INTO product_suppliers VALUES (?,?,?,?,?)", g.PRODUCT_SUPPLIERS_SEED)


# The reference MRP formula (net_demand.sql): per active product, demand plus
# safety stock minus free inventory, clamped at zero, priced at the preferred
# supplier's unit cost; only positive demand is kept.
EXPECTED_NET_DEMAND = """
WITH demand AS (
  SELECT product_id, SUM(quantity) AS q FROM read_parquet('{orders}') GROUP BY 1
), inv AS (
  SELECT product_id, SUM(available_qty) AS a, SUM(reserved_qty) AS r,
         MAX(safety_stock) AS s
  FROM read_parquet('{stock}') GROUP BY 1
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY product_id
                               ORDER BY priority, unit_cost, supplier_id) AS rk
  FROM product_suppliers
), nd AS (
  SELECT p.product_id, r.supplier_id, r.priority, r.unit_cost,
         GREATEST(0, COALESCE(d.q, 0) + COALESCE(i.s, p.safety_stock_level)
                     - (COALESCE(i.a, 0) - COALESCE(i.r, 0))) AS n
  FROM products p
  LEFT JOIN demand d USING (product_id)
  LEFT JOIN inv i USING (product_id)
  JOIN ranked r ON r.product_id = p.product_id AND r.rk = 1
  JOIN suppliers s ON s.supplier_id = r.supplier_id AND s.is_active
  WHERE p.is_active
)
SELECT product_id, supplier_id, priority, CAST(n AS INT),
       CAST(CAST(n * unit_cost AS DECIMAL(18,2)) * 100 AS BIGINT)
FROM nd WHERE n > 0
"""
