"""Model-based randomized testing of the versioned table format.

A seeded random walk issues append / overwrite / merge-update /
merge-delete / rollback / optimize / vacuum against BOTH the real table
and a trivial in-memory reference model (dict of id → s, plus a snapshot
per version). After every operation the real latest must equal the model;
at the end, every RETAINED version must time-travel to its snapshot and
every EXPIRED version must refuse loudly. This is the evidence class unit
tests can't give: the format's invariants hold under arbitrary
interleavings of its operations, not just the scripted ones.

Seeded `random.Random` (not hypothesis) because each operation is a real
Spark write — deterministic short walks keep the suite's time budget.
"""

from __future__ import annotations

import random

import pytest

from procurement_data_pipeline_spark.operators.versioning import (
    latest_version,
    merge_into,
    optimize_table,
    read_table,
    rollback,
    vacuum,
    versioned_write,
)

_OPS = (
    "append",
    "append",  # weighted: appends dominate real workloads
    "overwrite",
    "merge_update",
    "merge_delete",
    "rollback",
    "optimize",
    "vacuum",
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, s string")


def _read(spark, t, version=None):
    return {
        (r["id"], r["s"]) for r in read_table(spark, t, version=version).collect()
    }


@pytest.mark.parametrize("manifests", ["full", "delta"])
@pytest.mark.parametrize("seed", [7, 23])
def test_random_walk_matches_model(spark, tmp_path, seed, manifests, monkeypatch):
    if manifests == "delta":
        # force incremental manifests at toy scale: every append/merge
        # logs adds/removes, checkpoint every 3rd version — the random
        # walk then exercises delta resolution under arbitrary
        # interleavings including rollback/vacuum checkpointing
        from procurement_data_pipeline_spark.operators import tablelog

        monkeypatch.setattr(tablelog, "_DELTA_MIN_FILES", 0)
        monkeypatch.setattr(tablelog, "_CHECKPOINT_EVERY", 3)
    rng = random.Random(seed)
    t = str(tmp_path / f"tbl{seed}{manifests}")
    next_id = 0

    def fresh_rows(k):
        nonlocal next_id
        rows = [(next_id + i, f"s{seed}-{next_id + i}") for i in range(k)]
        next_id += k
        return rows

    model: dict[int, str] = {}
    snapshots: dict[int, dict[int, str]] = {}
    vacuumed_below = 0  # versions < this are expired

    rows0 = fresh_rows(3)
    versioned_write(spark, _df(spark, rows0), t, stats_cols=["id"])
    model = dict(rows0)
    snapshots[1] = dict(model)

    for _step in range(22):
        op = rng.choice(_OPS)
        if op == "append":
            rows = fresh_rows(rng.randint(1, 3))
            versioned_write(spark, _df(spark, rows), t, mode="append")
            model.update(dict(rows))
        elif op == "overwrite":
            rows = fresh_rows(rng.randint(1, 3))
            versioned_write(spark, _df(spark, rows), t, mode="overwrite")
            model = dict(rows)
        elif op == "merge_update":
            if not model:
                continue
            touch = rng.sample(sorted(model), min(len(model), 2))
            ups = [(i, f"upd{seed}-{i}-{_step}") for i in touch] + fresh_rows(1)
            merge_into(spark, t, _df(spark, ups), key_col="id")
            model.update(dict(ups))
        elif op == "merge_delete":
            if not model:
                continue
            doomed = rng.sample(sorted(model), min(len(model), 2))
            merge_into(
                spark,
                t,
                _df(spark, [(i, "x") for i in doomed]).select("id"),
                key_col="id",
                when_matched="delete",
            )
            for i in doomed:
                model.pop(i, None)
        elif op == "rollback":
            live = [v for v in snapshots if v >= max(vacuumed_below, 1)]
            if not live:
                continue
            target = rng.choice(sorted(live))
            rollback(spark, t, to_version=target)
            model = dict(snapshots[target])
        elif op == "optimize":
            optimize_table(spark, t, target_files=rng.choice([1, 2]))
        elif op == "vacuum":
            keep = rng.choice([2, 3])
            vacuum(spark, t, keep_last=keep)
            latest = latest_version(spark, t)
            vacuumed_below = max(vacuumed_below, latest - keep + 1)
        v = latest_version(spark, t)
        snapshots[v] = dict(model)
        assert _read(spark, t) == set(model.items()), f"step {_step} op {op}"

    # every retained version time-travels to its snapshot; expired refuse
    latest = latest_version(spark, t)
    for v, snap in snapshots.items():
        if v < vacuumed_below:
            with pytest.raises(ValueError, match="does not exist"):
                read_table(spark, t, version=v)
        else:
            assert _read(spark, t, version=v) == set(snap.items()), f"v{v}"
