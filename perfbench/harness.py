"""Measurement machinery shared by the workloads.

* :func:`tail` — the tail-latency rule: the highest percentile that still has
  at least ten samples beyond it.
* :class:`OpLog` — attempted/failed accounting. A raised op or an op whose
  output a correctness check rejected counts as failed and contributes no
  latency.
* :func:`measure` — the closed loop: one client runs whole units (a day, a
  pass, a round) back to back for the requested seconds.
* :class:`Tracer` — spans recorded around calls into the program's public
  functions, for the traced run only.
* :class:`SessionCounters` — per-op Spark job/stage/task counters read from
  the engine's status store, for the traced run only.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

TAIL_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float  # share of samples at or below ``value``, in %
    samples: int
    beyond: int  # samples strictly above the chosen rank


def tail(samples: list[float]) -> Tail:
    """Highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    With ``n`` sorted samples that is the sample at rank ``n - 10`` (its
    percentile is ``100 * (n - 10) / n``). With ten samples or fewer no
    percentile qualifies, and the maximum is reported with ``beyond=0``.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return Tail(xs[-1], 100.0, n, 0)
    rank = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return Tail(xs[rank - 1], 100.0 * rank / n, n, TAIL_BEYOND)


@dataclass
class Op:
    name: str
    key: str  # what a correctness check names when it rejects this op's output
    latency: float | None = None
    failed: bool = False
    error: str | None = None
    phases: list[tuple[str, float]] = field(default_factory=list)


class OpLog:
    """Every op attempted in the measured loop, with its phases.

    A phase is a timed call inside an op whose latency is also reported on
    its own (``commit`` and ``read``). A failed op keeps no latency and no
    phase samples: failures count as missing every latency limit.
    """

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.ops: list[Op] = []
        self.clock = clock
        self._current: Op | None = None

    @contextmanager
    def op(self, name: str, key: str | None = None) -> Iterator[Op]:
        op = Op(name, key or name)
        self.ops.append(op)
        self._current = op
        t0 = self.clock()
        try:
            yield op
        except Exception as e:  # noqa: BLE001 — a failing op is a result, not a crash
            op.failed = True
            op.error = f"{type(e).__name__}: {e}"
            print(f"op {name} failed: {op.error}", file=sys.stderr)
        else:
            op.latency = self.clock() - t0
        finally:
            self._current = None

    def phase(self, kind: str, fn: Callable[[], Any]) -> Any:
        """Run ``fn`` inside the current op and record its latency as ``kind``."""
        if self._current is None:
            raise RuntimeError("phase() outside op()")
        t0 = self.clock()
        out = fn()
        self._current.phases.append((kind, self.clock() - t0))
        return out

    def reject(self, key: str, reason: str) -> int:
        """A correctness check rejected the output behind ``key``: every op
        carrying that key becomes failed and loses its latency."""
        n = 0
        for op in self.ops:
            if op.key == key and not op.failed:
                op.failed, op.error, op.latency, op.phases = True, reason, None, []
                n += 1
        print(f"check rejected {key}: {reason}", file=sys.stderr)
        return n

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(op.failed for op in self.ops)

    def latencies(self) -> list[float]:
        return [op.latency for op in self.ops if not op.failed]

    def phase_latencies(self, kind: str) -> list[float]:
        return [s for op in self.ops if not op.failed for k, s in op.phases if k == kind]


def measure(
    unit: Callable[[int], None],
    seconds: float,
    clock: Callable[[], float] = time.perf_counter,
) -> tuple[float, int]:
    """Closed loop with one client: run whole units back to back.

    A unit starts only if the run is expected to end within ``seconds``
    (elapsed time plus the last unit's duration), and at least one always
    runs. A unit is a day, a pass or a round, so the op mix of a run
    does not depend on where the clock stops. Returns (measured wall
    seconds, units run).
    """
    start = clock()
    units, last = 0, 0.0
    while units == 0 or (clock() - start) + last <= seconds:
        t0 = clock()
        unit(units)
        last = clock() - t0
        units += 1
    return clock() - start, units


def concurrently(fns: list[Callable[[], Any]], threads: int) -> list[Any]:
    """Run ``fns`` on a thread pool and return their results in order.

    Only warm-up uses this: concurrent calls exercise the same engine code
    paths as sequential ones in less wall time, so the JIT warms up faster.
    """
    with ThreadPoolExecutor(threads) as pool:
        futures = [pool.submit(fn) for fn in fns]
        return [f.result() for f in futures]


# --- tracing -----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Spans around calls into the program, kept in memory until exit.

    ``install`` replaces a public function (or method) with a wrapper that
    records a span while ``enabled`` is true; the wrapper is also swapped
    into every package module that imported the function by name, so calls
    from inside the program are seen too. ``uninstall`` restores all.
    """

    def __init__(self, clock: Callable[[], float] = time.perf_counter):
        self.clock = clock
        self.enabled = False
        self.op_id: str | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, self.clock(), 0.0, parent, self.op_id))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = self.clock()

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, owner: object, attr: str, name: str, package: str) -> None:
        original = getattr(owner, attr)
        wrapped = self.wrap(original, name)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m
                for mname, m in list(sys.modules.items())
                if mname.startswith(package) and m is not owner
                and getattr(m, attr, None) is original
            ]
        for t in targets:
            self.patch(t, attr, wrapped)

    def patch(self, owner: object, attr: str, value: object) -> None:
        """Set ``owner.attr`` until :meth:`uninstall`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patches:
            t, attr, original = self._patches.pop()
            setattr(t, attr, original)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def totals(self, prefix: str = "") -> dict[str, list[float]]:
        """Inclusive durations per span name (optionally filtered by prefix)."""
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s.name.startswith(prefix):
                out.setdefault(s.name, []).append(s.end - s.start)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "spans": [s.__dict__ for s in self.spans],
                    "self_time_s": self.self_times(),
                },
                f,
            )


# --- engine counters ---------------------------------------------------------


class SessionCounters:
    """Per-op Spark work, read from the engine's status store.

    Each op runs under its own job group; afterwards its job ids come from
    ``statusTracker()`` and each stage's task count, run time and bytes from
    ``statusStore().lastStageAttempt(id)`` (works with the UI disabled).
    """

    FIELDS = (
        "jobs",
        "stages",
        "tasks",
        "executor_busy_s",
        "driver_only_s",
        "input_bytes",
        "shuffle_write_bytes",
        "output_bytes",
        "failed_tasks",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.per_op: list[dict[str, float]] = []

    @contextmanager
    def op(self, group: str) -> Iterator[None]:
        self.sc.setJobGroup(group, group)
        w0 = time.time()
        try:
            yield
        finally:
            w1 = time.time()
            self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
            self.per_op.append(self._collect(group, w0, w1))

    def _collect(self, group: str, w0: float, w1: float) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(self.FIELDS, 0.0)
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1000 if done.isDefined() else w1
                intervals.append((max(w0, sub.get().getTime() / 1000), min(w1, end)))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["executor_busy_s"] += sd.executorRunTime() / 1000
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["output_bytes"] += sd.outputBytes()
                c["failed_tasks"] += sd.numFailedTasks()
        c["driver_only_s"] = (w1 - w0) - _union_length(intervals)
        return c

    def per_op_means(self) -> dict[str, float]:
        n = max(1, len(self.per_op))
        out = {}
        for f in self.FIELDS:
            total = sum(op[f] for op in self.per_op)
            out[f if f == "failed_tasks" else f + "_per_op"] = (
                total if f == "failed_tasks" else total / n
            )
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- process and storage probes ---------------------------------------------


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the engine JVM, from /proc/<pid>/status."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def tree_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            p = os.path.join(dirpath, name)
            out[p] = os.path.getsize(p)
    return out
