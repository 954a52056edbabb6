"""Measurement helpers: summary statistics, in-memory spans with self-time
arithmetic, and readers for what Spark itself records (SQL status store,
block-manager storage memory, job ids, JVM memory pools)."""

from __future__ import annotations

import gc
import json
import re
import statistics
import time
from dataclasses import asdict, dataclass

# ---------------------------------------------------------------------------
# Summary statistics
# ---------------------------------------------------------------------------


def median_n(values) -> tuple[float, int]:
    """``(median, sample count)``; ``(0.0, 0)`` for no samples."""
    vals = list(values)
    if not vals:
        return 0.0, 0
    return float(statistics.median(vals)), len(vals)


def growth(values) -> float:
    """Median of the last quarter over the median of the first quarter (at
    least one sample each); 1.0 when there are fewer than two samples."""
    vals = list(values)
    if len(vals) < 2:
        return 1.0
    q = max(1, len(vals) // 4)
    first = statistics.median(vals[:q])
    return float(statistics.median(vals[-q:]) / first) if first > 0 else 1.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    step: int | None  # batch / query id


class Tracer:
    """Spans kept in memory; :meth:`dump` writes them out at the end."""

    def __init__(self):
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, *, parent: int | None = None,
            step: int | None = None) -> int:
        self.spans.append(Span(name, start, end, parent, step))
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its children
    cover (overlapping children are merged; the parts of a child outside the
    parent's interval are ignored)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    totals: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        totals[s.name] = totals.get(s.name, 0.0) + t
    return totals


# ---------------------------------------------------------------------------
# Spark readers
# ---------------------------------------------------------------------------


def storage_bytes(spark) -> int:
    """Block-manager storage memory in use, summed over the block managers:
    persisted and checkpointed frames and broadcast blocks."""
    it = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().valuesIterator()
    used = 0
    while it.hasNext():
        max_mem_free = it.next()
        used += max_mem_free._1() - max_mem_free._2()
    return used


def live_storage_bytes(spark, *, settle_s: float = 0.02, tries: int = 100) -> int:
    """:func:`storage_bytes` of what is still referenced: collect garbage in
    Python and in the JVM first, so the context cleaner drops every frame and
    broadcast nothing holds, then read until two reads ``settle_s`` apart
    agree (the cleaner runs on its own thread)."""
    gc.collect()
    spark._jvm.System.gc()
    prev = None
    for _ in range(tries):
        time.sleep(settle_s)
        cur = storage_bytes(spark)
        if cur == prev:
            break
        prev = cur
    return cur


def max_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def jvm_peak_mb(spark) -> float:
    """Sum of the JVM memory pools' peak usage, in MB."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()) / 1e6


def max_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}
_LABEL = re.compile(r'label="(.*?)" tooltip=')


def parse_metric(value: str) -> float:
    """Spark's preformatted metric text -> number (bytes, ms or count)."""
    v = value.strip().split(" (")[0].replace(",", "")
    parts = v.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0]) if parts else 0.0


def plan_metrics(dot: str) -> list[tuple[str, float]]:
    """``(metric, value)`` pairs of every node in a plan graph's DOT rendering."""
    out = []
    for label in _LABEL.findall(dot):
        items = label.replace("\\n", "<br>").split("<br>")
        for k, item in enumerate(items):
            name, sep, val = item.partition(": ")
            if not sep or item.startswith("<b>"):
                continue
            if val.startswith("total (") and k + 1 < len(items):
                val = items[k + 1]
            try:
                out.append((name, parse_metric(val)))
            except ValueError:
                continue
    return out


def sql_totals(spark, after_id: int) -> dict[str, float]:
    """Totals over SQL executions with id > ``after_id``, read from the
    status store's final (AQE-updated) plan graphs."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    tot = {"sql.executions": 0.0, "sql.shuffle_mb": 0.0, "sql.spill_mb": 0.0, "sql.python_s": 0.0}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            continue
        tot["sql.executions"] += 1
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        for name, val in plan_metrics(dot):
            if name == "shuffle bytes written":
                tot["sql.shuffle_mb"] += val / 1e6
            elif name == "spill size":
                tot["sql.spill_mb"] += val / 1e6
            elif name == "time to run Python workers":
                tot["sql.python_s"] += val / 1e3
    return tot
