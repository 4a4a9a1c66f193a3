"""Benchmark arithmetic that needs no JVM: spans and self time, the
percentile rule, parsing of Spark SQL metric strings, failure
accounting, and the process-tree RSS probe.

Everything here is unit-tested in ``perfbench/tests`` without Spark.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from dataclasses import dataclass

# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest by call order: a span opened
    while another is open becomes its child. Nothing is written until
    ``to_json`` is called at the end of the run."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str) -> _SpanCtx:
        return _SpanCtx(self, name)

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.sid,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
            }
            for s in self.spans
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name
        self.span: Span | None = None

    def __enter__(self) -> _SpanCtx:
        t = self.t
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.span = Span(self.name, time.perf_counter(), float("nan"), parent, t.run_id, len(t.spans))
            t.spans.append(self.span)
            t._stack.append(self.span.sid)
        return self

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.span.end = time.perf_counter()
            self.t._stack.pop()


def span_cost_s(n: int = 2000) -> float:
    """Seconds one recorded span costs (open, close, bookkeeping)."""
    t = Tracer("cost")
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - _covered(kids.get(s.sid, []), s.start, s.end) for s in spans}


# --------------------------------------------------------------------------
# Percentiles
# --------------------------------------------------------------------------


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def highest_percentile(n: int, candidates=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest candidate percentile with at least ten samples beyond
    it: p qualifies when n * (1 - p/100) >= 10. None below 20 samples."""
    for p in candidates:
        if n * (1 - p / 100) >= 10 - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(1, -(-len(xs) * p // 100))  # ceil(n * p / 100)
    return float(xs[int(k) - 1])


# --------------------------------------------------------------------------
# Spark SQL metric strings (as SQLAppStatusStore.executionMetrics formats them)
# --------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_TOTAL_RE = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]*)")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(kind: str, text: str | None) -> float:
    """Total of one SQL metric: bytes for ``size``, milliseconds for
    ``timing``/``nsTiming``, the plain number for ``sum``. The status
    store keeps only this formatted text; sizes and times carry one
    decimal, so the parsed value is exact to about 5 %."""
    if not text:
        return 0.0
    line = text.split("\n")[-1]
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return num * _SIZE.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return num * _TIME_MS.get(unit, 1.0)
    return num


def metric_stage(text: str | None) -> int | None:
    """Stage id named in a per-task metric string (the stage of its max
    task), or None for a one-value metric."""
    m = _STAGE_RE.search(text or "")
    return int(m.group(1)) if m else None


@dataclass
class PlanNode:
    """One node of a recorded SQL plan graph with its metric texts."""

    name: str
    desc: str
    metrics: dict[str, tuple[str, str]]  # metric name -> (kind, text)

    def value(self, metric: str) -> float:
        kind, text = self.metrics.get(metric, ("sum", ""))
        return parse_metric(kind, text)


def sum_metric(nodes: list[PlanNode], metric: str, pred=lambda n: True) -> float:
    return sum(n.value(metric) for n in nodes if pred(n))


def is_extract_python(n: PlanNode) -> bool:
    return n.name == "MapInPandas" and "_extract" in n.desc


def is_chunk_python(n: PlanNode) -> bool:
    return n.name == "MapInPandas" and "_extract" not in n.desc


def is_embed_python(n: PlanNode) -> bool:
    return n.name in ("ArrowEvalPython", "BatchEvalPython")


def is_shuffle(n: PlanNode) -> bool:
    return n.name == "Exchange" and "hashpartitioning" in n.desc


def is_scan(n: PlanNode) -> bool:
    return n.name.startswith("Scan parquet")


def is_reassembly_agg(n: PlanNode) -> bool:
    return n.name == "ObjectHashAggregate" and "collect_list" in n.desc


def python_layer(nodes: list[PlanNode], pred) -> dict[str, float]:
    """Python-UDF metrics summed over the nodes ``pred`` selects."""
    return {
        "python_total_ms": sum_metric(nodes, "time to run Python workers", pred),
        "python_init_ms": sum_metric(nodes, "time to initialize Python workers", pred),
        "python_sent_bytes": sum_metric(nodes, "data sent to Python workers", pred),
        "python_received_bytes": sum_metric(nodes, "data returned from Python workers", pred),
        "rows": sum_metric(nodes, "number of output rows", pred),
    }


def shuffle_layer(nodes: list[PlanNode]) -> dict[str, float]:
    return {
        "shuffle_write_ms": sum_metric(nodes, "shuffle write time", is_shuffle),
        "shuffle_bytes": sum_metric(nodes, "shuffle bytes written", is_shuffle),
        "shuffle_fetch_wait_ms": sum_metric(nodes, "fetch wait time", is_shuffle),
    }


# --------------------------------------------------------------------------
# Failure accounting
# --------------------------------------------------------------------------


class Tally:
    """Counts checks attempted and failed; keeps the ids of failures."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, ok: bool, ident: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(ident)
        return ok

    def error(self, ident: str, exc: BaseException) -> None:
        """An action that raised: one attempted, one failed."""
        self.check(False, f"{ident}: {type(exc).__name__}: {exc}"[:300])

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


# --------------------------------------------------------------------------
# Host probe: resident memory of a process tree
# --------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    kids = _children_map()
    todo, total = [root], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Background sampler of the peak process-tree RSS under ``root``."""

    def __init__(self, root: int, interval: float = 0.2) -> None:
        self.root, self.interval = root, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
