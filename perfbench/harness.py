"""Shared machinery of the benchmark: operation records, span tracing,
statistics, memory and filesystem probes.

Nothing here imports the engine; workloads hand it the engine's objects.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-th percentile (``q`` in [0, 100]):
    a Beta(p(n+1), (1-p)(n+1))-weighted mean of all order statistics. With
    the 10-25 samples of a run, a single order statistic jumps between
    clusters of unlike operations; this estimate moves smoothly. NaN when
    empty."""
    import numpy as np

    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n < 2:
        return float(xs[0]) if n else float("nan")
    p = q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cells = 20_000
    mid = (np.arange(cells) + 0.5) / cells
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))])
    cdf /= cdf[-1]
    w = np.diff(cdf[np.rint(np.arange(n + 1) * cells / n).astype(int)])
    return float(w @ xs)


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb() -> int:
    """High-water resident set size of this process, in KiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError("no VmHWM in /proc/self/status")


def data_bytes(root: str) -> int:
    """Bytes of the data files under ``root``; hidden and underscore-prefixed
    names (pointers, markers, checksums) are skipped, as the parquet reader
    skips them."""
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _dirs, names in os.walk(root)
        for n in names
        if not n.startswith((".", "_"))
    )


@dataclass
class Op:
    kind: str  # primary / read / check
    name: str
    seconds: float
    ok: bool
    rows: int = 0


@dataclass
class Recorder:
    """Every operation the closed loop issued, with its outcome."""

    ops: list[Op] = field(default_factory=list)
    warmup_ops: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def end_warmup(self) -> None:
        """Warm-up ops leave the timings but still count as attempted."""
        self.warmup_ops.extend(self.ops)
        self.ops = []

    def add(self, kind: str, name: str, seconds: float, ok: bool, rows: int = 0, why: str = "") -> None:
        self.ops.append(Op(kind, name, seconds, ok, rows))
        if not ok:
            self.errors.append(f"{kind} {name}: {why}")

    def seconds(self, kind: str, names: set[str] | None = None) -> list[float]:
        return [
            o.seconds
            for o in self.ops
            if o.kind == kind and o.ok and (names is None or o.name in names)
        ]

    def rows(self, kind: str) -> int:
        return sum(o.rows for o in self.ops if o.kind == kind and o.ok)

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.warmup_ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops + self.warmup_ops)


class Tracer:
    """In-memory spans ``[name, start, end, parent, op]``; disabled tracers
    record nothing. Parents are tracked per thread, so spans opened on a
    Spark callback thread become roots of their own, tagged with the op
    that was current when they ran."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.op: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None, self.op]
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name].append(value)

    def self_times(self) -> list[tuple[str, int | None, float]]:
        """(name, op, self seconds) per span: duration minus the union of
        the intervals its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent, _op in self.spans:
            if parent is not None and end is not None:
                children[parent].append((start, end))
        out = []
        for i, (name, start, end, _parent, op) in enumerate(self.spans):
            if end is None:
                continue
            covered = 0.0
            cur_s = cur_e = None
            for s, e in sorted(children.get(i, [])):
                s, e = max(s, start), min(e, end)
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((name, op, (end - start) - covered))
        return out

    def per_op(self, name: str) -> list[float]:
        """Summed self time of spans called ``name``, one value per op."""
        by_op: dict[int | None, float] = defaultdict(float)
        for n, op, t in self.self_times():
            if n == name:
                by_op[op] += t
        return list(by_op.values())

    def median(self, name: str) -> float:
        """Median per-op self time of ``name``; 0 when no span ran."""
        v = self.per_op(name)
        return percentile(v, 50) if v else 0.0

    def median_count(self, name: str) -> float:
        """Plain median of a recorded count; 0 when never recorded."""
        v = self.counts.get(name)
        return statistics.median(v) if v else 0.0

    def table(self) -> list[str]:
        """Human-readable per-layer self-time table, slowest first."""
        tot: dict[str, list[float]] = defaultdict(list)
        for n, _op, t in self.self_times():
            tot[n].append(t)
        rows = sorted(tot.items(), key=lambda kv: -sum(kv[1]))
        lines = [f"{'span':<52} {'n':>5} {'self_total_s':>12} {'self_p50_s':>10}"]
        for n, ts in rows:
            lines.append(f"{n:<52} {len(ts):>5} {sum(ts):>12.4f} {percentile(ts, 50):>10.4f}")
        return lines

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": n, "start": s, "end": e, "parent": p, "op": o}
                        for n, s, e, p, o in self.spans
                    ],
                    "counts": self.counts,
                },
                f,
            )


def noop_write(df) -> None:
    """Materialize every row of ``df`` without moving it to the client."""
    df.write.format("noop").mode("overwrite").save()

