"""Helpers of the benchmark that need no Spark session.

Everything here is plain Python so that ``perfbench/tests`` can check it
without starting a JVM: the tail-percentile rule, failure accounting,
the order-insensitive value hash, the process-tree RSS sampler, the span
recorder and the parser that turns streaming progress into
``streaming.*`` metrics.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import statistics
import threading
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# Latency summaries


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that leaves at least ``beyond`` of
    ``n`` samples strictly above it; None when ``n <= beyond``."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``pct``% of the samples at or below it."""
    if not values:
        raise ValueError("nearest_rank of no values")
    s = sorted(values)
    k = max(1, math.ceil(pct / 100 * len(s)))
    return s[k - 1]


def tail_latency(values: list[float], beyond: int = 10) -> tuple[float, int | None]:
    """(value, percentile) of the tail rule; the percentile is None and
    the value is the maximum when there are too few samples."""
    pct = tail_percentile(len(values), beyond)
    if pct is None:
        return max(values), None
    return nearest_rank(values, pct), pct


# --------------------------------------------------------------------------
# Failure accounting


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool
    error: str = ""


@dataclass
class OpLog:
    """Every op attempted in a timed run. An op that raised or returned
    a wrong result counts as failed, and its latency counts as missing
    every limit (``math.inf``), so a failure can only push percentiles up."""

    ops: list[OpResult] = field(default_factory=list)

    def add(self, name: str, seconds: float, ok: bool, error: str = "") -> None:
        self.ops.append(OpResult(name, seconds, ok, error))

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)

    def latencies(self) -> list[float]:
        return [o.seconds if o.ok else math.inf for o in self.ops]

    def summary(self) -> dict:
        lat = self.latencies()
        tail, pct = tail_latency(lat)
        return {
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail,
            "op_tail_pct": pct,
            "ops": len(lat),
            "fail_ratio": self.failed / max(1, self.attempted),
        }


# --------------------------------------------------------------------------
# Canonical, order-insensitive value hash


NULL = "\x00null"


def canon_value(v) -> str:
    """One engine-neutral text form per value. NULL and NaN collapse to
    one token (``toPandas`` turns NULL doubles into NaN); integral floats
    print as integers (``toPandas`` turns nullable ints into floats);
    decimals compare by value; timestamps print naive UTC ISO-8601."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return NULL
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return NULL
        if math.isfinite(f) and f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, str):
        return v
    if isinstance(v, np.datetime64):
        if np.isnat(v):
            return NULL
        v = v.astype("datetime64[us]").item()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row
        return canon_value(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def rows_hash(columns: list[str], rows) -> str:
    """sha256 over rows with columns taken in name order and rows sorted,
    so neither column nor row order changes the hash."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon_value(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def frame_hash(pdf) -> str:
    """rows_hash of a pandas frame."""
    cols = [str(c) for c in pdf.columns]
    return rows_hash(cols, pdf.itertuples(index=False, name=None))


# --------------------------------------------------------------------------
# Peak RSS of this process and everything it started


def _proc_table() -> dict[int, tuple[int, int, bytes]]:
    """pid -> (ppid, VmRSS bytes, cmdline) of every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces; ppid is 2 fields after ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmdline = fh.read()
            rss = 0
            with open(f"/proc/{name}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        rss = int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
        table[int(name)] = (ppid, rss, cmdline)
    return table


def tree_rss(table: dict[int, tuple[int, int, bytes]], root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A child with its
    parent's command line and exactly its RSS is a fork or vfork caught
    before ``exec`` that still maps the parent's memory; it is skipped,
    or a helper spawned by the JVM would count the whole JVM twice."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _rss, _cmd) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        if pid not in table:
            continue
        ppid, rss, cmd = table[pid]
        parent = table.get(ppid)
        if pid != root and parent is not None and parent[1:] == (rss, cmd):
            continue
        total += rss
    return total


def children_of(pid: int) -> list[int]:
    return [p for p, (ppid, _r, _c) in _proc_table().items() if ppid == pid]


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; ``stop()``
    joins it and returns the peak in MB."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(_proc_table(), root))
            self._stop.wait(self.interval_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


# --------------------------------------------------------------------------
# Spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span store. ``open`` returns the span index, which
    children name as parent; ``self_times`` subtracts the union of each
    span's children from its duration."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            op: str = "", **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, op, attrs))
        return len(self.spans) - 1

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == idx
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s.end - s.start) - covered

    def self_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + self.self_time(i)
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, **s.attrs}
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# Streaming progress → streaming.* metrics

STREAM_DURATIONS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.get_batch_s": "getBatch",
    "streaming.planning_s": "queryPlanning",
}
# the offset write-ahead log and the commit log are both written per batch
STREAM_COMMIT = ("walCommit", "commitOffsets")


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Sum the per-batch durations of ``StreamingQueryProgress`` dicts
    (``json.loads(p.json)``) into seconds, and take the largest state
    seen (rows and memory are gauges, not flows)."""
    out = {k: 0.0 for k in STREAM_DURATIONS}
    out["streaming.commit_s"] = 0.0
    out["streaming.state_rows"] = 0
    out["streaming.state_mem_mb"] = 0.0
    for p in progress:
        d = p.get("durationMs") or {}
        for key, name in STREAM_DURATIONS.items():
            out[key] += d.get(name, 0) / 1000
        out["streaming.commit_s"] += sum(d.get(n, 0) for n in STREAM_COMMIT) / 1000
        ops = p.get("stateOperators") or []
        out["streaming.state_rows"] = max(
            out["streaming.state_rows"], sum(o.get("numRowsTotal", 0) for o in ops)
        )
        out["streaming.state_mem_mb"] = max(
            out["streaming.state_mem_mb"],
            sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20,
        )
    return out


def batch_latencies(progress: list[dict]) -> list[float]:
    """Trigger wall time, in seconds, of every batch that read input."""
    return [
        p["durationMs"]["triggerExecution"] / 1000
        for p in progress
        if p.get("numInputRows", 0) > 0 and "triggerExecution" in (p.get("durationMs") or {})
    ]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
