"""Measurement primitives: timing summaries, the span tracer and the
Spark monitoring-REST counter reader.

The tracer keeps spans in memory (name, start, end, parent, op id) and
derives each layer's self time from them: a span's duration minus the
part of its interval that its child spans cover. With tracing off every
call is a no-op and no wrapper is installed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import statistics
import time
import urllib.request
from collections import defaultdict

TAIL_BEYOND = 10


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, samples beyond) for the highest percentile
    that still has at least ``TAIL_BEYOND`` samples above it. Below
    ``2 * TAIL_BEYOND`` samples that percentile would fall under the
    median, so no such tail exists; the upper quartile stands in (the
    maximum of a handful of samples is too noisy to compare runs by),
    and the count of samples above it shows how thin it is."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n < 2 * TAIL_BEYOND:
        q3 = statistics.quantiles(v, n=4, method="inclusive")[2] if n > 1 else v[0]
        return 75.0, q3, sum(1 for x in v if x > q3)
    k = n - TAIL_BEYOND
    return 100.0 * k / n, v[k - 1], n - k


def summary(values) -> dict:
    """Median plus the tail rule above, with the sample count."""
    pct, val, beyond = tail(values)
    return {"n": len(values), "p50": statistics.median(values),
            "tail_pct": round(pct, 2), "tail": val, "tail_beyond": beyond}


def union_length(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals
    (clipped to the parent)."""
    kids = defaultdict(list)
    for sid, _name, s, e, parent, _op in spans:
        if parent is not None:
            kids[parent].append((s, e))
    out = {}
    for sid, _name, s, e, _parent, _op in spans:
        covered = union_length((max(cs, s), min(ce, e))
                               for cs, ce in kids.get(sid, ()) if ce > s and cs < e)
        out[sid] = (e - s) - covered
    return out


class Tracer:
    """Span and count recorder. ``enabled=False`` makes every method a
    no-op, so the untraced run pays one attribute check per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []   # [id, name, start, end, parent, op]
        self.counts: dict[tuple, float] = defaultdict(float)
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [len(self.spans), name, time.perf_counter(), None, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(rec[0])
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[(self.op_id, name)] += n

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a
        ``layer`` span and a ``layer.calls`` count per call. Calls made
        while a span of the same layer is open (a layer calling itself)
        are not re-recorded."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if tracer._stack and tracer.spans[tracer._stack[-1]][1] == layer:
                return fn(*a, **kw)
            tracer.count(f"{layer}.calls")
            with tracer.span(layer):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, s, e, parent, op in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start": s, "end": e,
                                    "parent": parent, "op": op}) + "\n")


def layer_self_times(spans, ops) -> dict[str, float]:
    """Per-layer self seconds summed over the spans of the given op ids.
    The op's root span (named ``op``) contributes its self time as
    ``unattributed``; every second of an op's wall lands in exactly one
    layer."""
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sid, name, _s, _e, _parent, op in spans:
        if op in ops:
            out["unattributed" if name == "op" else name] += st[sid]
    return dict(out)


def layer_busy(spans, ops) -> dict[str, float]:
    """Per-layer inclusive seconds (outermost span of each layer only,
    which ``Tracer.wrap`` already guarantees for wrapped layers)."""
    out: dict[str, float] = defaultdict(float)
    for _sid, name, s, e, _parent, op in spans:
        if op in ops:
            out[name] += e - s
    return dict(out)


# ---------------------------------------------------------------------------
# Spark monitoring REST API (read from outside the program)

_DUR = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h|min)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}

SPARK_ZERO = {"jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0,
              "task_run_s": 0.0, "gc_s": 0.0, "scan_bytes": 0,
              "shuffle_bytes": 0, "python_worker_s": 0.0}


def parse_duration(text: str) -> float:
    """Total of a SQL timing metric as rendered by the UI, e.g.
    ``"total (min, med, max)\\n1.2 s (0 ms, 3 ms, 40 ms)"`` → 1.2."""
    body = text.split("\n", 1)[-1]
    m = _DUR.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class SparkCounters:
    """Delta of job/stage/task counters and Python-worker time between
    ``start()`` and ``finish()``, read from ``/api/v1``. An unreachable
    endpoint yields zeros and never raises."""

    def __init__(self, spark):
        self._spark = spark
        self._base = None
        try:
            sc = spark.sparkContext
            if sc.uiWebUrl:
                # the UI listens on every interface; talk to it over loopback
                port = sc.uiWebUrl.rsplit(":", 1)[1]
                self._base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                              f"{sc.applicationId}")
        except Exception:
            self._base = None
        self._jobs: set = set()
        self._stages: set = set()
        self._sql: set = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.loads(r.read().decode())

    def _drain(self) -> None:
        # the REST store is fed by the listener bus; wait until it has
        # caught up with the jobs the op just ran
        try:
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(0.05)

    def start(self) -> None:
        if self._base is None:
            return
        try:
            self._drain()
            self._jobs = {j["jobId"] for j in self._get("/jobs")}
            self._stages = {(s["stageId"], s["attemptId"]) for s in self._get("/stages")}
            self._sql = {q["id"] for q in self._get("/sql?details=false&length=100000")}
        except Exception:
            self._base = None

    def finish(self) -> dict:
        out = dict(SPARK_ZERO)
        if self._base is None:
            return out
        try:
            self._drain()
            jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._jobs]
            stages = [s for s in self._get("/stages")
                      if (s["stageId"], s["attemptId"]) not in self._stages]
            sql = [q for q in self._get("/sql?details=true&length=100000")
                   if q["id"] not in self._sql]
        except Exception:
            return out
        out["jobs"] = len(jobs)
        out["stages"] = len(stages)
        for s in stages:
            out["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
            out["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            out["task_run_s"] += s.get("executorRunTime", 0) / 1e3
            out["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            out["scan_bytes"] += s.get("inputBytes", 0)
            out["shuffle_bytes"] += (s.get("shuffleReadBytes", 0)
                                     + s.get("shuffleWriteBytes", 0))
        for q in sql:
            for node in q.get("nodes", ()):
                for m in node.get("metrics", ()):
                    name = m.get("name", "")
                    if name.startswith("time to") and "Python worker" in name:
                        out["python_worker_s"] += parse_duration(m.get("value", ""))
        return out
