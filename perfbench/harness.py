"""Shared run machinery: the closed-loop op timer, the traced-layer
wiring and the per-layer aggregation. A workload builds ``Op`` objects;
the harness times them, checks their outputs and keeps the records."""

from __future__ import annotations

import dataclasses
import statistics
import time
from collections import defaultdict
from typing import Any, Callable

from perfbench.trace import (SPARK_ZERO, SparkCounters, Tracer, layer_busy,
                             layer_self_times, summary)


@dataclasses.dataclass
class Op:
    """One client request. ``build`` makes the package call(s) and
    returns a DataFrame (planned and collected by the harness) or a
    finished Python value. ``expect`` gives the reference answer and
    ``diff`` compares the two (None when equal); both run outside the
    timed region."""

    kind: str
    build: Callable[[], Any]
    expect: Callable[[], Any]
    diff: Callable[[Any, Any], str | None]


# public entry points the workloads reach, wrapped in the traced run
def traced_layers():
    import inspect

    import metrique_spark.engine as engine_mod
    import metrique_spark.operators.activity as activity_mod
    import metrique_spark.streaming.events as events_mod
    import metrique_spark.temporal as temporal_mod
    from metrique_spark.functions import (bpe, classifier, curation, dedup,
                                          sampling, similarity, text)

    Engine = engine_mod.Engine
    out = [(engine_mod, "compile_mql", "mql.compile"),
           (activity_mod, "activity_import", "operators.activity"),
           (events_mod, "correlate_events", "streaming.events"),
           (Engine, "upsert", "engine.upsert"),
           (Engine, "compact", "engine.compact")]
    out += [(Engine, name, "engine.read")
            for name in ("find", "count", "distinct", "dfind", "deptree", "table")]
    out += [(Engine, name, "engine.vector_index")
            for name in ("build_vector_index", "refresh_vector_index", "vector_search")]
    out += [(temporal_mod, name, "temporal")
            for name in ("history", "date_spine", "asof_join", "dfind", "deptree")]
    # every public function of the curation modules; similarity is split
    # into index training, encoding/assignment and the rest (search)
    sim_layer = {"kmeans_fit": "train", "pq_train": "train",
                 "kmeans_assign": "encode", "pq_encode": "encode",
                 "ivf_assign": "encode"}
    for mod in (text, dedup, classifier, bpe, sampling, curation, similarity):
        short = mod.__name__.rsplit(".", 1)[1]
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            layer = f"functions.{short}"
            if mod is similarity:
                layer += "." + sim_layer.get(name, "probe")
            out.append((mod, name, layer))
    return out


class Harness:
    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.tracer = Tracer(trace)
        self.counters = SparkCounters(spark) if trace else None
        self.records: list[dict] = []     # one per timed op
        self.failures: list[str] = []
        self.attempted = 0
        self._next_op = 0
        self.spark_by_op: dict[int, dict] = {}
        if trace:
            for owner, attr, layer in traced_layers():
                self.tracer.wrap(owner, attr, layer)

    def close(self) -> None:
        self.tracer.unwrap_all()

    def run(self, op: Op, role: str = "op") -> tuple[float, Any] | None:
        """Time one op, check it, record it. Returns (wall, result), or
        None when the op raised or its result was wrong (the failure is
        recorded)."""
        self.attempted += 1
        op_id = self._next_op
        self._next_op += 1
        tr = self.tracer
        tr.op_id = op_id
        if self.counters is not None:
            self.counters.start()
        err = None
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                with tr.span("plan.build"):
                    obj = op.build()
                if hasattr(obj, "_jdf"):
                    with tr.span("plan.catalyst"):
                        obj._jdf.queryExecution().executedPlan()
                    with tr.span("spark.exec"):
                        obj = obj.toPandas()
        except Exception as e:  # a failed op is counted, never fatal
            err = f"{op.kind}: {type(e).__name__}: {str(e).splitlines()[0][:300]}"
        wall = time.perf_counter() - t0
        tr.op_id = None
        if self.counters is not None:
            self.spark_by_op[op_id] = self.counters.finish()
        if err is None:
            try:
                err = op.diff(obj, op.expect())
                if err is not None:
                    err = f"{op.kind}: wrong output: {err}"
            except Exception as e:
                err = f"{op.kind}: check raised {type(e).__name__}: {e}"
        self.records.append({"op": op_id, "kind": op.kind, "role": role,
                             "wall": wall, "ok": err is None})
        if err is not None:
            self.failures.append(err)
            return None
        return wall, obj

    # -- aggregation -------------------------------------------------------

    def walls(self, roles) -> list[float]:
        return [r["wall"] for r in self.records if r["role"] in roles and r["ok"]]

    def timing(self, roles) -> dict | None:
        w = self.walls(roles)
        return summary(w) if w else None

    def layers(self, roles=None) -> dict[str, float]:
        """Per-op mean of every traced layer over the ops of ``roles``
        (all when None): self seconds per layer (these plus
        ``unattributed_s`` sum to the mean op wall), inclusive busy
        seconds and call counts per wrapped layer, and the Spark REST
        counters."""
        ops = {r["op"] for r in self.records
               if r["ok"] and (roles is None or r["role"] in roles)}
        n = max(len(ops), 1)
        out: dict[str, float] = {}
        spans = self.tracer.spans
        for layer, s in layer_self_times(spans, ops).items():
            out[f"{layer}_s" if layer == "unattributed" else f"{layer}.self_s"] = s / n
        for layer, s in layer_busy(spans, ops).items():
            out[f"{layer}.busy_s"] = s / n
        calls = defaultdict(float)
        for (op, name), v in self.tracer.counts.items():
            if op in ops:
                calls[name] += v
        for name, v in calls.items():
            out[name] = v / n
        agg = dict(SPARK_ZERO)
        for op in ops:
            for k, v in self.spark_by_op.get(op, {}).items():
                agg[k] += v
        for k, v in agg.items():
            out[f"spark.{k}"] = v / n
        out["trace.op_wall_s"] = statistics.fmean(
            r["wall"] for r in self.records if r["op"] in ops) if ops else 0.0
        return out
