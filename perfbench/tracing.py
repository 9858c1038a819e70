"""Tracing for the per-layer metrics: spans around each layer call, and
per-operator metrics read from Spark's SQL status store after each action.

Spark is lazy, so ``Tracer`` turns every layer call into a staged step:
the layer's DataFrame inputs are forced first (a ``noop`` write over the
cached upstream; that time is the span's upstream), then the layer's
output is persisted and forced into a ``noop`` sink inside the span.
Self time is the span minus its upstream. Every SQL execution started
inside a span ran operators that the layer's call produced, so its
per-operator metrics are attributed to that layer.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]*)")
_SEP = "\x01"
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(-?\d+),[^,)]*\)")

PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def parse_metric(text: str) -> tuple[float, float | None, float | None, float | None]:
    """A status-store metric string -> (total, min, med, max) in bytes,
    seconds or plain counts. Per-task stats appear as
    ``total (min, med, max (stageId: taskId))\\n8.3 s (2.0 s, 2.1 s, 2.1 s (stage 0.0: task 1))``."""
    line = text.split("\n")[-1]
    vals = [float(n.replace(",", "")) * _UNITS.get(u, 1) for n, u in _NUM.findall(line)[:4]]
    if "\n" in text and len(vals) == 4:
        return vals[0], vals[1], vals[2], vals[3]
    return (vals[0] if vals else 0.0), None, None, None


class PlanStore:
    """Reads executed SQL plans and their metrics from the status store."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        return int(self.store.executionsCount())

    def nodes_since(self, mark: int) -> list[dict]:
        """Every plan node of every execution started after ``mark``:
        name, description, metrics {name: parsed}, and child node ids."""
        out = []
        execs = self.store.executionsList(mark, 1 << 30)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            graph = self.store.planGraph(eid)
            # one py4j call per map / metric list instead of one per value
            values = dict(kv.split(" -> ", 1) for kv in
                          self.store.executionMetrics(eid).mkString(_SEP).split(_SEP) if kv)
            children = defaultdict(list)
            edges = graph.edges()
            for j in range(edges.size()):
                e = edges.apply(j)
                children[e.toId()].append(e.fromId())
            # A cached plan referenced twice in one query shows up twice
            # with the same accumulators: count each accumulator once.
            seen: set[str] = set()
            nodes = graph.allNodes()
            for j in range(nodes.size()):
                n = nodes.apply(j)
                metrics = {}
                for m in _PLAN_METRIC.finditer(n.metrics().mkString(_SEP)):
                    name, acc = m.group(1), m.group(2)
                    if acc in values and acc not in seen:
                        seen.add(acc)
                        metrics[name] = parse_metric(values[acc])
                out.append({"exec": eid, "id": n.id(), "name": n.name(), "desc": n.desc(),
                            "metrics": metrics, "children": children[n.id()]})
        return out


def metric_total(nodes: list[dict], name: str, node_filter=None) -> float:
    return sum(n["metrics"][name][0] for n in nodes
               if name in n["metrics"] and (node_filter is None or node_filter(n)))


def input_rows(nodes: list[dict], node: dict) -> float:
    """Rows flowing into ``node``: the nearest descendant reporting output rows."""
    by_id = {(n["exec"], n["id"]): n for n in nodes}
    todo = list(node["children"])
    while todo:
        child = by_id.get((node["exec"], todo.pop(0)))
        if child is None:
            continue
        for key in ("number of output rows", "records read"):
            if key in child["metrics"]:
                return child["metrics"][key][0]
        todo.extend(child["children"])
    return 0.0


def parses_per_doc(nodes: list[dict], docs: int) -> float:
    """Documents handed to a Python operator that consumes the html
    column (every such operator parses each document it receives), per
    input document."""
    parsed = sum(input_rows(nodes, n) for n in nodes
                 if PY_TIME in n["metrics"] and "html#" in n["desc"])
    return parsed / docs


def task_skew(nodes: list[dict]) -> float:
    """max / median task time of the heaviest timed operator."""
    best = None
    for n in nodes:
        for name in ("duration", PY_TIME):
            total, _, med, mx = n["metrics"].get(name, (0, None, None, None))
            if med and (best is None or total > best[0]):
                best = (total, mx / med)
    return best[1] if best else 1.0


def job_names(spark, group: str) -> list[str]:
    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()
    return [status.job(j).name() for j in sorted(sc.statusTracker().getJobIdsForGroup(group))]


def persisted_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class Observer:
    """Hook for an iteration of the untraced shape: calls each layer
    as-is and samples the persisted bytes between calls."""

    def __init__(self, spark):
        self.spark = spark
        self.persist_peak = 0

    def __call__(self, layer, fn, *args, **kw):
        self.persist_peak = max(self.persist_peak, persisted_bytes(self.spark))
        out = fn(*args, **kw)
        self.persist_peak = max(self.persist_peak, persisted_bytes(self.spark))
        return out


class Tracer:
    """Hook that stages each layer call into a span (see module doc)."""

    def __init__(self, spark, iteration: str):
        from pyspark.sql import DataFrame

        self.spark = spark
        self.plans = PlanStore(spark)
        self.iteration = iteration
        self.spans: list[dict] = []
        self._df_type = DataFrame

    def _force(self, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def __call__(self, layer, fn, *args, **kw):
        sc = self.spark.sparkContext
        inputs = [a for a in list(args) + list(kw.values()) if isinstance(a, self._df_type)]
        upstream = sum(self._force(d) for d in inputs)
        group = f"{self.iteration}-span{len(self.spans)}"
        sc.setJobGroup(group, f"{layer}:{getattr(fn, '__name__', '')}")
        mark = self.plans.mark()
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        if isinstance(out, self._df_type):
            out = out.persist()
            self._force(out)
        t1 = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        nodes = self.plans.nodes_since(mark)
        span = {
            "trace": self.iteration, "id": len(self.spans), "parent": self.iteration,
            "name": layer, "call": getattr(fn, "__name__", ""),
            "start": t0, "end": t1, "upstream_s": upstream,
            "self_s": max(t1 - t0 - upstream, 0.0),
            "jobs": job_names(self.spark, group), "nodes": nodes,
            "rows_in": inputs[0].count() if inputs else None,
            "rows_out": out.count() if isinstance(out, self._df_type) else None,
        }
        self.spans.append(span)
        return out
