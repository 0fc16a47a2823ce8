"""Spark's own metrics for one CLI invocation, read after it ends.

Operator counts, bytes and times come from the SQL status store: the
executed plan graph of each SQL execution the invocation started, with
the SQL metrics Spark already keeps per node. Jobs, stages and tasks come
from the job group the invocation ran in.
"""

from __future__ import annotations

import re

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_VALUE = r"[\d.,]+(?: [A-Za-z]+)?"


def parse_value(text: str) -> float:
    """``12,703`` | ``40.2 KiB`` | ``10.1 s`` → count, bytes or milliseconds."""
    num, _, unit = text.strip().partition(" ")
    value = float(num.replace(",", ""))
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


def parse_metric(text: str) -> dict[str, float]:
    """A SQL metric as the status store renders it → {total, min, med, max}.
    Metrics of one task, or of planning, carry only a total."""
    lines = text.strip().split("\n")
    if len(lines) == 1:
        return {"total": parse_value(lines[0])}
    m = re.match(rf"({_VALUE}) \(({_VALUE}), ({_VALUE}), ({_VALUE}) \(", lines[1])
    if m is None:
        return {"total": parse_value(lines[1].split(" (")[0])}
    total, lo, med, hi = (parse_value(g) for g in m.groups())
    return {"total": total, "min": lo, "med": med, "max": hi}


class Node:
    """One operator of an executed plan graph with its parsed metrics."""

    def __init__(self, name: str, desc: str, metrics: dict[str, dict[str, float]]):
        self.name, self.desc, self.metrics = name.strip(), desc, metrics

    def total(self, metric: str) -> float:
        return self.metrics.get(metric, {}).get("total", 0.0)


class SqlStore:
    """The session's SQL status store, read through py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final metrics of what has run."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        execs = self.store.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def executions_after(self, execution_id: int) -> list:
        execs = self.store.executionsList()
        return [
            e for e in (execs.apply(i) for i in range(execs.size()))
            if e.executionId() > execution_id
        ]

    def nodes(self, execution_id: int) -> list[Node]:
        values = self.store.executionMetrics(execution_id)
        graph = self.store.planGraph(execution_id).allNodes()
        out = []
        for i in range(graph.size()):
            node = graph.apply(i)
            metrics = {}
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined() and not v.get().startswith("("):
                    # "(min, med, max ...)" averages carry no total; skipped
                    metrics[m.name()] = parse_metric(v.get())
            out.append(Node(node.name(), node.desc(), metrics))
        return out


def job_counts(spark, group: str) -> dict[str, float]:
    """Spark jobs, stages that ran (skipped stages excluded) and their
    tasks, over the jobs of ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numTasks
    return {"job.spark_jobs": len(jobs), "job.stages": stages, "job.tasks": tasks}


def layer_metrics(nodes: list[Node]) -> dict[str, float]:
    """Per-layer counts, bytes and operator times of the daily job's plan.

    The exchanges are told apart by what they partition on: the linker's
    ``repartition(trace_key)`` is the only ``REPARTITION_BY_NUM`` exchange,
    the link aggregate hashes (parent, child), and the dedupe exchange is
    the remaining one below the linker's."""
    mb = 2**20
    scans = [n for n in nodes if n.name.startswith("Scan")]
    exchanges = [n for n in nodes if n.name == "Exchange"]
    link_x = [n for n in exchanges if "REPARTITION_BY_NUM" in n.desc]
    agg_x = [n for n in exchanges if n.desc.startswith("Exchange hashpartitioning(parent#")]
    dedup_x = [n for n in exchanges if n not in link_x and n not in agg_x]
    dedup_aggs = [n for n in nodes if n.name == "HashAggregate" and "trace_key#" in n.desc]
    kernel = [n for n in nodes if n.name == "MapInPandas"]
    sorts = [n for n in nodes if n.name == "Sort"]
    sink = [n for n in nodes if n.name.startswith("Execute InsertInto")]

    def total(ns, metric):
        return sum(n.total(metric) for n in ns)

    python = kernel[0].metrics.get("time to run Python workers", {}) if kernel else {}
    sent = kernel[0].metrics.get("data sent to Python workers", {}) if kernel else {}
    # the final dedupe aggregate is the one whose output the linker sorts
    dedup_out = min(dedup_aggs, key=lambda n: n.total("number of output rows"), default=None)
    return {
        "sources.rows": total(scans, "number of output rows"),
        "sources.input_mb": total(scans, "size of files read") / mb,
        "sources.scan_ms": total(scans, "scan time"),
        "dedup.rows_in": total(dedup_x, "shuffle records written"),
        "dedup.rows_out": dedup_out.total("number of output rows") if dedup_out else 0.0,
        "dedup.shuffle_mb": total(dedup_x, "shuffle bytes written") / mb,
        "dedup.agg_ms": total(dedup_aggs, "time in aggregation build"),
        "link.shuffle_mb": total(link_x, "shuffle bytes written") / mb,
        "link.sort_ms": total(sorts, "sort time"),
        "link.partition_max_over_median": (
            sent["max"] / sent["med"] if sent.get("med") else 1.0
        ),
        "link.shuffle_records": total(link_x, "shuffle records written"),
        "linker.python_ms": python.get("total", 0.0),
        "linker.python_init_ms": total(kernel, "time to initialize Python workers"),
        "linker.data_sent_mb": sent.get("total", 0.0) / mb,
        "linker.rows_out": total(kernel, "number of output rows"),
        "linker.task_max_s": python.get("max", python.get("total", 0.0)) / 1000,
        "linker.task_median_s": python.get("med", python.get("total", 0.0)) / 1000,
        "aggregate.rows_in": total(agg_x, "shuffle records written"),
        "aggregate.shuffle_mb": total(agg_x, "shuffle bytes written") / mb,
        "sinks.files": total(sink, "number of written files"),
        "sinks.bytes": total(sink, "written output"),
        "job.exchanges": len(exchanges),
    }
