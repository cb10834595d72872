"""Spans around the benchmark's calls into each layer, and readers for
what Spark already records: the SQL status store (AQE-final plan graph
and its metrics), job and stage data, the GC beans and block-manager
storage. Nothing here changes what the program runs.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# Per-layer metric names and units, in the order they are reported.
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.canary_s": "s",
    "session.gc_s": "s",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.task_run_s": "s",
    "session.jvm_cpu_s": "s",
    "session.python_cpu_s": "s",
    "session.peak_pss_mb": "MB",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.write_s": "s",
    "queries.executions": "count",
    "tables.release_s": "s",
    "tables.cached_bytes_peak": "bytes",
    "tables.staged_bytes": "bytes",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_s": "s",
    "sources.bytes_written": "bytes",
    "operators.exchanges": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_records": "count",
    "operators.shuffle_write_s": "s",
    "operators.shuffle_fetch_wait_s": "s",
    "operators.smj": "count",
    "operators.shj": "count",
    "operators.bhj": "count",
    "operators.join_build_s": "s",
    "operators.sort_s": "s",
    "operators.agg_s": "s",
    "operators.agg_peak_mem_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "jobs.fanout_rows": "count",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.state_update_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.python_boot_s": "s",
    "streaming.python_total_s": "s",
    "load.gen_late_max_s": "s",
    "load.backlog_max_slices": "count",
}


class Tracer:
    """Spans kept in memory: name, start, end (seconds since the epoch),
    the enclosing span, and attributes. Written out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and s["start"] >= since
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark's own records
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str | None, kind: str) -> float:
    """A SQL metric as the status store renders it: a plain total
    (``1,000``, ``16.2 MiB``, ``648 ms``) or ``total (min, med, max
    ...)\\n<total> (...)``. Sizes come back in bytes, times in seconds."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip()
    if kind == "sum":
        return float(head.replace(",", ""))
    num, _, unit = head.partition(" ")
    num = float(num.replace(",", ""))
    if kind == "size":
        return num * _UNITS[unit]
    if kind in ("timing", "nsTiming"):
        return num * _TIME[unit]
    return num


# the plan-graph metrics ``SparkRecords.since`` reads
_USED = {
    "number of output rows",
    "scan time",
    "time to build hash map",
    "time to build",
    "sort time",
    "time in aggregation build",
    "peak memory",
    "time to start Python workers",
    "time to run Python workers",
}


class SparkRecords:
    """Snapshots of Spark's status stores; ``since(mark)`` sums what
    happened after ``mark``."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _seq(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._beans) / 1000.0

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def mark(self) -> dict:
        jobs = [j.jobId() for j in self._seq(self._app.jobsList(None))]
        stages = [s.stageId() for s in self._stages()]
        execs = [e.executionId() for e in self._seq(self._sql.executionsList())]
        return {
            "job": max(jobs, default=-1),
            "stage": max(stages, default=-1),
            "exec": max(execs, default=-1),
            "gc": self.gc_s(),
        }

    def _stages(self) -> list:
        return self._seq(
            self._app.stageList(None, False, False, self._no_quantiles, None)
        )

    def since(self, mark: dict) -> dict[str, float]:
        """Job, stage and SQL-plan totals for everything after ``mark``."""
        out = dict.fromkeys(
            [k for k in PER_LAYER if k.split(".")[0] in ("sources", "operators", "jobs")],
            0.0,
        )
        out["session.gc_s"] = self.gc_s() - mark["gc"]
        out["session.jobs"] = sum(
            1 for j in self._seq(self._app.jobsList(None)) if j.jobId() > mark["job"]
        )
        stages = [
            s
            for s in self._stages()
            if s.stageId() > mark["stage"] and s.status().toString() == "COMPLETE"
        ]
        out["session.stages"] = len(stages)
        out["session.tasks"] = sum(s.numCompleteTasks() for s in stages)
        out["session.task_run_s"] = sum(s.executorRunTime() for s in stages) / 1e3
        out["sources.scan_rows"] = sum(s.inputRecords() for s in stages)
        out["sources.scan_bytes"] = sum(s.inputBytes() for s in stages)
        out["sources.bytes_written"] = sum(s.outputBytes() for s in stages)
        out["operators.shuffle_write_bytes"] = sum(s.shuffleWriteBytes() for s in stages)
        out["operators.shuffle_records"] = sum(s.shuffleWriteRecords() for s in stages)
        out["operators.shuffle_write_s"] = sum(s.shuffleWriteTime() for s in stages) / 1e9
        out["operators.shuffle_fetch_wait_s"] = (
            sum(s.shuffleFetchWaitTime() for s in stages) / 1e3
        )
        out["operators.spill_bytes"] = sum(
            s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
        )
        execs = [
            e.executionId()
            for e in self._seq(self._sql.executionsList())
            if e.executionId() > mark["exec"]
        ]
        out["queries.executions"] = len(execs)
        out["streaming.python_boot_s"] = out["streaming.python_total_s"] = 0.0
        for eid in execs:
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                metrics = {
                    m.name(): parse_metric(values.get(m.accumulatorId()), m.metricType())
                    for m in self._seq(node.metrics())
                    if m.name() in _USED
                }
                if name == "Exchange":
                    out["operators.exchanges"] += 1
                elif name == "SortMergeJoin":
                    out["operators.smj"] += 1
                elif name == "ShuffledHashJoin":
                    out["operators.shj"] += 1
                elif name == "BroadcastHashJoin":
                    out["operators.bhj"] += 1
                elif name in ("Expand", "Generate"):
                    out["jobs.fanout_rows"] += metrics.get("number of output rows", 0.0)
                elif name.startswith("Scan "):
                    out["sources.scan_s"] += metrics.get("scan time", 0.0)
                out["operators.join_build_s"] += metrics.get("time to build hash map", 0.0)
                out["operators.join_build_s"] += metrics.get("time to build", 0.0)
                out["operators.sort_s"] += metrics.get("sort time", 0.0)
                out["operators.agg_s"] += metrics.get("time in aggregation build", 0.0)
                if "Aggregate" in name:
                    out["operators.agg_peak_mem_bytes"] = max(
                        out["operators.agg_peak_mem_bytes"],
                        metrics.get("peak memory", 0.0),
                    )
                out["streaming.python_boot_s"] += metrics.get("time to start Python workers", 0.0)
                out["streaming.python_total_s"] += metrics.get("time to run Python workers", 0.0)
        return out


def plan_seconds(df) -> float:
    """Analysis + optimisation + planning time of ``df``'s own query
    execution, forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        if got.isDefined():
            total += got.get().durationMs() / 1e3
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0

