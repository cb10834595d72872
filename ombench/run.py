"""Benchmark of openmetrics-spark's three jobs: the flat-output join, the
counter and content-metrics jobs over a hot key, and the streaming
CUMULATE counter fed by an open loop.

    python3 ombench/run.py --workload flat_join --seed 1 --seconds 8 --trace 0

Run it from the repository root. It seeds its own inputs, runs the
program on ``local[<available cores>]`` through its public surface,
checks every output in DuckDB, and prints one JSON line: the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). Every
file it writes lives under ``.ombench_work/run-<pid>``, removed at the
end; a traced run keeps its spans under ``.ombench_work/spans``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import checks
import gen
import procs
from layers import PER_LAYER, SparkRecords, Tracer, median, plan_seconds
from pyspark.sql.streaming import StreamingQueryListener

WORK_ROOT = ".ombench_work"
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "latency_p50_s": "s",
    "cpu_s_per_mevent": "s/Mevent",
}


@dataclass(frozen=True)
class Batch:
    queries: tuple[str, ...]
    events: int
    users: int
    hot_share: float
    warm: int  # untimed passes before timing


@dataclass(frozen=True)
class Stream:
    per_slice: int  # events per slice
    users: int
    interval_s: float  # open-loop schedule: one slice due every interval
    warm: int  # slices released at once before timing
    burst: int  # slices per backlog burst
    bursts: int


# Why each workload has the shape it has: README.md, "Workloads".
WORKLOADS = {
    "flat_join": Batch(
        queries=("bfj_view_insertions", "bfj_joined_impressions", "bfj_joined_actions"),
        events=10_000,
        users=200,
        hot_share=0.0,
        warm=1,
    ),
    "counters_hotkey": Batch(
        queries=("sliding_hourly_counter", "hourly_event_metrics", "cumulate_hourly"),
        events=100_000,
        users=300,
        hot_share=0.125,
        # the first pass after one warm pass still ran ~25 % slow
        warm=2,
    ),
    "stream_cumulate": Stream(
        per_slice=2_000, users=200, interval_s=4.0, warm=3, burst=32, bursts=3
    ),
}

# per-layer figures a batch run reports per timed pass
PER_PASS = {
    k
    for k in PER_LAYER
    if k.split(".")[0] in ("queries", "sources", "operators", "jobs")
    or k in ("session.gc_s", "session.jobs", "session.stages", "session.tasks",
             "session.task_run_s", "session.jvm_cpu_s", "session.python_cpu_s",
             "tables.release_s")
} - {"operators.agg_peak_mem_bytes"}
STEP_MS = gen.HOUR_MS  # event time per stream slice, and the CUMULATE step
PERIOD_MS = gen.DAY_MS  # the CUMULATE period
FLUSH_USER = -1  # user of the event that moves the watermark past every window
CANARY_ROWS = 2_000_000
MIN_PASSES = 3  # timed passes a run makes at least, whatever --seconds says
MIN_SLICES = 4  # open-loop slices a stream run times at least, likewise
WAIT_S = 60.0  # longest wait for the stream to take in what was released


def log(msg: str) -> None:
    print(f"ombench: {msg}", file=sys.stderr, flush=True)


def machine() -> tuple[int, int, int]:
    """(cores, JVM heap MB, DuckDB MB) for this machine: the heap takes a
    quarter of memory up to 4 GB, DuckDB a sixteenth up to 1 GB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            mem_mb = min(mem_mb, int(limit) >> 20)
    except OSError:
        pass
    return cores, max(1024, min(4096, mem_mb // 4)), max(256, min(1024, mem_mb // 16))


class Run:
    """One benchmark run: its work directory, session and measurements."""

    def __init__(self, args, root: str, t_start: float):
        self.args, self.root, self.t_start = args, root, t_start
        self.work = os.path.join(root, WORK_ROOT, f"run-{os.getpid()}")
        self.tracer = Tracer()
        self.trace = bool(args.trace)
        self.spark = None
        self.records: SparkRecords | None = None
        self.tree: procs.Tree | None = None
        self.sampler: procs.PeakSampler | None = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- environment and session -------------------------------------

    def prepare(self) -> None:
        self.cores, heap_mb, self.duck_mb = machine()
        for d in ("tmp", "local", "warehouse", "data", "out", "duck"):
            os.makedirs(self.path(d), exist_ok=True)
        java_opts = f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
        os.environ.update(
            {
                # the program's stage_parquet / omx_* scratch roots follow TMPDIR
                "TMPDIR": self.path("tmp"),
                "SPARK_LOCAL_DIRS": self.path("local"),
                # the launcher JVM that spark-submit starts first
                "SPARK_LAUNCHER_OPTS": java_opts,
                "SPARK_GRAFT_CPUS": str(self.cores),
                "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
                "PYTHONPATH": os.pathsep.join(
                    p for p in (self.root, os.environ.get("PYTHONPATH")) if p
                ),
                "PYSPARK_SUBMIT_ARGS": " ".join(
                    [
                        "--conf",
                        shlex.quote(f"spark.sql.warehouse.dir={self.path('warehouse')}"),
                        "--conf",
                        shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
                        "pyspark-shell",
                    ]
                ),
            }
        )
        import tempfile

        tempfile.tempdir = None
        sys.path.insert(0, self.root)
        log(f"local[{self.cores}], heap {heap_mb} MB, DuckDB {self.duck_mb} MB, work {self.work}")

    def start_session(self) -> None:
        with self.tracer.span("session.start"):
            from pyspark import SparkContext

            from openmetrics_spark.session import get_spark

            self.spark = get_spark("ombench")
            self.tree = procs.Tree(SparkContext._gateway.proc.pid)
        # first use of the canary query itself, untimed
        self.spark.range(CANARY_ROWS).selectExpr("sum(id)").collect()
        if self.trace:
            self.records = SparkRecords(self.spark)
            self.sampler = procs.PeakSampler(self.tree)
            self.sampler.start()

    def canary(self) -> None:
        """A fixed trivial query: its time shows the host's regime beside
        the numbers a burst would inflate."""
        with self.tracer.span("session.canary"):
            (got,) = self.spark.range(CANARY_ROWS).selectExpr("sum(id)").collect()[0]
        if got != CANARY_ROWS * (CANARY_ROWS - 1) // 2:
            self.errors.append(f"canary sum {got}")

    # -- batch workloads ---------------------------------------------

    def run_batch(self, cfg: Batch) -> dict[str, float]:
        from openmetrics_spark import tables
        from openmetrics_spark.queries import all_queries

        data = self.path("data")
        with self.tracer.span("setup.generate"):
            n = gen.write_events(
                os.path.join(data, "events.parquet"),
                self.args.seed,
                cfg.events,
                cfg.users,
                cfg.hot_share,
            )
        self.start_session()
        specs = all_queries()
        last_ok: set[str] = set()

        def one_pass(timed: bool) -> dict[str, float]:
            """Runs every query once; returns the latency of each that
            succeeded, from its call to its output written."""
            latencies = {}
            for name in cfg.queries:
                self.attempted += timed
                try:
                    t0 = time.time()
                    with self.tracer.span("queries.build", query=name):
                        df = specs[name].fn(self.spark, data)
                    if self.trace:
                        self.layer["queries.plan_s"] += plan_seconds(df)
                    with self.tracer.span("queries.write", query=name):
                        df.write.mode("overwrite").parquet(self.path("out", name))
                    latencies[name] = time.time() - t0
                    if self.trace:
                        self._sample_tables()
                    with self.tracer.span("tables.release"):
                        tables.release_caches()
                    last_ok.add(name)
                except Exception:
                    log(f"{name} failed:\n{traceback.format_exc()}")
                    self.failed += timed
                    last_ok.discard(name)
            return latencies

        self.canary()
        with self.tracer.span("setup.warm_pass"):
            for _ in range(cfg.warm):
                one_pass(timed=False)
        self.canary()
        setup_s = time.time() - self.t_start
        self.layer["queries.plan_s"] = 0.0
        t_window = time.time()

        walls: list[float] = []
        latencies: dict[str, list[float]] = {name: [] for name in cfg.queries}
        cpu = [0.0, 0.0]
        while len(walls) < MIN_PASSES or sum(walls) < self.args.seconds:
            mark = self.records.mark() if self.trace else None
            c0 = self.tree.cpu()
            with self.tracer.span("pass") as span:
                for name, lat in one_pass(timed=True).items():
                    latencies[name].append(lat)
            c1 = self.tree.cpu()
            walls.append(span["end"] - span["start"])
            cpu[0] += c1[0] - c0[0]
            cpu[1] += c1[1] - c0[1]
            if self.trace:
                self._add(self.records.since(mark))
            self.canary()

        passes = len(walls)
        log(f"timed passes: {', '.join(f'{w:.3f}' for w in walls)} s")
        self._check_batch(cfg, last_ok)
        if self.trace:
            for name, span_name in (
                ("queries.build_s", "queries.build"),
                ("queries.write_s", "queries.write"),
                ("tables.release_s", "tables.release"),
            ):
                self.layer[name] = sum(self.tracer.durations(span_name, t_window))
            self.layer["session.jvm_cpu_s"], self.layer["session.python_cpu_s"] = cpu
            # batch figures are per timed pass; peaks stay as they are
            for name in PER_LAYER:
                if name in PER_PASS:
                    self.layer[name] /= passes
            self.layer["session.peak_pss_mb"] = self.sampler.stop() / 2**20
        # throughput and CPU over the whole timed window (the canaries
        # between passes excepted). Latency is each query's median run,
        # so one slow pass does not move it, and the geometric mean of
        # those over the queries: a median pooled over queries of unlike
        # length jumps from one query to another between runs.
        return {
            "setup_s": setup_s,
            "events_per_s": n * passes / sum(walls),
            "latency_p50_s": statistics.geometric_mean(
                [statistics.median(v) for v in latencies.values() if v]
            ),
            "cpu_s_per_mevent": sum(cpu) / (n * passes / 1e6),
        }

    def _sample_tables(self) -> None:
        self.layer["tables.cached_bytes_peak"] = max(
            self.layer["tables.cached_bytes_peak"], self.records.cached_bytes()
        )
        staged = 0
        for d, _, files in os.walk(self.path("tmp")):
            if "omx_" in d:
                staged += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.layer["tables.staged_bytes"] = max(self.layer["tables.staged_bytes"], staged)

    def _add(self, got: dict[str, float]) -> None:
        for k, v in got.items():
            if k == "operators.agg_peak_mem_bytes":
                self.layer[k] = max(self.layer[k], v)
            else:
                self.layer[k] += v

    def _check_batch(self, cfg: Batch, ok: set[str]) -> None:
        from openmetrics_spark.queries import all_queries

        specs = all_queries()
        con = checks.connect(
            self.duck_mb,
            self.path("duck"),
            [self.path("data", "events.parquet")],
            threads=self.cores,
        )
        try:
            with self.tracer.span("checks"):
                for name in cfg.queries:
                    if name not in ok:
                        continue
                    out = checks.parquet(self.path("out", name))
                    for err in checks.oracle_matches(con, out, specs[name].oracle):
                        self.errors.append(f"{name}: {err}")
                    for err in checks.properties(con, name, out):
                        self.errors.append(f"{name}: {err}")
        finally:
            con.close()

    # -- stream workload ---------------------------------------------

    def run_stream(self, cfg: Stream) -> dict[str, float]:
        from pyspark.sql import types as T

        n_timed = max(MIN_SLICES, math.ceil(self.args.seconds / cfg.interval_s))
        n_slices = cfg.warm + n_timed + cfg.burst * cfg.bursts
        staged = [self.path("data", f"slice-{i:05d}.parquet") for i in range(n_slices)]
        flush_src = self.path("data", "flush.parquet")
        in_dir = self.path("in")
        os.makedirs(in_dir)
        with self.tracer.span("setup.generate"):
            rows = gen.write_slices(
                staged, self.args.seed, cfg.per_slice, cfg.users, STEP_MS
            )
            flush_ms = gen.EPOCH_MS + n_slices * STEP_MS + 2 * PERIOD_MS
            gen.write_sentinel(flush_src, flush_ms, n_slices * cfg.per_slice, FLUSH_USER)
        cum_rows = [sum(rows[: i + 1]) for i in range(n_slices)]

        self.start_session()
        self.canary()
        from openmetrics_spark.streaming.core import stream_from_dir
        from openmetrics_spark.streaming.stateful import stream_cumulate_counter

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        progress = Progress()
        self.spark.streams.addListener(progress)
        with self.tracer.span("queries.build", query="stream_cumulate_counter"):
            out = stream_cumulate_counter(
                stream_from_dir(self.spark, in_dir, schema),
                "user_id",
                "ts",
                STEP_MS,
                PERIOD_MS,
            )
        query = (
            out.writeStream.format("parquet")
            .option("path", self.path("sink"))
            .option("checkpointLocation", self.path("checkpoint"))
            .outputMode("append")
            .start()
        )
        released: list[float] = [math.nan] * n_slices

        def move(src: str) -> None:
            os.rename(src, os.path.join(in_dir, os.path.basename(src)))

        def release(i: int) -> None:
            move(staged[i])
            released[i] = time.time()

        try:
            with self.tracer.span("setup.warm_pass"):
                for i in range(cfg.warm):
                    release(i)
                progress.wait_rows(cum_rows[cfg.warm - 1], WAIT_S)
                progress.wait_idle(query, WAIT_S)
            setup_s = time.time() - self.t_start
            mark = self.records.mark() if self.trace else None
            first_batch = progress.count()
            c0 = self.tree.cpu()
            # open loop: slice i is due at t0 + i * interval whatever
            # the stream is doing; latency counts from the due time
            t0 = time.time() + 0.1
            due = [t0 + k * cfg.interval_s for k in range(n_timed)]
            timed = range(cfg.warm, cfg.warm + n_timed)

            def generator() -> None:
                for k, i in enumerate(timed):
                    time.sleep(max(0.0, due[k] - time.time()))
                    release(i)

            with self.tracer.span("stream.open_loop"):
                thread = threading.Thread(target=generator)
                thread.start()
                thread.join()
                progress.wait_rows(cum_rows[timed[-1]], WAIT_S)
            rates = []
            for b in range(cfg.bursts):
                first = cfg.warm + n_timed + b * cfg.burst
                progress.wait_idle(query, WAIT_S)
                with self.tracer.span("stream.backlog"):
                    t_rel = time.time()
                    for i in range(first, first + cfg.burst):
                        release(i)
                    end = progress.wait_rows(cum_rows[first + cfg.burst - 1], WAIT_S)
                rates.append(cfg.burst * cfg.per_slice / (end - t_rel))
            if self.trace:
                self.layer["session.peak_pss_mb"] = self.sampler.stop() / 2**20
            c1 = self.tree.cpu()
            measured = progress.snapshot()[first_batch:]
            spark_layers = self.records.since(mark) if self.trace else {}
            with self.tracer.span("stream.flush"):
                move(flush_src)
                # the watermark trails the newest event by the state
                # machine's default 1 s delay
                progress.wait_watermark(flush_ms - 1000, WAIT_S)
        finally:
            query.stop()
            self.spark.streams.removeListener(progress)
        self.canary()

        ends = progress.cover_ends(cum_rows)
        latencies = [ends[i] - due[k] for k, i in enumerate(timed)]
        self.attempted = n_timed + cfg.burst * cfg.bursts
        phase_events = (n_timed + cfg.burst * cfg.bursts) * cfg.per_slice
        cpu = (c1[0] - c0[0], c1[1] - c0[1])
        self._check_stream(staged, progress.total_rows(), sum(rows) + 1)
        if self.trace:
            self._stream_layers(measured, spark_layers, released, ends, due, timed, cpu)
        return {
            "setup_s": setup_s,
            "events_per_s": statistics.median(rates),
            "latency_p50_s": statistics.median(latencies),
            "cpu_s_per_mevent": sum(cpu) / (phase_events / 1e6),
        }

    def _stream_layers(self, measured, got, released, ends, due, timed, cpu) -> None:
        self.layer.update(got)
        self.layer["queries.build_s"] = sum(self.tracer.durations("queries.build"))
        self.layer["session.jvm_cpu_s"], self.layer["session.python_cpu_s"] = cpu
        dur = lambda key: sum(p["durations"].get(key, 0) for p in measured) / 1e3  # noqa: E731
        self.layer["streaming.batches"] = len(measured)
        self.layer["streaming.batch_s_p50"] = median(
            [p["durations"].get("triggerExecution", 0) / 1e3 for p in measured]
        )
        self.layer["streaming.add_batch_s"] = dur("addBatch")
        self.layer["streaming.query_planning_s"] = dur("queryPlanning")
        self.layer["streaming.wal_commit_s"] = dur("walCommit") + dur("commitOffsets")
        last_state = measured[-1]["state"] if measured else []
        self.layer["streaming.state_rows"] = sum(s[0] for s in last_state)
        self.layer["streaming.state_mem_bytes"] = sum(s[1] for s in last_state)
        self.layer["streaming.state_update_s"] = sum(s[2] for p in measured for s in p["state"]) / 1e3
        self.layer["streaming.state_commit_s"] = sum(s[3] for p in measured for s in p["state"]) / 1e3
        self.layer["load.gen_late_max_s"] = max(released[i] - due[k] for k, i in enumerate(timed))
        # slices released but not yet taken in, seen at each batch end
        backlog = 0
        for p in measured:
            out = sum(1 for i in timed if released[i] <= p["end"] and ends[i] > p["end"])
            backlog = max(backlog, out)
        self.layer["load.backlog_max_slices"] = backlog
        # each micro-batch as a span, from the listener's figures
        for p in measured:
            self.tracer.spans.append(
                {
                    "id": len(self.tracer.spans),
                    "parent": None,
                    "name": "streaming.batch",
                    "start": p["end"] - p["durations"].get("triggerExecution", 0) / 1e3,
                    "end": p["end"],
                    "batch": p["batch"],
                    "rows": p["rows"],
                }
            )

    def _check_stream(self, staged, consumed: int, generated: int) -> None:
        in_files = [os.path.join(self.path("in"), os.path.basename(p)) for p in staged]
        con = checks.connect(self.duck_mb, self.path("duck"), in_files, threads=self.cores)
        sink = checks.parquet(self.path("sink"))
        try:
            with self.tracer.span("checks"):
                self.errors += checks.stream_consumed(consumed, generated)
                self.errors += checks.stream_last_counts(con, sink, FLUSH_USER)
                self.errors += checks.stream_increasing(con, sink)
        finally:
            con.close()

    # -- teardown ----------------------------------------------------

    def stop(self) -> list[int]:
        """Stop Spark, reap the JVM, then wait for every other process the
        run started. Returns the pids still alive (empty on success)."""
        from pyspark import SparkContext

        if self.sampler is not None:
            self.sampler.stop()
        with self.tracer.span("teardown.spark_stop"):
            for q in self.spark.streams.active if self.spark else []:
                q.stop()
            if self.spark is not None:
                self.spark.stop()
        with self.tracer.span("teardown.jvm_exit"):
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = gateway.proc
                gateway.shutdown()
                # the JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
                SparkContext._gateway = None
                SparkContext._jvm = None
        with self.tracer.span("teardown.reap"):
            return procs.reap_all()

    def write_spans(self) -> None:
        spans_dir = os.path.join(self.root, WORK_ROOT, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        self.tracer.dump(
            os.path.join(
                spans_dir, f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.jsonl"
            )
        )


class Progress(StreamingQueryListener):
    """Keeps each micro-batch's progress: end time (trigger start +
    trigger duration), input rows, durations, watermark and
    state-operator figures."""

    def __init__(self):
        self.records: list[dict] = []
        self.last_event = time.time()
        self.cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = _iso(p.timestamp)
        wm = (p.eventTime or {}).get("watermark")
        rec = {
            "batch": p.batchId,
            "end": start + p.durationMs.get("triggerExecution", 0) / 1e3,
            "rows": p.numInputRows,
            "durations": dict(p.durationMs),
            "watermark": _iso(wm) * 1e3 if wm else -math.inf,
            "state": [
                (s.numRowsTotal, s.memoryUsedBytes, s.allUpdatesTimeMs, s.commitTimeMs)
                for s in p.stateOperators
            ],
        }
        with self.cv:
            self.records.append(rec)
            self.last_event = time.time()
            self.cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def _wait(self, pred, timeout: float) -> None:
        with self.cv:
            if not self.cv.wait_for(pred, timeout):
                raise TimeoutError("the stream did not take in what was released")

    def wait_rows(self, target: int, timeout: float) -> float:
        """End time of the batch whose cumulative input reaches ``target``."""
        self._wait(lambda: self.total_rows() >= target, timeout)
        return self.cover_ends([target])[0]

    def wait_idle(self, query, timeout: float, quiet: float = 0.3) -> None:
        """Until no batch has ended for ``quiet`` seconds and none runs."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if time.time() - self.last_event >= quiet and not query.status["isTriggerActive"]:
                return
            time.sleep(0.05)
        raise TimeoutError("the stream did not settle")

    def wait_watermark(self, ms: float, timeout: float) -> None:
        self._wait(lambda: any(r["watermark"] >= ms for r in self.records), timeout)

    def total_rows(self) -> int:
        return sum(r["rows"] for r in self.records)

    def count(self) -> int:
        with self.cv:
            return len(self.records)

    def snapshot(self) -> list[dict]:
        with self.cv:
            return list(self.records)

    def cover_ends(self, targets: list[int]) -> list[float]:
        """For each cumulative row target, in rising order, the end of the
        first batch whose cumulative input reaches it (NaN if none)."""
        out, total, j = [], 0, 0
        recs = self.snapshot()
        for target in targets:
            while total < target and j < len(recs):
                total += recs[j]["rows"]
                j += 1
            out.append(recs[j - 1]["end"] if total >= target and j else math.nan)
        return out


def _iso(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def main(argv: list[str] | None = None) -> int:
    t_start = procs.start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "openmetrics_spark", "queries", "__init__.py")):
        log("no openmetrics_spark package in the current directory; run from the repository root")
        return 2
    procs.become_subreaper()
    run = Run(args, root, t_start)
    metrics: dict[str, float] | None = None
    try:
        run.prepare()
        cfg = WORKLOADS[args.workload]
        if isinstance(cfg, Batch):
            metrics = run.run_batch(cfg)
        else:
            metrics = run.run_stream(cfg)
    except Exception:
        log(f"run failed:\n{traceback.format_exc()}")
    finally:
        left = run.stop()
        if args.trace:
            run.write_spans()
        shutil.rmtree(run.work, ignore_errors=True)
    if left:
        log(f"processes still alive after teardown: {left}")
        return 1
    if metrics is None:
        return 1
    for err in run.errors:
        log(f"check failed: {err}")
    run.layer["session.start_s"] = sum(run.tracer.durations("session.start"))
    run.layer["session.canary_s"] = median(run.tracer.durations("session.canary"))
    chosen = (
        {k: (run.layer[k], u) for k, u in PER_LAYER.items()}
        if args.trace
        else {k: (metrics[k], u) for k, u in END_TO_END.items()}
    )
    print(
        json.dumps(
            {
                "correct": not run.errors,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
