"""Per-pass cost of registered queries: where a warm pass spends its time.

    python scripts/profile_query.py [options] <query> [query ...]

Each pass runs every named query once, in order, as the benchmark's
batch workloads do: build the DataFrame, plan it, write it as parquet,
release the pinned caches. The first pass is cold; the ``--passes``
warm passes after it are the ones to read. Per pass it prints:

- ``build_s``, ``plan_s``, ``write_s``: Python-side DataFrame building,
  analysis + optimisation + physical planning, and execution;
- ``jobs``, ``stages``, ``tasks``, ``task_s`` (summed executor run time),
  ``scan_rows``, ``exch`` (Exchange nodes) and ``bhj``/``shj``/``smj``
  (join nodes), read from Spark's status stores by
  ``ombench/layers.SparkRecords``;
- ``janino`` and ``janino_ms``: whole-stage and expression classes
  Janino compiled, and its time (``CodegenMetrics``); a warm pass that
  still compiles has overflowed Spark's codegen cache;
- ``jit_ms``: HotSpot JIT compile time (``CompilationMXBean``).

Inputs: ``--sf-dir`` names a directory of the repository's tables
(TESTDATA.md, default ``$SPARK_GRAFT_SF_DIR``); or ``--events N`` writes
the benchmark's synthetic ``events.parquet`` (``ombench/gen.py``) with
``--users`` and ``--seed`` to a temporary directory, so that
``--events 10000 --users 200`` profiles ``flat_join``'s inputs.

e.g.   python scripts/profile_query.py --events 10000 --users 200 \\
           bfj_view_insertions bfj_joined_impressions bfj_joined_actions
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(1, os.path.join(_ROOT, "ombench"))

COLUMNS = (
    ("build_s", "{:.3f}"),
    ("plan_s", "{:.3f}"),
    ("write_s", "{:.3f}"),
    ("jobs", "{:.0f}"),
    ("stages", "{:.0f}"),
    ("tasks", "{:.0f}"),
    ("task_s", "{:.2f}"),
    ("scan_rows", "{:.0f}"),
    ("exch", "{:.0f}"),
    ("bhj", "{:.0f}"),
    ("shj", "{:.0f}"),
    ("smj", "{:.0f}"),
    ("janino", "{:.0f}"),
    ("janino_ms", "{:.0f}"),
    ("jit_ms", "{:.0f}"),
)
# SparkRecords.since keys behind the status-store columns
_SINCE = {
    "jobs": "session.jobs",
    "stages": "session.stages",
    "tasks": "session.tasks",
    "task_s": "session.task_run_s",
    "scan_rows": "sources.scan_rows",
    "exch": "operators.exchanges",
    "bhj": "operators.bhj",
    "shj": "operators.shj",
    "smj": "operators.smj",
}


class Compiles:
    """Janino compiles and time (a histogram of per-class compile ms,
    whose reservoir holds every sample up to 1028; past that the time
    is the mean times the count), and the JVM's total JIT time."""

    RESERVOIR = 1028

    def __init__(self, spark):
        jvm = spark._jvm
        self._janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def read(self) -> tuple[int, float, float]:
        n = self._janino.getCount()
        snap = self._janino.getSnapshot()
        ms = sum(snap.getValues()) if n <= self.RESERVOIR else snap.getMean() * n
        return n, float(ms), float(self._jit.getTotalCompilationTime())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--events", type=int, help="write N synthetic events instead")
    ap.add_argument("--users", type=int, default=200)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3, help="warm passes")
    args = ap.parse_args()
    if args.events is None and not args.sf_dir:
        ap.error("give --sf-dir (or set SPARK_GRAFT_SF_DIR) or --events")

    from layers import SparkRecords, plan_seconds

    from openmetrics_spark.queries import all_queries
    from openmetrics_spark.session import get_spark
    from openmetrics_spark.tables import release_caches

    specs = all_queries()
    unknown = [q for q in args.queries if q not in specs]
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    work = tempfile.mkdtemp(prefix="profile_query_")
    try:
        sf_dir = args.sf_dir
        if args.events is not None:
            import gen

            sf_dir = os.path.join(work, "data")
            os.makedirs(sf_dir)
            gen.write_events(
                os.path.join(sf_dir, "events.parquet"), args.seed, args.events, args.users, 0.0
            )
        spark = get_spark("profile-query")
        records, compiles = SparkRecords(spark), Compiles(spark)
        print(f"{'pass':>6} " + " ".join(f"{name:>10}" for name, _ in COLUMNS))
        for i in range(args.passes + 1):
            mark, (n0, j0, t0) = records.mark(), compiles.read()
            row = dict.fromkeys(("build_s", "plan_s", "write_s"), 0.0)
            for name in args.queries:
                start = time.perf_counter()
                df = specs[name].fn(spark, sf_dir)
                row["build_s"] += time.perf_counter() - start
                row["plan_s"] += plan_seconds(df)
                start = time.perf_counter()
                df.write.mode("overwrite").parquet(os.path.join(work, "out", name))
                row["write_s"] += time.perf_counter() - start
                release_caches()
            since, (n1, j1, t1) = records.since(mark), compiles.read()
            row.update({col: since[key] for col, key in _SINCE.items()})
            row.update(janino=n1 - n0, janino_ms=j1 - j0, jit_ms=t1 - t0)
            label = "cold" if i == 0 else f"warm{i}"
            print(f"{label:>6} " + " ".join(f"{fmt.format(row[name]):>10}" for name, fmt in COLUMNS))
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
