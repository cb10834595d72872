"""Materialize CONTENT-DISJOINT N-fold replicas of the sf0.1 tables as
a scratch "sf dir" so `scripts/profile_query.py --sf-dir` (and any
registered query) can be timed at a larger scale factor than the shipped test
data (r12 verdict items 6/7: the sf0.1 bench is fixed-cost-bound and
cannot show data-proportional effects).

Replication follows scripts/scale_probe.py's rules so output growth
reflects the ALGORITHM's scaling, not pairs manufactured between
identical copies: document ids offset and every token prefixed per
copy (disjoint shingle/md5 spaces), event user/event ids offset
(disjoint keys), embedding ids offset. The TPC-H star tables are
copied through 1x (the heavy queries under probe read documents and
events); dimension tables must not be replicated anyway.

Usage: python scripts/gen_scaled_testdata.py <copies> <out_dir>
e.g.   python scripts/gen_scaled_testdata.py 3 /tmp/omx_sf0.3
"""

from __future__ import annotations

import os
import shutil
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    copies = int(sys.argv[1])
    out_dir = sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from openmetrics_spark.session import get_spark
    from openmetrics_spark.tables import TABLE_NAMES, table

    spark = get_spark("gen-scaled-testdata")
    os.makedirs(out_dir, exist_ok=True)

    def replicate(name: str):
        base = table(spark, sf_dir, name)
        if name == "documents":
            parts = [
                base.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                    (
                        F.regexp_replace("text", r"([a-z0-9]+)", f"c{i}x$1")
                        if i
                        else F.col("text")
                    ).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
                for i in range(copies)
            ]
        elif name == "events":
            parts = [
                base.select(
                    (F.col("event_id") + F.lit(i * 100_000_000)).alias(
                        "event_id"
                    ),
                    "ts",
                    (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
                    "event_type",
                    "value",
                    "props",
                )
                for i in range(copies)
            ]
        elif name == "embeddings":
            parts = [
                base.select(
                    (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                    "embedding",
                    "label",
                )
                for i in range(copies)
            ]
        else:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    for name in TABLE_NAMES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        rep = replicate(name)
        if rep is None:
            shutil.copyfile(os.path.join(sf_dir, f"{name}.parquet"), dst)
            print(f"copied  {name}")
            continue
        tmp = dst + ".dir"
        rep.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        print(f"wrote   {name} x{copies}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
