"""openmetrics_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of
promotedai/openmetrics (Flink streaming joins + aggregates; see
/root/reference) as an idiomatic Spark engine:

- batch DataFrame/SQL implementations of every operator (the
  correctness oracles, cross-checked against DuckDB), and
- Structured Streaming twins for the streaming-stateful operators.

Package layout:
    session     SparkSession factory tuned for the target scale
    tables      loaders for the driver test tables + fixture tables
    schemas     StructType registry for the event-graph data model
    fixtures    deterministic event-graph generator (FIXTURES.md)
    functions/  hashing (xxhash64 seed-0, portable md5 hash), time utils
    operators/  dedup, filters, joins (inferred/as-of/interval),
                counters, sessions, content metrics, flat events
    llm/        training-data ops: dedup (exact/minhash/simhash),
                similarity search, text analysis, multimodal plumbing
    streaming/  Structured Streaming jobs mirroring the reference's
                four jobs (raw, flat, counter, content-metrics)
    queries     the registry binding each operator to a runnable query
                + its ANSI-SQL DuckDB oracle (the correctness gate)
"""

from openmetrics_spark import _pyworker

__version__ = "0.1.0"

# Python workers import this package when they unpickle a function that
# references one of its modules; from then on a reused worker stops
# re-parsing its zip archives before every task (see _pyworker).
_pyworker.install()
