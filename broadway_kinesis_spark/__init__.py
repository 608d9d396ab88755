"""broadway_kinesis_spark — a PySpark-native streaming-ingestion + analytics engine.

Re-expresses the capabilities of the reference Elixir library
``mbta/broadway_kinesis`` (an AWS Kinesis enhanced-fan-out Broadway producer,
see ``/root/reference/lib/broadway_kinesis/``) idiomatically on Apache Spark:

- :mod:`broadway_kinesis_spark.sources` — the Kinesis Structured Streaming
  source that mirrors the reference's subscription semantics (starting
  positions, offset cursors, shard-close EOF, at-least-once restart) via the
  Spark 4 Python ``DataSource`` API, and its hermetic replay format: the same
  reader over a file-backed SDK client (the moral equivalent of the
  reference's ``test/support/fake_kinesis.ex``).
- :mod:`broadway_kinesis_spark.operators` — the batch relational operator
  surface (scans, filters, joins, aggregations, windows, set ops) plus
  LLM-data-pipeline operators (dedup, similarity search, text analysis),
  each registered as a named query with a DuckDB-oracle SQL twin.
- :mod:`broadway_kinesis_spark.streaming` — event-time windowing, watermarks,
  stateful dedup, and a health/readiness registry mirroring
  ``lib/broadway_kinesis/producer_registry.ex``.
- :mod:`broadway_kinesis_spark.functions` — column-level helpers (vector
  math over embeddings, text hashing/tokenization) built on JVM-side
  ``pyspark.sql.functions`` so the hot path stays inside codegen.

Everything is DataFrame/SQL-first: logical plans are declared via the
DataFrame API and Catalyst/Tungsten/AQE pick the physical strategy. No RDDs,
no custom Catalyst rules, no hand-rolled executors.
"""

from broadway_kinesis_spark.registry import REGISTRY, oracle_sql, queries

__all__ = ["REGISTRY", "queries", "oracle_sql"]
__version__ = "0.1.0"
