"""Sinks (SURVEY.md §2.A rows A19) + the Broadway processor/batcher analogue.

The reference hands decoded events to a Broadway pipeline whose downstream
stages are *processors* (concurrent per-message transforms) and *batchers*
(route each message to a named batcher, deliver in groups bounded by
batch_size/batch_timeout) — framework capabilities it plugs into rather
than implements (`mix.exs:25`, SURVEY.md §2.A closing note). Spark-first
equivalents:

- processor        -> any DataFrame transformation (already the whole
                      engine); nothing to build.
- batcher          -> ``foreachBatch`` + predicate routing (this module):
                      the micro-batch trigger interval plays batch_timeout,
                      the source's ``maxRecordsPerBatch`` plays batch_size.
- acknowledgement  -> Spark's checkpoint commit log: offsets commit only
                      after the sink callback returns, so a failed batch
                      replays — the at-least-once contract the reference
                      implements with emit-before-fail (A14,
                      `subscribe_to_shard.ex:190-193`).

Batch writers are thin, opinionated wrappers over ``df.write`` that keep
the scale posture explicit: partitioned layout for pruning, no silent
coalesce-to-1.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "error",
    partition_by: list[str] | None = None,
) -> None:
    """Batch parquet sink. ``partition_by`` keys become directory partitions
    so downstream scans partition-prune; writer parallelism follows the
    DataFrame's partitioning (never coalesced to one file here — small-file
    compaction is a separate, explicit job at scale)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def stream_to_parquet(df: DataFrame, path: str, checkpoint: str, **trigger):
    """Streaming parquet sink with a checkpoint (the offset/commit WAL that
    replaces the reference's manual resume-position API, A15). Returns the
    started StreamingQuery; default trigger is availableNow.

    For the engine's Python sources (``kinesis_efo``, ``kinesis_replay``)
    availableNow runs at most ONE micro-batch, which ``maxRecordsPerBatch``
    caps per shard, so it does not drain a larger backlog. For a full drain
    pass ``processingTime=...`` and call ``processAllAvailable()`` on the
    returned query."""
    if not trigger:
        trigger = {"availableNow": True}
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
        .start()
    )


def batcher(
    routes: dict[str, Column],
    handlers: dict[str, Callable[[DataFrame, int], None]],
    *,
    default: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Broadway-batcher analogue for ``foreachBatch``.

    ``routes`` maps batcher name -> boolean Column predicate; each
    micro-batch is split by predicate and handed to that batcher's handler
    as (sub_df, batch_id). Rows matching no route go to ``default`` (or are
    dropped, like Broadway's failed/unrouted messages). Handlers run inside
    the foreachBatch callback, so a raise fails the batch and Spark replays
    it from the checkpoint — at-least-once per handler.

    Use: ``stream.writeStream.foreachBatch(batcher(routes, handlers)).start()``
    """
    unknown = set(routes) - set(handlers)
    if unknown or (default is not None and default not in handlers):
        raise ValueError(f"handlers missing for routes: {sorted(unknown) or [default]}")

    def run(batch_df: DataFrame, batch_id: int) -> None:
        matched = None
        for name, pred in routes.items():
            handlers[name](batch_df.filter(pred), batch_id)
            matched = pred if matched is None else (matched | pred)
        if default is not None:
            # Null-safe negation: a row where every predicate is NULL must
            # reach the default handler; ~NULL is NULL and would drop it.
            rest = (
                batch_df.filter(~F.coalesce(matched, F.lit(False)))
                if matched is not None
                else batch_df
            )
            handlers[default](rest, batch_id)

    return run
