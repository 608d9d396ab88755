#!/usr/bin/env python
"""Ingest-throughput bench for the kinesis_efo streaming source.

The reference is an ingest connector whose ceiling is the AWS enhanced-
fan-out quota: 2 MB/s/shard (BASELINE.md). This tool measures the ENGINE
side of that pipeline hermetically — the full Structured Streaming path
(initialOffset → the driver's read of the batch + base64 decode → Arrow
hand-off to the JVM → parquet sink → commit) against the file-backed fake
SDK client, no network. The resulting MB/s is the engine's intrinsic
capacity: as long as it exceeds 2 MB/s × shards, the connector — like the
reference's — is quota-bound, not engine-bound. The driver reads every
shard in one Python process, so this figure is the source's ceiling
whatever the executor count.

Prints ONE JSON line:
    {"metric": "ingest_throughput", "mb_per_s": N, "records_per_s": N,
     "read_tasks_per_batch": N, ...}

``read_tasks_per_batch`` is the Spark tasks the query's micro-batches ran
(its job group is its run id), per batch that read records: the driver's
read fetches every shard's range, and Spark serves the batch's rows from the
block manager as one partition, so it reads 1 whatever the shard count.

Sizing via env: INGEST_SHARDS (default 8), INGEST_RECORDS per shard
(default 4000), INGEST_PAYLOAD bytes per record (default 1024).
"""

from __future__ import annotations

import base64
import json
import os
import shutil
import sys
import tempfile
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)
# Spark's Python workers must import broadway_kinesis_spark + tests.* (the
# fake client factory) — set before the JVM starts.
_pp = os.environ.get("PYTHONPATH", "")
if _REPO_DIR not in _pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = f"{_REPO_DIR}{os.pathsep}{_pp}" if _pp else _REPO_DIR

FACTORY = "tests.fake_kinesis_service:factory"


def _write_shard(data_dir: str, shard: str, n: int, payload: bytes, base: int) -> None:
    """One replay event (SubscribeToShardEvent) per record."""
    data = base64.b64encode(payload).decode()
    with open(os.path.join(data_dir, f"{shard}.jsonl"), "w", encoding="utf-8") as f:
        for i in range(n):
            rec = {
                "SequenceNumber": str(base + i),
                "PartitionKey": "pk",
                "Data": data,
                "ApproximateArrivalTimestamp": 1000.0 + i,
            }
            ev = {
                "ContinuationSequenceNumber": str(base + i),
                "Records": [rec],
                "MillisBehindLatest": 0,
            }
            f.write(json.dumps(ev) + "\n")


def _tasks_per_batch(spark, q) -> float:
    tracker = spark.sparkContext.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(str(q.runId)):
        for sid in tracker.getJobInfo(job).stageIds:
            tasks += tracker.getStageInfo(sid).numTasks
    batches = sum(1 for p in q.recentProgress if p["numInputRows"])
    return tasks / max(batches, 1)


def main() -> None:
    from broadway_kinesis_spark.session import build_session
    from broadway_kinesis_spark.sources.kinesis_efo import KinesisEfoDataSource

    shards = int(os.environ.get("INGEST_SHARDS", "8"))
    n_recs = int(os.environ.get("INGEST_RECORDS", "4000"))
    psize = int(os.environ.get("INGEST_PAYLOAD", "1024"))
    payload = os.urandom(psize)

    # try/finally so an aborted run leaks neither the SparkSession nor the
    # temp dir (shards*records*payload ~ 1 GB at BASELINE sizing), and the
    # checks raise real errors rather than asserts that vanish under -O
    # (ADVICE r3).
    tmp = tempfile.mkdtemp(prefix="ingest_bench_")
    spark = None
    try:
        data_dir = os.path.join(tmp, "data")
        os.makedirs(data_dir)
        for s in range(shards):
            _write_shard(data_dir, f"shard-{s:04d}", n_recs, payload, base=1)

        spark = build_session("ingest-bench", shuffle_partitions=8)
        spark.dataSource.register(KinesisEfoDataSource)
        out = os.path.join(tmp, "out")

        t0 = time.perf_counter()
        q = (
            spark.readStream.format("kinesis_efo")
            .option("streamName", "bench-stream")
            .option("clientFactory", FACTORY)
            .option("fakeDataDir", data_dir)
            .option("startingPosition", "trim_horizon")
            .option("reconnectDelayMs", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        ok = q.awaitTermination(600)
        wall = time.perf_counter() - t0
        if not ok:
            raise RuntimeError("streaming query did not terminate within 600 s")

        got = spark.read.parquet(out).count()
        expect = shards * n_recs
        if got != expect:
            raise RuntimeError(f"ingested {got} of {expect} records")

        total_bytes = expect * psize
        print(
            json.dumps(
                {
                    "metric": "ingest_throughput",
                    "mb_per_s": round(total_bytes / wall / 1e6, 2),
                    "read_tasks_per_batch": _tasks_per_batch(spark, q),
                    "records_per_s": round(expect / wall),
                    "records": expect,
                    "payload_bytes": psize,
                    "shards": shards,
                    "wall_s": round(wall, 2),
                    "unit": "MB/s",
                }
            )
        )
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
