"""Behavioral tests for the `kinesis_replay` streaming source (`kinesis_efo`
over the file-backed replay client) — pytest ports
of the reference's SubscribeToShard test matrix (SURVEY.md §5):

- starting-position variants     (subscribe_to_shard_test.exs:91-116)
- event streaming + payloads     (:128-143, :220-245)
- shard close / EOF              (:205-218)
- resume across restarts         (:145-189 -> checkpoint restart)
- bounded batches (A16)          (engine improvement; pacing)
"""

from __future__ import annotations

import base64
import json
import os

import pytest

from broadway_kinesis_spark.sources.replay import ReplayDataSource, closed_shards
from broadway_kinesis_spark.streaming.envelope import (
    ENVELOPE_SCHEMA,
    parse_starting_position,
)

_QCOUNT = 0


def ev(seq, data: bytes | None = None, pk="pk", arrival: float | None = None, millis=0):
    e = {"ContinuationSequenceNumber": str(seq), "MillisBehindLatest": millis, "Records": []}
    if data is not None:
        e["Records"].append(
            {
                "SequenceNumber": str(seq),
                "PartitionKey": pk,
                "ApproximateArrivalTimestamp": arrival,
                "Data": base64.b64encode(data).decode(),
            }
        )
    return e


CLOSED = {"ContinuationSequenceNumber": None}


def write_shard(path: str, shard: str, events: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, f"{shard}.jsonl"), "w", encoding="utf-8") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


@pytest.fixture(scope="module")
def sparkr(spark):
    spark.dataSource.register(ReplayDataSource)
    return spark


def run_stream(spark, path, starting_position="trim_horizon", max_per_batch=None):
    global _QCOUNT
    _QCOUNT += 1
    name = f"replay_sink_{_QCOUNT}"
    reader = (
        spark.readStream.format("kinesis_replay")
        .option("path", path)
        .option("startingPosition", starting_position)
    )
    if max_per_batch is not None:
        reader = reader.option("maxRecordsPerBatch", str(max_per_batch))
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in time"
    progress = list(q.recentProgress)
    rows = spark.sql(f"SELECT * FROM {name} ORDER BY shard_id, sequence_number").collect()
    return rows, progress


def test_trim_horizon_reads_all_shards_with_payload_roundtrip(sparkr, tmp_path):
    d = str(tmp_path)
    write_shard(d, "shard-0001", [ev(1, b"alpha", arrival=1000.5), ev(2, b"beta", arrival=1001.0)])
    write_shard(d, "shard-0002", [ev(1, b"gamma", arrival=1002.0, millis=7)])
    rows, _ = run_stream(sparkr, d)
    assert [(r.shard_id, r.sequence_number, bytes(r.data)) for r in rows] == [
        ("shard-0001", "1", b"alpha"),
        ("shard-0001", "2", b"beta"),
        ("shard-0002", "1", b"gamma"),
    ]
    r = rows[0]
    assert r.stream_name == os.path.basename(d)
    assert r.partition_key == "pk"
    assert r.arrival_ts.isoformat() == "1970-01-01T00:16:40.500000"
    assert rows[2].millis_behind_latest == 7


def test_envelope_schema_is_stable(sparkr, tmp_path):
    d = str(tmp_path)
    write_shard(d, "s", [ev(1, b"x")])
    df = sparkr.readStream.format("kinesis_replay").option("path", d).load()
    assert df.schema == ENVELOPE_SCHEMA


def test_starting_position_latest_sees_nothing(sparkr, tmp_path):
    d = str(tmp_path)
    write_shard(d, "s", [ev(1, b"old1"), ev(2, b"old2")])
    rows, _ = run_stream(sparkr, d, "latest")
    assert rows == []


def test_starting_position_at_and_after_sequence_number(sparkr, tmp_path):
    d = str(tmp_path)
    write_shard(d, "s", [ev(10, b"a"), ev(20, b"b"), ev(30, b"c")])
    rows, _ = run_stream(sparkr, d, "at_sequence_number:20")
    assert [bytes(r.data) for r in rows] == [b"b", b"c"]
    rows, _ = run_stream(sparkr, d, "after_sequence_number:20")
    assert [bytes(r.data) for r in rows] == [b"c"]


def test_starting_position_at_timestamp(sparkr, tmp_path):
    d = str(tmp_path)
    write_shard(
        d, "s", [ev(1, b"a", arrival=1000.0), ev(2, b"b", arrival=2000.0), ev(3, b"c", arrival=3000.0)]
    )
    rows, _ = run_stream(sparkr, d, "at_timestamp:2000")
    assert [bytes(r.data) for r in rows] == [b"b", b"c"]


def test_unknown_sequence_number_errors(sparkr, tmp_path):
    d = str(tmp_path)
    write_shard(d, "s", [ev(1, b"a")])
    with pytest.raises(Exception, match="not found|StreamingQueryException"):
        run_stream(sparkr, d, "at_sequence_number:999")


def test_shard_close_sentinel_stops_delivery(sparkr, tmp_path):
    d = str(tmp_path)
    write_shard(d, "s", [ev(1, b"kept1"), ev(2, b"kept2"), CLOSED, ev(3, b"after-close")])
    rows, _ = run_stream(sparkr, d)
    assert [bytes(r.data) for r in rows] == [b"kept1", b"kept2"]
    assert closed_shards(d) == ["s"]


def ev_multi(seqs):
    """One event carrying one record per sequence number."""
    e = ev(seqs[-1])
    e["Records"] = [ev(s, f"p{s}".encode())["Records"][0] for s in seqs]
    return e


@pytest.mark.parametrize(
    "events",
    [
        [ev(i, f"p{i}".encode()) for i in range(1, 7)],
        [ev(1, b"p1"), ev_multi([2, 3, 4]), ev(5, b"p5"), ev(6, b"p6")],
    ],
    ids=["one_record_events", "three_record_event"],
)
def test_max_records_per_batch_paces_batches(sparkr, tmp_path, events):
    """A16 improvement: pull-based pacing bounds each micro-batch — in
    records, so one event larger than the cap still spans batches. Uses a
    processing-time trigger — Spark's availableNow fallback for Python
    sources collapses to a single batch, which would bypass pacing."""
    import time

    d = str(tmp_path)
    write_shard(d, "s", events)
    global _QCOUNT
    _QCOUNT += 1
    name = f"replay_sink_{_QCOUNT}"
    q = (
        sparkr.readStream.format("kinesis_replay")
        .option("path", d)
        .option("startingPosition", "trim_horizon")
        .option("maxRecordsPerBatch", "2")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            if sparkr.sql(f"SELECT count(*) c FROM {name}").collect()[0].c == 6:
                break
            time.sleep(0.5)
        progress = list(q.recentProgress)
    finally:
        q.stop()
    assert sparkr.sql(f"SELECT count(*) c FROM {name}").collect()[0].c == 6
    batch_rows = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
    assert batch_rows and max(batch_rows) <= 2
    assert len(batch_rows) >= 3


def _read_tasks(spark, query) -> list[int]:
    """Tasks of each stage the query's micro-batches ran (its job group is
    its run id)."""
    tracker = spark.sparkContext.statusTracker()
    out = []
    for job in sorted(tracker.getJobIdsForGroup(str(query.runId))):
        for sid in tracker.getJobInfo(job).stageIds:
            out.append(tracker.getStageInfo(sid).numTasks)
    return out


@pytest.mark.parametrize("max_per_batch", [None, 3], ids=["packed", "at_cap"])
def test_small_shard_ranges_share_one_read_task(sparkr, tmp_path, max_per_batch):
    """Four small shards: one micro-batch serves all their ranges, fetched by
    the driver's read, in ONE task, each record exactly once — ranges at the
    cap included."""
    global _QCOUNT
    _QCOUNT += 1
    name = f"replay_sink_{_QCOUNT}"
    d = str(tmp_path)
    for s in range(4):
        write_shard(d, f"shard-{s}", [ev(i, f"s{s}-{i}".encode()) for i in (1, 2, 3)])
    reader = sparkr.readStream.format("kinesis_replay").option("path", d)
    reader = reader.option("startingPosition", "trim_horizon")
    if max_per_batch is not None:
        reader = reader.option("maxRecordsPerBatch", str(max_per_batch))
    q = reader.load().writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    assert q.awaitTermination(120), "stream did not finish in time"
    assert [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]] == [12]
    assert _read_tasks(sparkr, q) == [1]
    keys = [(r.shard_id, r.sequence_number) for r in sparkr.sql(f"SELECT * FROM {name}").collect()]
    assert sorted(keys) == [(f"shard-{s}", str(i)) for s in range(4) for i in (1, 2, 3)]


def test_restart_resumes_from_checkpoint_not_starting_position(sparkr, tmp_path):
    """The checkpoint owns the cursor after the first run (A6/A15): appended
    events — and only they — arrive on restart, even though
    startingPosition=trim_horizon would re-read everything."""
    d = str(tmp_path / "stream")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    write_shard(d, "s", [ev(1, b"first"), ev(2, b"second")])

    def run_once():
        q = (
            sparkr.readStream.format("kinesis_replay")
            .option("path", d)
            .option("startingPosition", "trim_horizon")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    assert sorted(
        bytes(r.data) for r in sparkr.read.parquet(out).collect()
    ) == [b"first", b"second"]

    with open(os.path.join(d, "s.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps(ev(3, b"third")) + "\n")

    run_once()
    assert sorted(bytes(r.data) for r in sparkr.read.parquet(out).collect()) == [
        b"first",
        b"second",
        b"third",
    ]


def test_capped_restart_after_committed_batch_delivers_each_record_once(sparkr, tmp_path):
    """A restart after the last batch committed, with batches capped below
    the shard length: the restarted reader resumes from the checkpoint's
    cursor, not from startingPosition, so neither the records of the first
    run nor the appended ones arrive twice."""
    d = str(tmp_path / "stream")
    ck = str(tmp_path / "ck")
    for s in ("s0", "s1"):
        write_shard(d, s, [ev(i, f"{s}-{i}".encode()) for i in range(1, 6)])
    keys: list[tuple[str, str]] = []

    def sink(df, _batch_id):
        keys.extend((r.shard_id, r.sequence_number) for r in df.collect())

    def run_once():
        q = (
            sparkr.readStream.format("kinesis_replay")
            .option("path", d)
            .option("startingPosition", "trim_horizon")
            .option("maxRecordsPerBatch", "2")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    assert sorted(keys) == sorted((s, str(i)) for s in ("s0", "s1") for i in range(1, 6))
    for s in ("s0", "s1"):
        with open(os.path.join(d, f"{s}.jsonl"), "a", encoding="utf-8") as f:
            for i in (6, 7):
                f.write(json.dumps(ev(i, f"{s}-{i}".encode())) + "\n")
    run_once()
    assert len(keys) == len(set(keys))
    assert sorted(keys) == sorted((s, str(i)) for s in ("s0", "s1") for i in range(1, 8))


def test_uncommitted_batch_is_replayed_with_identical_rows(sparkr, tmp_path):
    """A restart between offset commit and sink commit: the batch the offset
    log holds but the commit log does not is re-read through
    readBetweenOffsets (the restarted reader never fetched it) with the
    rows the first run saw, and later batches neither repeat nor skip a
    record."""
    d = str(tmp_path / "stream")
    ck = str(tmp_path / "ck")
    for s in ("s0", "s1"):
        write_shard(d, s, [ev(i, f"{s}-{i}".encode()) for i in range(1, 6)])
    batches: list[tuple[int, list]] = []

    def sink(df, batch_id):
        rows = sorted((r.shard_id, r.sequence_number, bytes(r.data)) for r in df.collect())
        batches.append((batch_id, rows))

    def run_once():
        q = (
            sparkr.readStream.format("kinesis_replay")
            .option("path", d)
            .option("startingPosition", "trim_horizon")
            .option("maxRecordsPerBatch", "2")
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    first = dict(batches)
    last = max(first)
    assert last >= 2 and all(first.values())
    for name in (str(last), f".{last}.crc"):
        path = os.path.join(ck, "commits", name)
        if os.path.exists(path):
            os.remove(path)
    for s in ("s0", "s1"):
        with open(os.path.join(d, f"{s}.jsonl"), "a", encoding="utf-8") as f:
            for i in (6, 7):
                f.write(json.dumps(ev(i, f"{s}-{i}".encode())) + "\n")
    del batches[:]
    run_once()
    assert batches[0] == (last, first[last])
    keys = [(sh, seq) for b, rows in first.items() if b < last for sh, seq, _ in rows]
    keys += [(sh, seq) for _b, rows in batches for sh, seq, _ in rows]
    assert sorted(keys) == sorted((s, str(i)) for s in ("s0", "s1") for i in range(1, 8))


def test_mid_stream_exception_surfaces_typed_error(sparkr, tmp_path):
    """Exception message mid-stream -> typed error fails the query
    (subscribe_to_shard_test.exs:191-203); offsets for the failed batch
    never commit, so a fixed stream resumes before the poison event."""
    d = str(tmp_path)
    write_shard(
        d,
        "s",
        [
            ev(1, b"ok"),
            {"ExceptionType": "ResourceInUseException", "message": "Another active subscription"},
            ev(2, b"never-delivered"),
        ],
    )
    with pytest.raises(Exception, match="ResourceInUseException"):
        run_stream(sparkr, d)


def test_events_without_records_advance_cursor_silently(sparkr, tmp_path):
    """Continuation-only events advance the checkpoint cursor without
    emitting rows (subscribe_to_shard.ex:343-354)."""
    d = str(tmp_path)
    write_shard(d, "s", [ev(1), ev(2, b"payload"), ev(3)])
    rows, _ = run_stream(sparkr, d)
    assert [bytes(r.data) for r in rows] == [b"payload"]
    rows, _ = run_stream(sparkr, d, "after_sequence_number:3")
    assert rows == []


# ---- starting-position wire encodings (subscribe_to_shard_test.exs:91-116)


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("latest", {"Type": "LATEST"}),
        ("trim_horizon", {"Type": "TRIM_HORIZON"}),
        (None, {"Type": "LATEST"}),
        (
            "at_sequence_number:49590338271490256608559692538361571095921575989136588898",
            {
                "Type": "AT_SEQUENCE_NUMBER",
                "SequenceNumber": "49590338271490256608559692538361571095921575989136588898",
            },
        ),
        (
            "after_sequence_number:49590338271490256608559692538361571095921575989136588898",
            {
                "Type": "AFTER_SEQUENCE_NUMBER",
                "SequenceNumber": "49590338271490256608559692538361571095921575989136588898",
            },
        ),
        ("at_timestamp:1573161600", {"Type": "AT_TIMESTAMP", "Timestamp": 1573161600.0}),
    ],
)
def test_starting_position_wire_format(raw, expected):
    assert parse_starting_position(raw).wire_format() == expected


def test_invalid_starting_position_rejected():
    with pytest.raises(ValueError, match="invalid startingPosition"):
        parse_starting_position("bogus")
    with pytest.raises(ValueError, match="invalid startingPosition"):
        parse_starting_position("at_sequence_number:")
    with pytest.raises(ValueError, match="invalid startingPosition"):
        parse_starting_position("at_timestamp:yesterday")


def test_exception_event_does_not_mark_shard_closed(tmp_path):
    """Exception events also lack ContinuationSequenceNumber, but they are
    errors, not split/merge EOF sentinels — closed_shards must not report
    the shard closed."""
    d = str(tmp_path)
    write_shard(d, "s", [ev(1, b"a"), {"ExceptionType": "InternalFailureException"}])
    write_shard(d, "s2", [ev(1, b"b"), CLOSED])
    assert closed_shards(d) == ["s2"]
