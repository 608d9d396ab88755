"""Hermetic tests for the kinesis_efo reader against a fake SDK client —
the SDK-free port of the reference's FakeKinesis server tests (SURVEY.md §5):
offset math, starting positions, shard discovery, retry taxonomy, EOF."""

from __future__ import annotations

from datetime import datetime

import pytest

from broadway_kinesis_spark.sources.kinesis_efo import (
    KinesisEfoStreamReader,
    _call_with_retry,
    _is_transient,
    _ShardRange,
    _ShardRanges,
)


class AwsError(Exception):
    def __init__(self, code, msg="boom", status=None):
        super().__init__(msg)
        self.response = {"Error": {"Code": code, "Message": msg}}
        if status is not None:
            self.response["ResponseMetadata"] = {"HTTPStatusCode": status}


class HttpError(Exception):
    """Un-coded HTTP-level failure (redirect / server error), as surfaced by
    a transport that never reached AWS JSON decoding."""

    def __init__(self, status, body=""):
        super().__init__(f"HTTP {status}: {body}")
        self.status = status


def _evstream(items):
    """Event-stream iterator: Exception items raise mid-iteration, the way
    botocore surfaces exception events while consuming the HTTP/2 stream."""
    for it in items:
        if isinstance(it, Exception):
            raise it
        yield it


class FakeKinesisClient:
    """In-memory two-shard stream speaking the get_records + subscribe_to_shard
    subset used (the FakeKinesis twin, subscribe_to_shard_test.exs:1-60)."""

    def __init__(
        self,
        shards: dict[str, list[dict]],
        fail_first: list[Exception] | None = None,
        subscriptions: list[list] | None = None,
        millis_behind: int = 0,
    ):
        self.shards = shards
        # MillisBehindLatest reported with every non-empty response; an
        # empty response is caught up (0), which is what ends a poll loop
        self.millis_behind = millis_behind
        self.fail_first = list(fail_first or [])
        self.calls: list[str] = []
        # scripted subscribe_to_shard event streams (each a list of events /
        # exceptions); None -> synthesize one stream to the shard tip
        self.subscriptions = subscriptions
        self.subscribe_calls: list[tuple[str, dict]] = []

    def _maybe_fail(self):
        if self.fail_first:
            raise self.fail_first.pop(0)

    def _index_for(self, recs, pos: dict) -> int:
        t = pos["Type"]
        if t == "TRIM_HORIZON":
            return 0
        if t == "LATEST":
            return len(recs)
        if t == "AT_TIMESTAMP":
            ts = pos["Timestamp"]
            return next(
                (i for i, r in enumerate(recs) if r["ApproximateArrivalTimestamp"] >= ts),
                len(recs),
            )
        seq = pos["SequenceNumber"]
        idx = next(i for i, r in enumerate(recs) if r["SequenceNumber"] == seq)
        return idx + 1 if t == "AFTER_SEQUENCE_NUMBER" else idx

    def subscribe_to_shard(self, ConsumerARN, ShardId, StartingPosition):
        self.calls.append("subscribe_to_shard")
        self.subscribe_calls.append((ShardId, dict(StartingPosition)))
        self._maybe_fail()
        if self.subscriptions is not None:
            return {"EventStream": _evstream(self.subscriptions.pop(0))}
        recs = self.shards[ShardId]
        idx = self._index_for(recs, StartingPosition)
        out = recs[idx:]
        closed = self.shards.get(f"{ShardId}__closed") is not None
        ev = {
            "Records": out,
            "ContinuationSequenceNumber": (
                None if closed else (out[-1]["SequenceNumber"] if out else "cont")
            ),
            "MillisBehindLatest": self.millis_behind if out else 0,
        }
        return {"EventStream": _evstream([{"SubscribeToShardEvent": ev}])}

    def list_shards(self, **kw):
        self.calls.append("list_shards")
        self._maybe_fail()
        return {"Shards": [{"ShardId": s} for s in self.shards]}

    def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType, **kw):
        self.calls.append(f"get_shard_iterator:{ShardIteratorType}")
        self._maybe_fail()
        pos = {
            "Type": ShardIteratorType,
            "SequenceNumber": kw.get("StartingSequenceNumber"),
            "Timestamp": kw.get("Timestamp"),
        }
        idx = self._index_for(self.shards[ShardId], pos)
        return {"ShardIterator": f"{ShardId}:{idx}"}

    def get_records(self, ShardIterator, Limit=10000):
        self.calls.append("get_records")
        self._maybe_fail()
        shard_id, idx = ShardIterator.rsplit(":", 1)
        idx = int(idx)
        recs = self.shards[shard_id]
        out = recs[idx : idx + Limit]
        nxt = idx + len(out)
        closed = self.shards.get(f"{shard_id}__closed") is not None and nxt >= len(recs)
        return {
            "Records": out,
            "NextShardIterator": None if closed else f"{shard_id}:{nxt}",
            "MillisBehindLatest": self.millis_behind if out else 0,
        }


def rec(seq, data=b"x", pk="pk", arrival=1000.0):
    return {
        "SequenceNumber": str(seq),
        "PartitionKey": pk,
        "Data": data,
        "ApproximateArrivalTimestamp": arrival,
    }


def make_reader(client, **opts):
    options = {"streamName": "test-stream", "reconnectDelayMs": "1", **opts}
    r = KinesisEfoStreamReader.__new__(KinesisEfoStreamReader)
    KinesisEfoStreamReader.__init__(r, None, options)
    r._client = client
    return r


SHARDS = {
    "shard-0001": [rec(1, b"a", arrival=100.0), rec(2, b"b", arrival=200.0), rec(3, b"c", arrival=300.0)],
    "shard-0002": [rec(10, b"z", arrival=150.0)],
}


def test_initial_offset_enumerates_all_shards():
    r = make_reader(FakeKinesisClient(SHARDS))
    assert r.initialOffset() == {"shard-0001": None, "shard-0002": None}


def test_latest_offset_finds_tip_and_partitions_plan_ranges():
    r = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon")
    start = r.initialOffset()
    end = r.latestOffset()
    assert end == {
        "shard-0001": {"seq": "3", "at": "1"},
        "shard-0002": {"seq": "10", "at": "10"},
    }
    parts = r.partitions(start, end)
    ranges = [rng for task in parts for rng in task.ranges]
    assert sorted((p.shard_id, p.start_seq, p.at_seq, p.end_seq) for p in ranges) == [
        ("shard-0001", None, "1", "3"),
        ("shard-0002", None, "10", "10"),
    ]


def test_latest_offset_resumes_after_cursor():
    r = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon")
    r.partitions({"shard-0001": None}, {"shard-0001": "2", "shard-0002": "10"})
    end = r.latestOffset()
    assert end["shard-0001"] == {"seq": "3", "at": "3"}  # only the tail beyond seq 2
    assert end["shard-0002"] == "10"  # unchanged cursor entry when no new data


def test_latest_offset_pending_plan_is_cached_not_repolled():
    """Spark calls latestOffset more often than it plans batches; a planned
    range must be answered from the pending cache, not re-downloaded."""
    client = FakeKinesisClient(SHARDS)
    r = make_reader(client, startingPosition="trim_horizon")
    first = r.latestOffset()
    polls = client.calls.count("get_records")
    again = r.latestOffset()
    assert again == first
    assert client.calls.count("get_records") == polls  # zero new downloads
    # partitions() consumes the plan; the next latestOffset polls again
    r.partitions(r.initialOffset(), first)
    r.latestOffset()
    assert client.calls.count("get_records") > polls


def test_read_yields_envelope_rows_in_range(monkeypatch):
    client = FakeKinesisClient(SHARDS, millis_behind=1234)
    # read() builds a fresh reader (executor-side shape) -> inject at class level
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client, startingPosition="trim_horizon")
    parts = r.partitions({}, {"shard-0001": "2"})
    rows = list(r.read(parts[0]))
    assert [(x[0], x[3], x[4], x[5]) for x in rows] == [
        ("1", b"a", "shard-0001", "test-stream"),
        ("2", b"b", "shard-0001", "test-stream"),
    ]
    assert rows[0][2] == datetime(1970, 1, 1, 0, 1, 40)  # arrival 100.0 as naive UTC
    assert [x[6] for x in rows] == [1234, 1234]  # millis_behind_latest


def test_read_starts_after_previous_cursor(monkeypatch):
    client = FakeKinesisClient(SHARDS)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client, startingPosition="trim_horizon")
    parts = r.partitions({}, {"shard-0001": "3"})
    parts[0].ranges[0].start_seq = "1"
    rows = list(r.read(parts[0]))
    assert [x[0] for x in rows] == ["2", "3"]
    assert "get_shard_iterator:AFTER_SEQUENCE_NUMBER" in client.calls


def test_starting_position_at_timestamp(monkeypatch):
    client = FakeKinesisClient(SHARDS)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client, startingPosition="at_timestamp:150")
    end = r.latestOffset()
    assert end["shard-0001"] == {"seq": "3", "at": "2"}
    rows = list(r.read(r.partitions({}, {"shard-0001": "3"})[0]))
    assert [x[0] for x in rows] == ["2", "3"]  # arrivals >= 150 only


def test_max_records_per_batch_caps_poll():
    r = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon", maxRecordsPerBatch="1")
    end = r.latestOffset()
    assert end["shard-0001"] == {"seq": "1", "at": "1"}


def test_shard_close_detected():
    shards = dict(SHARDS)
    shards["shard-0001__closed"] = True
    r = make_reader(FakeKinesisClient(shards), startingPosition="trim_horizon")
    records, closed, _it = r._poll("shard-0001", None, 100)
    assert closed is True
    assert [x["SequenceNumber"] for x in records] == ["1", "2", "3"]


def test_retry_transient_then_succeed():
    sleeps = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise AwsError("ProvisionedThroughputExceededException")
        return "ok"

    out = _call_with_retry(flaky, delay_ms=70_000, max_attempts=3, sleep=sleeps.append)
    assert out == "ok"
    assert sleeps == [70.0, 70.0]  # reference's 70 s pacing (producer.ex:37)


def test_fatal_errors_raise_immediately():
    def fatal():
        raise AwsError("ResourceNotFoundException")

    with pytest.raises(AwsError):
        _call_with_retry(fatal, delay_ms=1, max_attempts=5, sleep=lambda s: None)


def test_transient_exhaustion_raises_last_error():
    def always():
        raise AwsError("ResourceInUseException")

    with pytest.raises(AwsError, match="boom"):
        _call_with_retry(always, delay_ms=1, max_attempts=2, sleep=lambda s: None)


def test_unknown_errors_are_fatal():
    def weird():
        raise AwsError("SomethingNovel")

    with pytest.raises(AwsError):
        _call_with_retry(weird, delay_ms=1, max_attempts=5, sleep=lambda s: None)


# -- 'latest' pinning (executor must never re-resolve a floating position) --


def test_latest_position_pins_first_polled_sequence(monkeypatch):
    """With startingPosition=latest and an idle stream at query start, the
    driver keeps one iterator chain across triggers (no arrival gaps) and the
    first records PIN the range: executor read() uses AT_SEQUENCE_NUMBER on
    the pinned sequence, never LATEST at task time (which would point at the
    then-current tip — silent loss)."""
    shards = {"shard-0001": list(SHARDS["shard-0001"])}
    client = FakeKinesisClient(shards)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client, startingPosition="latest")
    start = r.initialOffset()
    assert r.latestOffset() == {"shard-0001": None}  # nothing beyond the tip yet
    shards["shard-0001"] += [rec(4, b"d", arrival=400.0), rec(5, b"e", arrival=500.0)]
    end = r.latestOffset()
    assert end == {"shard-0001": {"seq": "5", "at": "4"}}  # chain caught arrivals
    parts = r.partitions(start, end)
    client.calls.clear()
    rows = list(r.read(parts[0]))
    assert [x[0] for x in rows] == ["4", "5"]
    assert "get_shard_iterator:AT_SEQUENCE_NUMBER" in client.calls
    assert "get_shard_iterator:LATEST" not in client.calls


# -- EFO subscribe_to_shard push path (A1) ---------------------------------


def efo_part(shard_id="shard-0001", start_seq=None, at_seq="1", end_seq="3", **opts):
    return _ShardRanges(
        ranges=(_ShardRange(shard_id, start_seq, at_seq, end_seq),),
        options={
            "streamName": "test-stream",
            "consumerArn": "arn:aws:kinesis:us-east-1:1:stream/t/consumer/c:1",
            "reconnectDelayMs": "1",
            **opts,
        },
    )


def test_efo_read_uses_subscribe_not_get_records(monkeypatch):
    client = FakeKinesisClient(SHARDS, millis_behind=567)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    rows = list(r.read(efo_part()))
    assert [(x[0], x[3]) for x in rows] == [("1", b"a"), ("2", b"b"), ("3", b"c")]
    assert [x[6] for x in rows] == [567, 567, 567]  # millis_behind_latest
    assert "subscribe_to_shard" in client.calls
    assert "get_records" not in client.calls
    assert client.subscribe_calls[0] == (
        "shard-0001",
        {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": "1"},
    )


def test_efo_read_resumes_after_cursor_with_after_sequence(monkeypatch):
    client = FakeKinesisClient(SHARDS)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    rows = list(r.read(efo_part(start_seq="1", at_seq=None, end_seq="3")))
    assert [x[0] for x in rows] == ["2", "3"]
    assert client.subscribe_calls[0][1] == {
        "Type": "AFTER_SEQUENCE_NUMBER",
        "SequenceNumber": "1",
    }


def test_efo_rerequests_with_continuation_when_stream_closes(monkeypatch):
    """Server ends the stream mid-range (5-min limit): re-subscribe AFTER the
    last ContinuationSequenceNumber (subscribe_to_shard_test.exs:145-166)."""
    subs = [
        [{"SubscribeToShardEvent": {"Records": [rec(1, b"a")], "ContinuationSequenceNumber": "1"}}],
        [{"SubscribeToShardEvent": {"Records": [rec(2, b"b"), rec(3, b"c")], "ContinuationSequenceNumber": "3"}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    rows = list(r.read(efo_part()))
    assert [x[0] for x in rows] == ["1", "2", "3"]
    assert [c[1]["Type"] for c in client.subscribe_calls] == [
        "AT_SEQUENCE_NUMBER",
        "AFTER_SEQUENCE_NUMBER",
    ]
    assert client.subscribe_calls[1][1]["SequenceNumber"] == "1"


def test_efo_rerequests_original_position_when_no_events(monkeypatch):
    """Stream ends with NO events delivered: re-subscribe from the ORIGINAL
    starting position, not a continuation (subscribe_to_shard_test.exs:175)."""
    subs = [
        [],  # first stream ends immediately, no events
        [{"SubscribeToShardEvent": {"Records": [rec(1, b"a"), rec(2, b"b"), rec(3, b"c")], "ContinuationSequenceNumber": "3"}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    rows = list(r.read(efo_part()))
    assert [x[0] for x in rows] == ["1", "2", "3"]
    assert [c[1] for c in client.subscribe_calls] == [
        {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": "1"},
        {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": "1"},
    ]


def test_efo_exception_event_transient_resubscribes(monkeypatch):
    """Transient exception event mid-stream -> paced re-subscribe from the
    last continuation (producer.ex:89-96 ResourceInUse -> retry_conn)."""
    subs = [
        [
            {"SubscribeToShardEvent": {"Records": [rec(1, b"a")], "ContinuationSequenceNumber": "1"}},
            AwsError("ResourceInUseException", "Another active subscription"),
        ],
        [{"SubscribeToShardEvent": {"Records": [rec(2, b"b"), rec(3, b"c")], "ContinuationSequenceNumber": "3"}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    rows = list(r.read(efo_part()))
    assert [x[0] for x in rows] == ["1", "2", "3"]
    assert client.subscribe_calls[1][1] == {
        "Type": "AFTER_SEQUENCE_NUMBER",
        "SequenceNumber": "1",
    }


def test_efo_fatal_exception_event_raises(monkeypatch):
    subs = [[AwsError("ResourceNotFoundException", "no such consumer")]]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    with pytest.raises(AwsError, match="no such consumer"):
        list(r.read(efo_part()))


def test_efo_shard_close_stops_delivery(monkeypatch):
    """Null ContinuationSequenceNumber = shard closed (split/merge, A7):
    deliver what arrived, stop (subscribe_to_shard_test.exs:205)."""
    subs = [
        [{"SubscribeToShardEvent": {"Records": [rec(1, b"a")], "ContinuationSequenceNumber": None}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    rows = list(r.read(efo_part(end_seq="99")))
    assert [x[0] for x in rows] == ["1"]
    assert len(client.subscribe_calls) == 1


# -- HTTP-status taxonomy (subscribe_to_shard.ex:250-269) ------------------


def test_http_3xx_and_5xx_are_transient():
    assert _is_transient(HttpError(307, "redirect")) is True
    assert _is_transient(HttpError(500, "internal")) is True
    assert _is_transient(HttpError(503, "unavailable")) is True


def test_http_4xx_unknown_type_is_fatal():
    assert _is_transient(HttpError(400, "bad request")) is False
    assert _is_transient(AwsError("SomeNovelException", status=400)) is False


def test_http_4xx_with_transient_aws_type_retries():
    # the parsed __type wins over the raw status (a 400-coded throttle)
    assert _is_transient(AwsError("ProvisionedThroughputExceededException", status=400)) is True


def test_retry_paces_on_http_5xx():
    sleeps = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise HttpError(500, "internal")
        return "ok"

    assert _call_with_retry(flaky, delay_ms=70_000, max_attempts=3, sleep=sleeps.append) == "ok"
    assert sleeps == [70.0]


# -- at-least-once guards (restart / truncation / expired-chain classes) ----


def test_partitions_skips_backwards_batch_and_reanchors():
    """Restart guard: a freshly restarted reader's first latestOffset can
    produce an end BEHIND the committed start (it re-polled from the
    original position). partitions() must plan NOTHING for that shard and
    re-anchor the cursor at the committed start — never a backwards batch."""
    r = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon")
    parts = r.partitions({"shard-0001": {"seq": "3", "at": "1"}}, {"shard-0001": {"seq": "1", "at": "1"}})
    assert parts == []
    end = r.latestOffset()  # anchored at committed seq 3 -> nothing new
    assert end["shard-0001"] == {"seq": "3", "at": "1"}


def test_read_raises_instead_of_truncating_planned_range(monkeypatch):
    """A planned range whose tail can't be fetched within the batch cap must
    fail loudly — committing end_seq after a silent truncation would lose
    the tail forever."""
    client = FakeKinesisClient(SHARDS)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client, startingPosition="trim_horizon", maxRecordsPerBatch="2")
    parts = r.partitions({}, {"shard-0001": "3"})
    with pytest.raises(RuntimeError, match="not reached"):
        list(r.read(parts[0]))


def test_expired_chain_iterator_refreshes_at_timestamp_not_latest():
    """An expired idle iterator chain on a floating 'latest' position must
    re-resolve AT_TIMESTAMP(last poll time), not a fresh LATEST — a fresh
    LATEST would skip every record that arrived during the expiry gap."""
    shards = {"shard-0001": list(SHARDS["shard-0001"])}
    client = FakeKinesisClient(shards)
    r = make_reader(client, startingPosition="latest")
    assert r.latestOffset() == {"shard-0001": None}  # chain established at tip
    shards["shard-0001"].append(rec(4, b"late", arrival=99999.0))
    orig_get_records = client.get_records
    state = {"raised": False}

    def expired_once(ShardIterator, Limit=10_000):
        if not state["raised"]:
            state["raised"] = True
            raise AwsError("ExpiredIteratorException")
        return orig_get_records(ShardIterator, Limit)

    client.get_records = expired_once
    r.latestOffset()
    assert "get_shard_iterator:AT_TIMESTAMP" in client.calls
    assert "get_shard_iterator:LATEST" == client.calls[1]  # only the initial resolve


def test_subscribe_overshoot_raises(monkeypatch):
    """EFO stream sails numerically past the planned end without delivering
    it (record expired between planning and a retry): bounded loud failure,
    not an unbounded accumulation loop."""
    subs = [
        [{"SubscribeToShardEvent": {"Records": [rec(5, b"x"), rec(6, b"y")], "ContinuationSequenceNumber": "6"}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    r = make_reader(client)
    with pytest.raises(RuntimeError, match="passed planned end"):
        list(r.read(efo_part(start_seq="1", at_seq=None, end_seq="3")))


# -- read-task packing: a batch's small shard ranges share one task ---------


FOUR_SHARDS = {f"shard-000{s}": [rec(10 * s + i, f"s{s}r{i}".encode()) for i in (1, 2)] for s in range(4)}
FOUR_ENDS = {s: {"seq": recs[-1]["SequenceNumber"], "at": recs[0]["SequenceNumber"]} for s, recs in FOUR_SHARDS.items()}


def _plan(shards, **opts):
    r = make_reader(FakeKinesisClient(shards), startingPosition="trim_horizon", **opts)
    start = r.initialOffset()
    return r.partitions(start, r.latestOffset())


def _shape(parts):
    return [[rng.shard_id for rng in task.ranges] for task in parts]


def test_small_ranges_share_one_task():
    parts = _plan(FOUR_SHARDS)
    assert _shape(parts) == [["shard-0000", "shard-0001", "shard-0002", "shard-0003"]]
    # the cap bounds a task's planned records: 2 + 2 fit in 4, a third does not
    parts = _plan(FOUR_SHARDS, maxRecordsPerBatch="4")
    assert _shape(parts) == [["shard-0000", "shard-0001"], ["shard-0002", "shard-0003"]]


def test_range_at_the_cap_gets_its_own_task():
    shards = {
        "shard-a": [rec(1), rec(2), rec(3)],  # planned range = the cap of 2
        "shard-b": [rec(10)],
        "shard-c": [rec(20)],
    }
    parts = _plan(shards, maxRecordsPerBatch="2")
    assert _shape(parts) == [["shard-a"], ["shard-b", "shard-c"]]


def test_partitions_without_a_poll_plan_one_task_per_shard():
    """Restart replay: the batch comes from the offset log, this reader never
    polled its ranges, so their sizes are unknown and nothing is packed."""
    r = make_reader(FakeKinesisClient(FOUR_SHARDS), startingPosition="trim_horizon")
    parts = r.partitions({}, FOUR_ENDS)
    assert _shape(parts) == [["shard-0000"], ["shard-0001"], ["shard-0002"], ["shard-0003"]]


@pytest.mark.parametrize("consumer_arn", [None, "arn:aws:kinesis:us-east-1:1:stream/t/consumer/c:1"])
def test_multi_range_task_yields_each_exact_range_in_order(monkeypatch, consumer_arn):
    shards = {s: recs + [rec(int(recs[-1]["SequenceNumber"]) + 1, b"beyond")] for s, recs in FOUR_SHARDS.items()}
    client = FakeKinesisClient(shards)
    built = []
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: built.append(1) or client)
    )
    opts = {"streamName": "test-stream", "reconnectDelayMs": "1"}
    if consumer_arn:
        opts["consumerArn"] = consumer_arn
    task = _ShardRanges(
        ranges=tuple(_ShardRange(s, None, e["at"], e["seq"]) for s, e in FOUR_ENDS.items()),
        options=opts,
    )
    rows = list(make_reader(client).read(task))
    assert [(x[4], x[0], x[3]) for x in rows] == [
        (s, r["SequenceNumber"], r["Data"]) for s, recs in FOUR_SHARDS.items() for r in recs
    ]
    assert len(built) == 1  # one reader, so one SDK client, for the whole task


def test_multi_range_task_raises_on_a_truncated_range(monkeypatch):
    client = FakeKinesisClient(SHARDS)
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: client)
    )
    task = _ShardRanges(
        ranges=(_ShardRange("shard-0001", None, "1", "3"), _ShardRange("shard-0002", None, "10", "11")),
        options={"streamName": "test-stream", "reconnectDelayMs": "1"},
    )
    rows = []
    with pytest.raises(RuntimeError, match="planned end '11' not reached on shard-0002"):
        for row in make_reader(client).read(task):
            rows.append(row)
    assert [x[0] for x in rows] == ["1", "2", "3"]  # the intact range came first
