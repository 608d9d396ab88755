"""Hermetic tests for the kinesis_efo reader against a fake SDK client —
the SDK-free port of the reference's FakeKinesis server tests (SURVEY.md §5):
offset math, starting positions, shard discovery, retry taxonomy, EOF."""

from __future__ import annotations

import time
from datetime import datetime
from types import SimpleNamespace

import pytest

from broadway_kinesis_spark.sources import kinesis_efo as efo_mod
from broadway_kinesis_spark.sources.kinesis_efo import (
    KinesisEfoStreamReader,
    _call_with_retry,
    _is_transient,
)

ARN = "arn:aws:kinesis:us-east-1:1:stream/t/consumer/c:1"


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
        self.fetched = 0  # records served, over either API
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
        self.fetched += len(out)
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
        return {"Shards": [{"ShardId": s} for s in self.shards if not s.endswith("__closed")]}

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
        self.fetched += len(out)
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


def _seqs(rows):
    return [(x[4], x[0]) for x in rows]


def test_read_returns_rows_and_end_that_read_between_offsets_rereads():
    """read(start) returns the batch's rows with its end offset; the same
    (start, end] ranges re-read through readBetweenOffsets."""
    r = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon")
    start = r.initialOffset()
    rows, end = r.read(start)
    assert end == {
        "shard-0001": {"seq": "3", "at": "1"},
        "shard-0002": {"seq": "10", "at": "10"},
    }
    expected = [("shard-0001", "1"), ("shard-0001", "2"), ("shard-0001", "3"), ("shard-0002", "10")]
    assert _seqs(rows) == expected
    assert _seqs(r.readBetweenOffsets(start, end)) == expected


def test_read_resumes_after_cursor_and_keeps_idle_shard_entry():
    r = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon")
    rows, end = r.read({"shard-0001": "2", "shard-0002": "10"})
    assert end["shard-0001"] == {"seq": "3", "at": "3"}  # only the tail beyond seq 2
    assert end["shard-0002"] == "10"  # unchanged cursor entry when no new data
    assert _seqs(rows) == [("shard-0001", "3")]


def test_chained_reads_fetch_each_record_once():
    """Two chained reads fetch each record once, over either API: the second
    starts after the first one's end, finds nothing and returns its start
    unchanged."""
    for opts in ({}, {"consumerArn": ARN}):
        client = FakeKinesisClient(SHARDS)
        r = make_reader(client, startingPosition="trim_horizon", **opts)
        rows, first = r.read(r.initialOffset())
        assert len(list(rows)) == 4
        rows, again = r.read(first)
        assert again == first and list(rows) == []
        assert client.fetched == 4  # every record served once
        assert ("get_records" in client.calls) == (not opts)


def test_read_yields_envelope_rows_in_range():
    client = FakeKinesisClient(SHARDS, millis_behind=1234)
    r = make_reader(client, startingPosition="trim_horizon")
    rows = list(r.readBetweenOffsets({}, {"shard-0001": "2"}))
    assert [(x[0], x[3], x[4], x[5]) for x in rows] == [
        ("1", b"a", "shard-0001", "test-stream"),
        ("2", b"b", "shard-0001", "test-stream"),
    ]
    assert rows[0][2] == datetime(1970, 1, 1, 0, 1, 40)  # arrival 100.0 as naive UTC
    assert [x[6] for x in rows] == [1234, 1234]  # millis_behind_latest


def test_read_starts_after_previous_cursor():
    client = FakeKinesisClient(SHARDS)
    r = make_reader(client, startingPosition="trim_horizon")
    rows = list(r.readBetweenOffsets({"shard-0001": "1"}, {"shard-0001": "3"}))
    assert [x[0] for x in rows] == ["2", "3"]
    assert "get_shard_iterator:AFTER_SEQUENCE_NUMBER" in client.calls


def test_starting_position_at_timestamp():
    client = FakeKinesisClient(SHARDS)
    r = make_reader(client, startingPosition="at_timestamp:150")
    rows, end = r.read(r.initialOffset())
    assert end["shard-0001"] == {"seq": "3", "at": "2"}
    assert [x[0] for x in rows if x[4] == "shard-0001"] == ["2", "3"]  # arrivals >= 150 only
    rows = list(r.readBetweenOffsets({}, {"shard-0001": "3"}))
    assert [x[0] for x in rows] == ["2", "3"]


def test_max_records_per_batch_caps_poll():
    r = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon", maxRecordsPerBatch="1")
    _rows, end = r.read(r.initialOffset())
    assert end["shard-0001"] == {"seq": "1", "at": "1"}


def test_shard_close_detected():
    shards = dict(SHARDS)
    shards["shard-0001__closed"] = True
    r = make_reader(FakeKinesisClient(shards), startingPosition="trim_horizon")
    records, closed, _it = r._poll("shard-0001", None, 100)
    assert closed is True
    assert [x["SequenceNumber"] for x in records] == ["1", "2", "3"]


@pytest.mark.parametrize("consumer_arn", [None, ARN])
def test_closed_shard_is_read_once(consumer_arn):
    """A read that reaches a shard's close is the last read of that shard:
    later reads make no SDK call for it and keep its offset entry."""
    shards = {"shard-0001": list(SHARDS["shard-0001"]), "shard-0001__closed": True}
    client = FakeKinesisClient(shards)
    opts = {"consumerArn": consumer_arn} if consumer_arn else {}
    r = make_reader(client, startingPosition="trim_horizon", **opts)
    rows, end = r.read(r.initialOffset())
    assert [x[0] for x in rows] == ["1", "2", "3"]
    client.calls.clear()
    for _ in range(2):
        rows, again = r.read(end)
        assert again == end and list(rows) == []
    assert client.calls == ["list_shards", "list_shards"]


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


# -- 'latest' pinning (a replay must never re-resolve a floating position) --


def test_latest_position_pins_first_polled_sequence():
    """With startingPosition=latest and an idle stream at query start, the
    driver keeps one iterator chain across triggers (no arrival gaps) and the
    first records PIN the range: a replay of the batch uses
    AT_SEQUENCE_NUMBER on the pinned sequence, never LATEST at replay time
    (which would point at the then-current tip — silent loss)."""
    shards = {"shard-0001": list(SHARDS["shard-0001"])}
    client = FakeKinesisClient(shards)
    r = make_reader(client, startingPosition="latest")
    start = r.initialOffset()
    rows, idle = r.read(start)
    assert idle == {"shard-0001": None} and list(rows) == []  # nothing beyond the tip yet
    shards["shard-0001"] += [rec(4, b"d", arrival=400.0), rec(5, b"e", arrival=500.0)]
    rows, end = r.read(idle)
    assert end == {"shard-0001": {"seq": "5", "at": "4"}}  # chain caught arrivals
    assert [x[0] for x in rows] == ["4", "5"]
    client.calls.clear()
    rows = list(r.readBetweenOffsets(start, end))
    assert [x[0] for x in rows] == ["4", "5"]
    assert "get_shard_iterator:AT_SEQUENCE_NUMBER" in client.calls
    assert "get_shard_iterator:LATEST" not in client.calls


def test_latest_position_with_consumer_arn_polls_until_pinned():
    """A push subscription at LATEST each trigger would skip what arrived
    between triggers, so a shard still on a floating 'latest' keeps the
    polled iterator chain; once a record pins its cursor, reads subscribe
    AFTER it."""
    shards = {"shard-0001": list(SHARDS["shard-0001"])}
    client = FakeKinesisClient(shards)
    r = make_reader(client, startingPosition="latest", consumerArn=ARN)
    _rows, idle = r.read(r.initialOffset())
    shards["shard-0001"].append(rec(4, b"d", arrival=400.0))
    rows, end = r.read(idle)
    assert [x[0] for x in rows] == ["4"] and client.subscribe_calls == []
    shards["shard-0001"].append(rec(5, b"e", arrival=500.0))
    rows, _end = r.read(end)
    assert [x[0] for x in rows] == ["5"]
    assert client.subscribe_calls == [
        ("shard-0001", {"Type": "AFTER_SEQUENCE_NUMBER", "SequenceNumber": "4"})
    ]


# -- EFO subscribe_to_shard push path (A1) ---------------------------------


def efo_read(client, shard_id="shard-0001", start_seq=None, at_seq="1", end_seq="3", **opts):
    """Rows of one shard range re-read over the push path."""
    r = make_reader(client, consumerArn=ARN, **opts)
    return list(r.readBetweenOffsets({shard_id: start_seq}, {shard_id: {"seq": end_seq, "at": at_seq}}))


def test_efo_read_uses_subscribe_not_get_records():
    client = FakeKinesisClient(SHARDS, millis_behind=567)
    rows = efo_read(client)
    assert [(x[0], x[3]) for x in rows] == [("1", b"a"), ("2", b"b"), ("3", b"c")]
    assert [x[6] for x in rows] == [567, 567, 567]  # millis_behind_latest
    assert "subscribe_to_shard" in client.calls
    assert "get_records" not in client.calls
    assert client.subscribe_calls[0] == (
        "shard-0001",
        {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": "1"},
    )


def test_efo_driver_read_subscribes_once_per_shard():
    """The driver's read subscribes at the starting position for a shard
    without a cursor, AFTER the cursor once it has one, and never polls."""
    client = FakeKinesisClient(SHARDS)
    r = make_reader(client, startingPosition="trim_horizon", consumerArn=ARN)
    rows, end = r.read(r.initialOffset())
    assert _seqs(rows) == [("shard-0001", "1"), ("shard-0001", "2"), ("shard-0001", "3"), ("shard-0002", "10")]
    r.read(end)
    assert client.subscribe_calls == [
        ("shard-0001", {"Type": "TRIM_HORIZON"}),
        ("shard-0002", {"Type": "TRIM_HORIZON"}),
        ("shard-0001", {"Type": "AFTER_SEQUENCE_NUMBER", "SequenceNumber": "3"}),
        ("shard-0002", {"Type": "AFTER_SEQUENCE_NUMBER", "SequenceNumber": "10"}),
    ]
    assert "get_records" not in client.calls and "get_shard_iterator" not in " ".join(client.calls)


def test_efo_back_to_back_reads_subscribe_each_shard_at_most_once_a_second(monkeypatch):
    """AWS allows one SubscribeToShard per second per consumer per shard:
    a read within that second of a shard's last subscribe waits out the
    rest of it before subscribing again, instead of tripping
    LimitExceededException (whose retry would stall for reconnectDelayMs)."""
    clock = [100.0]
    stamps: list[tuple[str, float]] = []

    def sleep(s):
        clock[0] += s

    monkeypatch.setattr(
        efo_mod, "time", SimpleNamespace(monotonic=lambda: clock[0], sleep=sleep, time=time.time)
    )
    client = FakeKinesisClient(SHARDS)
    real_subscribe = client.subscribe_to_shard

    def subscribe(**kw):
        stamps.append((kw["ShardId"], clock[0]))
        return real_subscribe(**kw)

    client.subscribe_to_shard = subscribe
    r = make_reader(client, startingPosition="trim_horizon", consumerArn=ARN)
    _rows, end = r.read(r.initialOffset())
    clock[0] += 0.25
    r.read(end)
    clock[0] += 2.0
    r.read(end)
    for shard in SHARDS:
        times = [t for s, t in stamps if s == shard]
        assert len(times) == 3
        assert all(b - a >= 1.0 for a, b in zip(times, times[1:]))
    # the second read waited the rest of the second once, not per shard; the
    # third, 2 s later, did not wait
    assert [t for s, t in stamps if s == "shard-0001"] == [100.0, 101.0, 103.0]


def test_efo_driver_read_cuts_the_last_event_at_the_cap():
    subs = [[{"SubscribeToShardEvent": {"Records": [rec(1), rec(2), rec(3)], "ContinuationSequenceNumber": "3"}}]]
    client = FakeKinesisClient({"shard-0001": []}, subscriptions=subs)
    r = make_reader(client, startingPosition="trim_horizon", consumerArn=ARN, maxRecordsPerBatch="2")
    rows, end = r.read(r.initialOffset())
    assert [x[0] for x in rows] == ["1", "2"]
    assert end == {"shard-0001": {"seq": "2", "at": "1"}}


def test_efo_driver_read_stops_at_a_caught_up_event():
    """A live subscription never ends by itself: the read stops at the first
    event that reports the consumer caught up, and leaves the stream closed."""
    stream_closed = []

    def live():
        try:
            yield {"SubscribeToShardEvent": {"Records": [rec(1)], "ContinuationSequenceNumber": "1", "MillisBehindLatest": 5}}
            yield {"SubscribeToShardEvent": {"Records": [rec(2)], "ContinuationSequenceNumber": "2", "MillisBehindLatest": 0}}
            raise AssertionError("read past the caught-up event")
        finally:
            stream_closed.append(True)

    client = FakeKinesisClient({"shard-0001": []}, subscriptions=[live()])
    r = make_reader(client, startingPosition="trim_horizon", consumerArn=ARN)
    rows, end = r.read(r.initialOffset())
    assert [x[0] for x in rows] == ["1", "2"]
    assert end == {"shard-0001": {"seq": "2", "at": "1"}}
    assert stream_closed == [True]


def test_efo_read_resumes_after_cursor_with_after_sequence():
    client = FakeKinesisClient(SHARDS)
    rows = efo_read(client, start_seq="1", at_seq=None, end_seq="3")
    assert [x[0] for x in rows] == ["2", "3"]
    assert client.subscribe_calls[0][1] == {
        "Type": "AFTER_SEQUENCE_NUMBER",
        "SequenceNumber": "1",
    }


def test_efo_rerequests_with_continuation_when_stream_closes():
    """Server ends the stream mid-range (5-min limit): re-subscribe AFTER the
    last ContinuationSequenceNumber (subscribe_to_shard_test.exs:145-166)."""
    subs = [
        [{"SubscribeToShardEvent": {"Records": [rec(1, b"a")], "ContinuationSequenceNumber": "1"}}],
        [{"SubscribeToShardEvent": {"Records": [rec(2, b"b"), rec(3, b"c")], "ContinuationSequenceNumber": "3"}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    rows = efo_read(client)
    assert [x[0] for x in rows] == ["1", "2", "3"]
    assert [c[1]["Type"] for c in client.subscribe_calls] == [
        "AT_SEQUENCE_NUMBER",
        "AFTER_SEQUENCE_NUMBER",
    ]
    assert client.subscribe_calls[1][1]["SequenceNumber"] == "1"


def test_efo_rerequests_original_position_when_no_events():
    """Stream ends with NO events delivered: re-subscribe from the ORIGINAL
    starting position, not a continuation (subscribe_to_shard_test.exs:175)."""
    subs = [
        [],  # first stream ends immediately, no events
        [{"SubscribeToShardEvent": {"Records": [rec(1, b"a"), rec(2, b"b"), rec(3, b"c")], "ContinuationSequenceNumber": "3"}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    rows = efo_read(client)
    assert [x[0] for x in rows] == ["1", "2", "3"]
    assert [c[1] for c in client.subscribe_calls] == [
        {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": "1"},
        {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": "1"},
    ]


def test_efo_exception_event_transient_resubscribes():
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
    rows = efo_read(client)
    assert [x[0] for x in rows] == ["1", "2", "3"]
    assert client.subscribe_calls[1][1] == {
        "Type": "AFTER_SEQUENCE_NUMBER",
        "SequenceNumber": "1",
    }


def test_efo_fatal_exception_event_raises():
    subs = [[AwsError("ResourceNotFoundException", "no such consumer")]]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    with pytest.raises(AwsError, match="no such consumer"):
        efo_read(client)


def test_efo_shard_close_stops_delivery():
    """Null ContinuationSequenceNumber = shard closed (split/merge, A7):
    deliver what arrived, stop (subscribe_to_shard_test.exs:205)."""
    subs = [
        [{"SubscribeToShardEvent": {"Records": [rec(1, b"a")], "ContinuationSequenceNumber": None}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    rows = efo_read(client, end_seq="99")
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


def test_read_between_offsets_skips_backwards_shard():
    """Restart guard: an offset-log batch whose end is BEHIND its committed
    start (Spark plans on offset inequality, not ordering) re-reads nothing
    for that shard — never a backwards batch — and a read from the
    committed start finds nothing new."""
    client = FakeKinesisClient(SHARDS)
    r = make_reader(client, startingPosition="trim_horizon")
    committed = {"shard-0001": {"seq": "3", "at": "1"}}
    assert list(r.readBetweenOffsets(committed, {"shard-0001": {"seq": "1", "at": "1"}})) == []
    assert client.calls == []
    _rows, end = r.read(committed)
    assert end["shard-0001"] == {"seq": "3", "at": "1"}


def test_read_between_offsets_rereads_a_range_planned_under_a_larger_cap(monkeypatch):
    """A query restarted with a lower maxRecordsPerBatch re-reads its last
    offset-log batch, planned under the old cap, whole over either API:
    get_records repeats the capped poll from the last record read until the
    planned end; EFO reads each shard's range through one subscription,
    uncapped, so no subscribe waits out the per-second pacing. (Truncation
    still fails loudly: see the truncated-range test.)"""
    sleeps = []
    monkeypatch.setattr(
        efo_mod, "time", SimpleNamespace(monotonic=lambda: 100.0, sleep=sleeps.append, time=time.time)
    )
    planner = make_reader(FakeKinesisClient(SHARDS), startingPosition="trim_horizon")
    start = planner.initialOffset()
    _rows, end = planner.read(start)
    assert end["shard-0001"] == {"seq": "3", "at": "1"}
    reread = {}
    for opts in ({}, {"consumerArn": ARN}):
        client = FakeKinesisClient(SHARDS)
        r = make_reader(client, startingPosition="trim_horizon", maxRecordsPerBatch="2", **opts)
        reread[bool(opts)] = [(x[4], x[0], x[3]) for x in r.readBetweenOffsets(start, end)]
    assert [seq for _shard, seq, _data in reread[False]] == ["1", "2", "3", "10"]
    assert reread[True] == reread[False]
    assert [shard for shard, _pos in client.subscribe_calls] == ["shard-0001", "shard-0002"]
    assert sleeps == []


def test_expired_chain_iterator_refreshes_at_timestamp_not_latest():
    """An expired idle iterator chain on a floating 'latest' position must
    re-resolve AT_TIMESTAMP(last poll time), not a fresh LATEST — a fresh
    LATEST would skip every record that arrived during the expiry gap."""
    shards = {"shard-0001": list(SHARDS["shard-0001"])}
    client = FakeKinesisClient(shards)
    r = make_reader(client, startingPosition="latest")
    rows, end = r.read({"shard-0001": None})
    assert end == {"shard-0001": None} and list(rows) == []  # chain established at tip
    shards["shard-0001"].append(rec(4, b"late", arrival=99999.0))
    orig_get_records = client.get_records
    state = {"raised": False}

    def expired_once(ShardIterator, Limit=10_000):
        if not state["raised"]:
            state["raised"] = True
            raise AwsError("ExpiredIteratorException")
        return orig_get_records(ShardIterator, Limit)

    client.get_records = expired_once
    r.read(end)
    assert "get_shard_iterator:AT_TIMESTAMP" in client.calls
    assert "get_shard_iterator:LATEST" == client.calls[1]  # only the initial resolve


def test_subscribe_overshoot_raises():
    """EFO stream sails numerically past the planned end without delivering
    it (record expired between the first read and a replay): bounded loud
    failure, not an unbounded accumulation loop."""
    subs = [
        [{"SubscribeToShardEvent": {"Records": [rec(5, b"x"), rec(6, b"y")], "ContinuationSequenceNumber": "6"}}],
    ]
    client = FakeKinesisClient(SHARDS, subscriptions=subs)
    with pytest.raises(RuntimeError, match="passed planned end"):
        efo_read(client, start_seq="1", at_seq=None, end_seq="3")


# -- one batch, many shards: ranges in shard order, each at most the cap ----


FOUR_SHARDS = {f"shard-000{s}": [rec(10 * s + i, f"s{s}r{i}".encode()) for i in (1, 2)] for s in range(4)}
FOUR_ENDS = {s: {"seq": recs[-1]["SequenceNumber"], "at": recs[0]["SequenceNumber"]} for s, recs in FOUR_SHARDS.items()}
FOUR_ROWS = [(s, r["SequenceNumber"], r["Data"]) for s, recs in FOUR_SHARDS.items() for r in recs]


def _read(shards, **opts):
    r = make_reader(FakeKinesisClient(shards), startingPosition="trim_horizon", **opts)
    rows, end = r.read(r.initialOffset())
    return [(x[4], x[0], x[3]) for x in rows], end


def test_read_caps_each_shard_range_not_the_batch():
    rows, end = _read(FOUR_SHARDS)
    assert rows == FOUR_ROWS and end == FOUR_ENDS
    # the cap bounds each shard's range, not the batch
    rows, _end = _read(FOUR_SHARDS, maxRecordsPerBatch="1")
    assert rows == FOUR_ROWS[::2]


def test_range_at_the_cap_is_cut_at_the_cap():
    shards = {
        "shard-a": [rec(1), rec(2), rec(3)],  # range cut at the cap of 2
        "shard-b": [rec(10)],
        "shard-c": [rec(20)],
    }
    rows, end = _read(shards, maxRecordsPerBatch="2")
    assert [(s, seq) for s, seq, _ in rows] == [("shard-a", "1"), ("shard-a", "2"), ("shard-b", "10"), ("shard-c", "20")]
    assert end["shard-a"] == {"seq": "2", "at": "1"}


def test_read_between_offsets_reads_unfetched_ranges_in_order():
    """Restart replay: the batch comes from the offset log and this reader
    never fetched it; every shard range is re-read whole, in shard order."""
    r = make_reader(FakeKinesisClient(FOUR_SHARDS), startingPosition="trim_horizon")
    rows = list(r.readBetweenOffsets({}, FOUR_ENDS))
    assert [(x[4], x[0], x[3]) for x in rows] == FOUR_ROWS


@pytest.mark.parametrize("consumer_arn", [None, ARN])
def test_read_between_offsets_yields_each_exact_range_with_one_client(monkeypatch, consumer_arn):
    shards = {s: recs + [rec(int(recs[-1]["SequenceNumber"]) + 1, b"beyond")] for s, recs in FOUR_SHARDS.items()}
    client = FakeKinesisClient(shards)
    built = []
    monkeypatch.setattr(
        KinesisEfoStreamReader, "client_factory", staticmethod(lambda opts: built.append(1) or client)
    )
    opts = {"consumerArn": consumer_arn} if consumer_arn else {}
    rows = list(make_reader(None, **opts).readBetweenOffsets({}, FOUR_ENDS))
    assert [(x[4], x[0], x[3]) for x in rows] == FOUR_ROWS
    assert len(built) == 1  # one reader, so one SDK client, for the whole batch


def test_read_between_offsets_raises_on_a_truncated_range():
    r = make_reader(FakeKinesisClient(SHARDS))
    end = {"shard-0001": {"seq": "3", "at": "1"}, "shard-0002": {"seq": "11", "at": "10"}}
    rows = []
    with pytest.raises(RuntimeError, match="planned end '11' not reached on shard-0002"):
        for row in r.readBetweenOffsets({}, end):
            rows.append(row)
    assert [x[0] for x in rows] == ["1", "2", "3"]  # the intact range came first
