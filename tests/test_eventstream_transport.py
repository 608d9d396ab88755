"""FakeKinesis-parity transport tier for the EFO consume loop (VERDICT
r10 #5 / round-9 #3's last §2.A fidelity gap).

The reference's FakeKinesis speaks actual ``application/vnd.amazon.
eventstream`` binary framing over chunked HTTP (`test/support/
fake_kinesis.ex:15-42`), including a frame split across chunk boundaries
(`:220-245`). ``botocore.stub.Stubber`` cannot stub an HTTP/2 event
stream, so the round-10 contract tier pinned only the REQUEST marshaling
of ``subscribe_to_shard``; this file closes the response side: the tests
hand-encode real eventstream frames (prelude + headers + CRC32s — the
same public wire format fake_kinesis.ex encodes), push them through
botocore's REAL transport decoder (``EventStreamBuffer`` →
``EventStream`` → ``EventStreamJSONParser`` against the bundled Kinesis
service model), and drive the source's actual consume loop
(``KinesisEfoStreamReader._subscribe`` through ``readBetweenOffsets``) off
the decoded stream —
so record decode, continuation advance, end-of-range detection, and the
close-on-null-continuation path all execute against bytes that crossed
the real wire format, not a hand-shaped dict.

Hermetic: no sockets, no Spark session; the raw stream is an in-memory
chunk iterator (the exact seam botocore's urllib3 response exposes).
"""

from __future__ import annotations

import base64
import binascii
import json
import struct

import pytest

botocore = pytest.importorskip("botocore")

import botocore.session
from botocore.eventstream import EventStream, EventStreamBuffer, EventStreamError
from botocore.parsers import EventStreamJSONParser

# ---------------------------------------------------------- frame encoder
# The public eventstream message format (also what fake_kinesis.ex:15-42
# encodes): [total_len u32][headers_len u32][prelude_crc u32][headers]
# [payload][message_crc u32]; each header is [name_len u8][name][type u8]
# [value]; type 7 = string with a u16 length prefix.


def _enc_header(name: str, value: str) -> bytes:
    nb, vb = name.encode(), value.encode()
    return bytes([len(nb)]) + nb + bytes([7]) + struct.pack(">H", len(vb)) + vb


def encode_frame(headers: dict[str, str], payload: bytes) -> bytes:
    hdr = b"".join(_enc_header(k, v) for k, v in headers.items())
    total = 12 + len(hdr) + len(payload) + 4
    prelude = struct.pack(">II", total, len(hdr))
    prelude_crc = struct.pack(">I", binascii.crc32(prelude) & 0xFFFFFFFF)
    body = prelude + prelude_crc + hdr + payload
    return body + struct.pack(">I", binascii.crc32(body) & 0xFFFFFFFF)


def event_frame(records, continuation, millis_behind=0) -> bytes:
    payload = json.dumps(
        {
            "Records": [
                {
                    "SequenceNumber": str(s),
                    "Data": base64.b64encode(data).decode(),
                    "PartitionKey": pk,
                    "ApproximateArrivalTimestamp": 1.7e9,
                }
                for s, data, pk in records
            ],
            "ContinuationSequenceNumber": continuation,
            "MillisBehindLatest": millis_behind,
        }
    ).encode()
    return encode_frame(
        {
            ":message-type": "event",
            ":event-type": "SubscribeToShardEvent",
            ":content-type": "application/x-amz-json-1.1",
        },
        payload,
    )


def initial_response_frame() -> bytes:
    return encode_frame(
        {":message-type": "event", ":event-type": "initial-response"},
        b"{}",
    )


# ----------------------------------------------- real botocore decode path
class _RawChunks:
    """The seam botocore's HTTP response object exposes to EventStream."""

    def __init__(self, chunks):
        self._chunks = list(chunks)

    def stream(self):
        yield from self._chunks

    def close(self):
        pass


def real_event_stream(frame_bytes: bytes, chunk_size: int | None = None):
    """A genuine ``botocore.eventstream.EventStream`` over raw frame bytes,
    decoded by the real buffer/parser against the bundled Kinesis model —
    what ``resp["EventStream"]`` IS on a live subscribe_to_shard call."""
    model = botocore.session.get_session().get_service_model("kinesis")
    shape = model.operation_model("SubscribeToShard").output_shape.members[
        "EventStream"
    ]
    if chunk_size is None:
        chunks = [frame_bytes]
    else:
        chunks = [
            frame_bytes[i : i + chunk_size]
            for i in range(0, len(frame_bytes), chunk_size)
        ]
    return EventStream(
        _RawChunks(chunks), shape, EventStreamJSONParser(), "SubscribeToShard"
    )


def _frames(*recs_cont):
    out = initial_response_frame()
    for records, cont in recs_cont:
        out += event_frame(records, cont)
    return out


def test_roundtrip_single_chunk_decodes_modeled_events():
    """Whole stream in one chunk: the real decoder must yield the modeled
    event dicts — base64 blobs back as bytes, continuation as string.
    The initial-response frame parses to an EMPTY dict, which botocore's
    ``EventStream.__iter__`` itself drops (``if parsed: yield``) — the
    wire-real reason the consume loop's ``ev is None`` guard
    (subscribe_to_shard.ex:341's analogue) sees only non-modeled event
    TYPES, never the initial response."""
    raw = _frames(([("1", b"alpha", "pk1"), ("2", b"beta", "pk2")], "2"))
    events = list(real_event_stream(raw))
    assert len(events) == 1  # initial-response dropped by the real SDK
    ev = events[0]["SubscribeToShardEvent"]
    assert [r["Data"] for r in ev["Records"]] == [b"alpha", b"beta"]
    assert [r["SequenceNumber"] for r in ev["Records"]] == ["1", "2"]
    assert ev["ContinuationSequenceNumber"] == "2"


@pytest.mark.parametrize("chunk_size", [1, 7, 64, 1024])
def test_frames_split_across_chunk_boundaries(chunk_size):
    """fake_kinesis.ex:220-245's test shape: the byte stream re-chunked at
    arbitrary boundaries (including mid-prelude and across two frames)
    must decode to the identical event sequence."""
    raw = _frames(
        ([("1", b"a" * 33, "p")], "1"),
        ([("2", b"b" * 57, "p")], "2"),
        ([("3", b"c", "p")], None),
    )
    whole = [
        e["SubscribeToShardEvent"]
        for e in real_event_stream(raw)
        if "SubscribeToShardEvent" in e
    ]
    split = [
        e["SubscribeToShardEvent"]
        for e in real_event_stream(raw, chunk_size=chunk_size)
        if "SubscribeToShardEvent" in e
    ]
    assert split == whole and len(split) == 3


def test_buffer_yields_nothing_until_frame_completes():
    """A partial frame must never surface: feed all but the last byte,
    assert zero messages, then the final byte completes exactly one."""
    raw = event_frame([("1", b"x", "p")], "1")
    buf = EventStreamBuffer()
    buf.add_data(raw[:-1])
    assert list(buf) == []
    buf.add_data(raw[-1:])
    assert len(list(buf)) == 1


def test_corrupted_crc_raises_checksum_mismatch():
    from botocore.eventstream import ChecksumMismatch

    raw = bytearray(event_frame([("1", b"x", "p")], "1"))
    raw[-1] ^= 0xFF  # flip a message-CRC bit
    with pytest.raises(ChecksumMismatch):
        list(real_event_stream(bytes(raw)))


# ------------------------------------------ the source's own consume loop
class _TransportFakeClient:
    """subscribe_to_shard answers with a REAL EventStream over hand-encoded
    frames; each call consumes the next scripted subscription."""

    def __init__(self, scripted):
        self.calls = []
        self._scripted = list(scripted)

    def subscribe_to_shard(self, **kwargs):
        self.calls.append(kwargs)
        raw, chunk = self._scripted.pop(0)
        return {"EventStream": real_event_stream(raw, chunk_size=chunk)}


def _reader_and_range(end_seq):
    """An EFO reader and the (start, end) offsets of the range AT sequence 1
    through ``end_seq`` on one shard: ``readBetweenOffsets`` reads it."""
    from broadway_kinesis_spark.sources.kinesis_efo import KinesisEfoStreamReader

    reader = KinesisEfoStreamReader(
        None,
        {
            "streamName": "transport-stream",
            "consumerArn": "arn:fake:consumer",
            "reconnectDelayMs": "1",
        },
    )
    shard = "shardId-000000000000"
    return reader, ({shard: None}, {shard: {"seq": end_seq, "at": "1"}})


def test_consume_loop_reads_range_off_real_wire_bytes():
    """End-to-end over the real transport decode: the consume loop pulls
    records from genuine eventstream frames (split into 7-byte chunks),
    returns exactly the planned range, and the record Data arrives as the
    SDK-decoded bytes."""
    raw = _frames(
        ([("1", b"r-one", "p")], "1"),
        ([("2", b"r-two", "p"), ("3", b"r-three", "p")], "3"),
    )
    reader, rng = _reader_and_range(end_seq="3")
    reader._client = _TransportFakeClient([(raw, 7)])
    rows = list(reader.readBetweenOffsets(*rng))
    assert [x[0] for x in rows] == ["1", "2", "3"]
    assert [x[3] for x in rows] == [b"r-one", b"r-two", b"r-three"]


def test_consume_loop_resubscribes_from_continuation_across_streams():
    """A8: the server ends the first (transport-real) stream early; the
    loop must re-subscribe AFTER the last continuation and finish the
    range from the second stream — both decoded from real frames."""
    first = _frames(([("1", b"x", "p")], "1"))
    second = _frames(([("2", b"y", "p")], "2"))
    reader, rng = _reader_and_range(end_seq="2")
    cli = _TransportFakeClient([(first, 5), (second, None)])
    reader._client = cli
    rows = list(reader.readBetweenOffsets(*rng))
    assert [x[0] for x in rows] == ["1", "2"]
    assert cli.calls[1]["StartingPosition"] == {
        "Type": "AFTER_SEQUENCE_NUMBER",
        "SequenceNumber": "1",
    }


def exception_frame(exception_type: str, message: str) -> bytes:
    return encode_frame(
        {
            ":message-type": "exception",
            ":exception-type": exception_type,
            ":content-type": "application/x-amz-json-1.1",
        },
        json.dumps({"message": message}).encode(),
    )


def test_consume_loop_retries_transient_exception_event_off_real_wire():
    """A10 over real frames: a mid-stream exception EVENT (a genuine
    eventstream exception frame, which botocore's real decoder raises as
    ``EventStreamError`` with the parsed ``Error.Code``) classifies
    through the transient taxonomy and the loop re-subscribes AFTER the
    last continuation — completing the range from the second stream."""
    first = _frames(([("1", b"x", "p")], "1")) + exception_frame(
        "InternalFailureException", "internal failure, retry"
    )
    second = _frames(([("2", b"y", "p")], "2"))
    reader, rng = _reader_and_range(end_seq="2")
    cli = _TransportFakeClient([(first, 9), (second, None)])
    reader._client = cli
    rows = list(reader.readBetweenOffsets(*rng))
    assert [x[0] for x in rows] == ["1", "2"]
    assert len(cli.calls) == 2
    assert cli.calls[1]["StartingPosition"] == {
        "Type": "AFTER_SEQUENCE_NUMBER",
        "SequenceNumber": "1",
    }


def test_consume_loop_raises_fatal_exception_event_off_real_wire():
    """A10's fatal side over real frames: ResourceNotFoundException mid-
    stream surfaces (no silent retry), carrying the parsed AWS code."""
    from botocore.eventstream import EventStreamError

    raw = _frames(([("1", b"x", "p")], "1")) + exception_frame(
        "ResourceNotFoundException", "stream deleted"
    )
    reader, rng = _reader_and_range(end_seq="9")
    reader._client = _TransportFakeClient([(raw, None)])
    with pytest.raises(EventStreamError) as ei:
        list(reader.readBetweenOffsets(*rng))
    assert ei.value.response["Error"]["Code"] == "ResourceNotFoundException"


def test_consume_loop_stops_at_null_continuation_shard_close():
    """A7 over real frames: a null ContinuationSequenceNumber closes the
    shard — the loop returns what it has without re-subscribing."""
    raw = _frames(([("1", b"x", "p")], None))
    reader, rng = _reader_and_range(end_seq="9")
    cli = _TransportFakeClient([(raw, 3)])
    reader._client = cli
    rows = list(reader.readBetweenOffsets(*rng))
    assert [x[0] for x in rows] == ["1"]
    assert len(cli.calls) == 1
