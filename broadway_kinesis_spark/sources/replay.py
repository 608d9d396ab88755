"""`kinesis_replay` — the `kinesis_efo` source over a directory of shard files
(hermetic FakeKinesis twin, SURVEY.md §5).

Layout: a directory with one JSONL file per shard (``<shard_id>.jsonl``).
Each line is one SubscribeToShardEvent in the exact JSON shapes the
reference's test server encodes (FIXTURES.md §A / `fake_kinesis.ex:28-42`):

    {"ContinuationSequenceNumber": "2",
     "Records": [{"Data": "<base64>", "SequenceNumber": "2",
                  "PartitionKey": "pk", "ApproximateArrivalTimestamp": 1.7e9}],
     "MillisBehindLatest": 0}
    {"ExceptionType": "ResourceInUseException", "message": "..."}
    {"ContinuationSequenceNumber": null}        # shard-close sentinel

There is one streaming reader: ``format("kinesis_replay")`` returns
:class:`~broadway_kinesis_spark.sources.kinesis_efo.KinesisEfoStreamReader`
with :class:`ReplayKinesisClient` as its ``clientFactory``, so offsets
(sequence cursors), the five starting positions, ``maxRecordsPerBatch``
pacing (records per shard per batch, default 10,000), shard close and the
A10 retry taxonomy are the production reader's. The client maps the file
onto the SDK calls that reader makes:

- ``get_shard_iterator`` resolves a position to an (event, record) index:
  ``at/after_sequence_number`` match a record's SequenceNumber, else an
  event's ContinuationSequenceNumber (unknown -> InvalidArgumentException,
  fatal); ``at_timestamp`` takes the first event with a record arriving
  at/after T.
- ``get_records`` answers with at most one record-bearing event, so each
  row carries its own event's MillisBehindLatest; record-less events are
  skipped, and an empty answer is the tip (MillisBehindLatest 0). A record
  without a SequenceNumber takes its event's continuation number.
- The close sentinel ends the shard: a null NextShardIterator once drained
  (A7; events after it are never served).
- An exception event raises a botocore-shaped error carrying its type, so
  it surfaces at the driver's read of the batch through the A10 taxonomy.

Options: ``path`` (required), ``streamName`` (default: directory name),
``reconnectDelayMs`` (default 0: a file has no consumer re-registration
window to outlast), plus every other ``kinesis_efo`` option. Checkpoints
hold sequence cursors, so checkpoints written by the former line-index
replay reader do not resume.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource

from broadway_kinesis_spark.sources.kinesis_efo import KinesisEfoStreamReader
from broadway_kinesis_spark.streaming.envelope import ENVELOPE_SCHEMA


class ReplayClientError(Exception):
    """botocore.ClientError-shaped 4xx: carries the AWS ``__type`` code and
    HTTP status in ``.response``, which is all the A10 taxonomy
    (`kinesis_efo._error_code`/`_http_status`) reads."""

    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.response = {
            "Error": {"Code": code, "Message": message},
            "ResponseMetadata": {"HTTPStatusCode": 400},
        }


@dataclass
class _Shard:
    events: list[dict]  # before the close sentinel; exception events kept
    closed: bool


#: path -> (content md5, parsed shard). The engine builds a client per
#: reader (the driver's, and an executor's when it replays a batch), so each
#: file parses (json + base64) at most once per process per content version. The key hashes the bytes,
#: not (mtime, size): a same-length rewrite within the filesystem's mtime
#: granularity must not serve stale records.
_PARSE_CACHE: dict[str, tuple[str, _Shard]] = {}


def _parse(lines) -> _Shard:
    events = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        if "ExceptionType" not in ev:
            csn = ev.get("ContinuationSequenceNumber")
            if csn is None:
                return _Shard(events, closed=True)
            ev["ContinuationSequenceNumber"] = csn = str(csn)
            for r in ev.setdefault("Records", []):
                r["SequenceNumber"] = str(r.get("SequenceNumber", csn))
                if r.get("Data") is not None:
                    r["Data"] = base64.b64decode(r["Data"])
        events.append(ev)
    return _Shard(events, closed=False)


def _load(path: str) -> _Shard:
    with open(path, "rb") as f:
        raw = f.read()
    digest = hashlib.md5(raw).hexdigest()
    hit = _PARSE_CACHE.get(path)
    if hit is None or hit[0] != digest:
        hit = _PARSE_CACHE[path] = (digest, _parse(raw.decode("utf-8").splitlines()))
    return hit[1]


def _start(events: list[dict], kind: str, seq: str | None = None, ts: float | None = None):
    """(event, record) index where an iterator of type ``kind`` starts."""
    if kind == "TRIM_HORIZON":
        return 0, 0
    if kind == "LATEST":
        return len(events), 0
    if kind == "AT_TIMESTAMP":
        for i, ev in enumerate(events):
            arrivals = [r.get("ApproximateArrivalTimestamp") for r in ev.get("Records", [])]
            if any(a is not None and a >= ts for a in arrivals):
                return i, 0
        return len(events), 0
    after = kind == "AFTER_SEQUENCE_NUMBER"
    for i, ev in enumerate(events):
        seqs = [r["SequenceNumber"] for r in ev.get("Records", [])]
        if seq in seqs:
            j = seqs.index(seq) + after
            return (i, j) if j < len(seqs) else (i + 1, 0)
        if ev.get("ContinuationSequenceNumber") == seq:
            return i + after, 0
    raise ReplayClientError(
        "InvalidArgumentException", f"sequence number {seq!r} not found in shard"
    )


class ReplayKinesisClient:
    """The SDK subset ``kinesis_efo`` polls with (list_shards /
    get_shard_iterator / get_records), served from ``<shard_id>.jsonl``
    files. Iterators are ``<shard_id>:<event>:<record>``. A client re-reads
    a shard file when it resolves an iterator and when a read reaches the
    end of what it last saw; shard files are append-only streams."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self._seen: dict[str, _Shard] = {}

    def shard(self, shard_id: str) -> _Shard:
        self._seen[shard_id] = _load(os.path.join(self.data_dir, f"{shard_id}.jsonl"))
        return self._seen[shard_id]

    def list_shards(self, **kw):
        names = sorted(
            fn[: -len(".jsonl")] for fn in os.listdir(self.data_dir) if fn.endswith(".jsonl")
        )
        return {"Shards": [{"ShardId": s} for s in names]}

    def get_shard_iterator(
        self, StreamName, ShardId, ShardIteratorType, StartingSequenceNumber=None, Timestamp=None
    ):
        events = self.shard(ShardId).events
        i, j = _start(events, ShardIteratorType, StartingSequenceNumber, Timestamp)
        return {"ShardIterator": f"{ShardId}:{i}:{j}"}

    def get_records(self, ShardIterator, Limit=10_000):
        shard_id, i, j = ShardIterator.rsplit(":", 2)
        i, j = int(i), int(j)
        shard = self._seen.get(shard_id)
        if shard is None or i >= len(shard.events):
            shard = self.shard(shard_id)
        for i in range(i, len(shard.events)):
            ev = shard.events[i]
            if "ExceptionType" in ev:
                raise ReplayClientError(ev["ExceptionType"], ev.get("message", ""))
            recs = ev["Records"][j : j + Limit]
            if recs:
                lag = ev.get("MillisBehindLatest")
                j += len(recs)
                if j == len(ev["Records"]):
                    i, j = i + 1, 0
                nxt = f"{shard_id}:{i}:{j}"
                return {"Records": recs, "NextShardIterator": nxt, "MillisBehindLatest": lag}
            j = 0
        return {
            "Records": [],
            "NextShardIterator": None if shard.closed else f"{shard_id}:{len(shard.events)}:0",
            "MillisBehindLatest": 0,
        }


def client(options: dict) -> ReplayKinesisClient:
    """``clientFactory`` entry point (options arrive lower-cased)."""
    return ReplayKinesisClient(options["path"])


class ReplayDataSource(DataSource):
    """``spark.readStream.format("kinesis_replay").option("path", dir)``.

    Register once per session:
    ``spark.dataSource.register(ReplayDataSource)``.
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_replay"

    def schema(self):
        return ENVELOPE_SCHEMA

    def simpleStreamReader(self, schema):
        path = self.options.get("path")
        if not path:
            raise ValueError("kinesis_replay requires .option('path', <dir>)")
        options = {
            "streamname": os.path.basename(path.rstrip("/")),
            "reconnectdelayms": "0",
            **{str(k).lower(): v for k, v in self.options.items()},
            "clientfactory": f"{__name__}:client",
        }
        return KinesisEfoStreamReader(schema, options)


def closed_shards(path: str) -> list[str]:
    """Shards whose stream hit the close sentinel (split/merge EOF, A7)."""
    cli = ReplayKinesisClient(path)
    return [s["ShardId"] for s in cli.list_shards()["Shards"] if cli.shard(s["ShardId"]).closed]
