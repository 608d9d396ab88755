"""`kinesis_efo` — AWS Kinesis streaming source (Spark 4 Python DataSource).

The engine's one Kinesis reader: it reads a live stream through the AWS SDK,
and the hermetic ``kinesis_replay`` format (sources/replay.py) is this same
reader over a file-backed SDK client, so replay tests exercise these offsets,
positions, pacing, shard close and retry rules. Feature-parity map to the reference
(mbta/broadway_kinesis), by SURVEY.md §2.A row:

- A1: enhanced-fan-out subscribe — when ``consumerArn`` is set, records
  arrive over ``subscribe_to_shard``'s HTTP/2 push event stream
  (`subscribe_to_shard.ex:25,87-108`): dedicated 2 MB/s/consumer
  throughput instead of the shared 5-reads/sec GetRecords quota. Without a
  consumer ARN the source falls back to polling ``get_records`` (the same
  envelope rows either way).
- A2: all five starting positions via ``startingPosition`` option
  (``subscribe_to_shard.ex:423-435``).
- A3: event-stream frame decode is SDK-side (botocore's event-stream
  parser), by design.
- A5: message dispatch — SubscribeToShardEvent vs exception events vs
  stream end, mirroring `subscribe_to_shard.ex:329-366`.
- A6: per-shard continuation cursor -> the stream offset is
  ``{shard_id: {"seq": last, "at": first}}``; Spark's offset/commit logs
  replace the manual resume API (A15, ``producer.ex:196-218``). The ``at``
  pin records the CONCRETE first sequence number of each batch's range so
  a replayed batch never re-resolves a floating position (LATEST at replay
  time would point at the then-current tip — silent loss).
- A7: shard close -> a null ContinuationSequenceNumber / null
  NextShardIterator stops delivery; re-enumeration via ``list_shards``
  picks up children (generalizing the single-shard match, A11,
  ``producer.ex:172-173``).
- A8/A9: re-subscribe — the push stream's server-side 5-minute limit ends
  the event stream without error. The driver's read takes what arrived and
  the next trigger subscribes AFTER its cursor; a range re-read
  re-subscribes AFTER the last record read, or from the ORIGINAL starting
  position when no events arrived yet
  (`subscribe_to_shard_test.exs:145-166,175-189`).
- A10/A13: error taxonomy + paced retry -> :func:`_is_transient` /
  :func:`_call_with_retry`; AWS-coded transient faults AND 3xx/5xx HTTP
  responses retry after ``reconnectDelayMs`` (default 70000 ms — the
  reference's ``@reconnection_delay``, ``producer.ex:37``, chosen to
  outlast AWS's 5-consumers/shard re-registration window); 4xx AWS-typed
  errors surface by their parsed ``__type`` (fatal unless the type itself
  is transient), mirroring `subscribe_to_shard.ex:250-269`.
- A14: emit-before-fail -> at-least-once via offset replay: a failed batch
  re-reads from the last committed cursor.
- A16: ``maxRecordsPerBatch`` bounds each batch (pull-based pacing the
  push-based reference lacks).

Batch planning strategy: the reader is a ``SimpleDataSourceStreamReader``,
so the driver's one read per shard per trigger IS the batch's data.
``read(start)`` makes one bounded fetch per shard from ``start``'s cursor,
capped at ``maxRecordsPerBatch`` records, and returns those rows with the
end offset. Spark (``_SimpleStreamReaderWrapper``) caches the rows, ships
them to the JVM as Arrow when it plans the batch, and serves them from the
block manager, so a live micro-batch runs no executor-side Python read and
each record is fetched once. Kinesis exposes no payload-free tail probe, so
end discovery has to fetch the records anyway; this makes that fetch the
only one.

- With ``consumerArn`` the fetch subscribes once per shard per trigger:
  AFTER the cursor, or at the configured starting position for a shard
  without one. It stops at the cap (the last event is cut there), at a
  caught-up event (``MillisBehindLatest`` 0), at a null continuation (the
  shard closed) or when the stream ends. AWS allows one ``SubscribeToShard``
  per second per consumer per shard, so a subscribe within a second of the
  shard's last one first waits out the rest of that second: a trigger
  interval under 1 s gains nothing, and one of 1 s or more never waits.
- Without a consumer ARN, and for a shard still on a floating ``latest``
  position, the fetch polls ``get_records``, continuing one iterator chain
  across triggers until the first record pins a cursor.
- A shard whose read reached its close is remembered in reader memory (not
  in the offsets) and never read again by this reader.

Driver memory holds the rows of at most three batches (shards ×
``maxRecordsPerBatch`` records each): Spark keeps a batch's rows until it
commits the source offsets of the batch after it. Each batch reaches Spark
as one partition, and the driver fetches the shards one after another.
Measured on a 4-vCPU host, draining a backlog of 4 shards × 20,000 × 1 KiB
records at the default cap (40 MB of payload per batch), the driver's source
process peaked at about 430 MB (the file-backed test client's copy of the
whole stream included), about 45 MB above a process that fetched the same
batches without keeping them; budget driver memory by shard count and
record size accordingly.

On restart, Spark hands the offset log's latest end to the reader before
its first read (``setLatestSeenOffset``, which the Python wrapper takes as
its read cursor), so the first read continues from the checkpoint, not from
``startingPosition``.

``readBetweenOffsets(start, end)`` re-reads a batch of the offset log that
this reader did not fetch: a restart between offset commit and sink commit.
It is the only read that runs on an executor. It reads each shard's range
(start, end] — AFTER the start cursor, else AT the pinned first sequence —
whole, whatever ``maxRecordsPerBatch`` is now: the batch may have been
planned under a larger cap than the restarted query's. With ``consumerArn``
one subscription per shard reads the range to its planned end, the cap not
applied, so the re-read waits out no per-second subscribe pacing (the cap
would save no memory there: the range is held whole before it is yielded).
Over ``get_records`` the capped poll repeats from the last record read. It
fails loudly rather than commit a range it could not read whole.

SDK testing tiers: both read paths are unit-tested hermetically against a
fake client (tests/test_kinesis_efo.py — the SDK-free moral equivalent of
the reference's FakeKinesis server tests) AND against the REAL SDK
(tests/test_kinesis_boto3_contract.py): real ``boto3.client("kinesis")``
construction through :func:`_default_client_factory` plus
``botocore.stub.Stubber``-backed request/response handling, where every
stubbed call still runs botocore's real request serialization against
the Kinesis service model — the engine analogue of the reference
exercising the real wire protocol via its FakeKinesis HTTP server
(test/support/fake_kinesis.ex:1-43). The contract file import-pins boto3
(importorskip) so an SDK-less deployment skips it cleanly, and the
factory keeps its clear import-gate error pointing at
``format('kinesis_replay')`` for hermetic runs.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from broadway_kinesis_spark.streaming.envelope import (
    ENVELOPE_SCHEMA,
    parse_starting_position,
)

#: AWS error codes worth retrying (transport-ish / throttling), vs fatal
#: config errors that must surface immediately — the engine's rendering of
#: the reference's per-error-class cases (`producer.ex:89-133`).
TRANSIENT_ERRORS = frozenset(
    {
        "ProvisionedThroughputExceededException",
        "InternalFailureException",
        "ServiceUnavailable",
        "RequestTimeout",
        "ResourceInUseException",  # consumer re-registering; reference retries this
        "LimitExceededException",
    }
)
FATAL_ERRORS = frozenset(
    {"ResourceNotFoundException", "AccessDeniedException", "InvalidArgumentException"}
)

DEFAULT_RECONNECT_DELAY_MS = 70_000  # producer.ex:37
DEFAULT_MAX_ATTEMPTS = 3
SUBSCRIBE_INTERVAL_S = 1.0  # AWS: one SubscribeToShard per second per consumer per shard


def _default_client_factory(options: dict):
    try:
        import boto3  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover - env has no boto3
        raise ImportError(
            "kinesis_efo requires boto3 (pip install boto3). For hermetic runs "
            "use format('kinesis_replay') — same envelope schema and semantics."
        ) from exc
    kwargs = {}
    if options.get("region"):
        kwargs["region_name"] = options["region"]
    if options.get("endpointurl"):
        kwargs["endpoint_url"] = options["endpointurl"]
    return boto3.client("kinesis", **kwargs)


def _error_code(exc: Exception) -> str | None:
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        code = (resp.get("Error") or {}).get("Code")
        if code:
            return code
    return getattr(exc, "error_code", None)


def _http_status(exc: Exception) -> int | None:
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        status = (resp.get("ResponseMetadata") or {}).get("HTTPStatusCode")
        if status is not None:
            return int(status)
    status = getattr(exc, "status", None)
    return int(status) if status is not None else None


def _is_transient(exc: Exception) -> bool:
    """A10 taxonomy, mirroring `subscribe_to_shard.ex:250-269`:

    - AWS-coded errors classify by code (the parsed ``__type`` of a 4xx);
    - un-coded 3xx (redirect) and 5xx (server) responses are
      transient-with-delay (the reference turns both into ``:http_error``
      and retries on pacing, `producer.ex:107-114`);
    - un-coded 4xx and anything unidentifiable is fatal — surface it.
    """
    code = _error_code(exc)
    if code in TRANSIENT_ERRORS:
        return True
    if code in FATAL_ERRORS:
        return False
    status = _http_status(exc)
    if status is not None and (300 <= status < 400 or status >= 500):
        return True
    return False


def _call_with_retry(fn, *, delay_ms: int, max_attempts: int, sleep=time.sleep):
    """A10/A13: retry transient faults with the reference's fixed delay;
    raise fatal ones immediately (Spark task retry is the outer loop)."""
    last: Exception | None = None
    for attempt in range(max_attempts):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - classified below
            if not _is_transient(exc):
                raise
            last = exc
            if attempt < max_attempts - 1:
                sleep(delay_ms / 1000.0)
    assert last is not None
    raise last


# -- offset entries --------------------------------------------------------
# Per-shard offset values are {"seq": last_sequence, "at": first_sequence}
# dicts; legacy plain-string entries (just the last sequence) and None
# (unresolved) are accepted on the start side for compatibility.


def _entry_seq(entry) -> str | None:
    if isinstance(entry, dict):
        return entry.get("seq")
    return entry


def _entry_at(entry) -> str | None:
    if isinstance(entry, dict):
        return entry.get("at")
    return None


def _seq_int(seq) -> int | None:
    """Kinesis sequence numbers are decimal strings of a 128-bit counter —
    numerically ordered. None for anything non-numeric (test fakes may use
    arbitrary tokens; ordering guards then downgrade to equality checks)."""
    try:
        return int(seq)
    except (TypeError, ValueError):
        return None


def _with_lag(records: list[dict], millis_behind) -> list[dict]:
    """Copies of one response's records, each carrying the response's
    ``MillisBehindLatest`` (lag is reported per GetRecords response and per
    SubscribeToShardEvent, not per record) for the envelope's
    ``millis_behind_latest`` column."""
    return [{**r, "MillisBehindLatest": millis_behind} for r in records]


def _row(rec: dict, shard_id: str, stream_name: str) -> tuple:
    """One SDK record as an envelope row (ENVELOPE_SCHEMA order)."""
    arrival = rec.get("ApproximateArrivalTimestamp")
    if arrival is not None and not isinstance(arrival, (int, float)):
        arrival = arrival.timestamp()
    return (
        rec["SequenceNumber"],
        rec.get("PartitionKey"),
        (
            datetime.fromtimestamp(arrival, tz=timezone.utc).replace(tzinfo=None)
            if arrival is not None
            else None
        ),
        rec.get("Data"),
        shard_id,
        stream_name,
        rec.get("MillisBehindLatest"),
    )


class KinesisEfoStreamReader(SimpleDataSourceStreamReader):
    # test hook: swap for a fake client factory (callable taking options)
    client_factory = staticmethod(_default_client_factory)

    def __init__(self, schema, options):
        # Spark's option pipeline is case-insensitive and hands the Python
        # DataSource lower-cased keys; unit tests pass plain camelCase
        # dicts. Normalize once so both read the same keys.
        self.options = {str(k).lower(): v for k, v in dict(options).items()}
        options = self.options
        self.stream_name = options.get("streamname")
        if not self.stream_name:
            raise ValueError("kinesis_efo requires .option('streamName', ...)")
        # 'module:callable' dotted path overriding the boto3 client factory.
        # Resolved by IMPORT (not object injection) so it works in every
        # Python process Spark builds the reader in (the driver's planner,
        # an executor replaying a batch). Used by hermetic end-to-end tests;
        # a production deployment could point it at a custom-configured
        # boto3 session factory the same way.
        factory_path = options.get("clientfactory")
        if factory_path:
            import importlib

            mod_name, fn_name = factory_path.split(":", 1)
            self.client_factory = getattr(importlib.import_module(mod_name), fn_name)
        self.consumer_arn = options.get("consumerarn")
        self.position = parse_starting_position(options.get("startingposition"))
        mrb = options.get("maxrecordsperbatch")
        self.max_per_batch = int(mrb) if mrb else 10_000
        self.delay_ms = int(options.get("reconnectdelayms", DEFAULT_RECONNECT_DELAY_MS))
        self.max_attempts = int(options.get("maxretries", DEFAULT_MAX_ATTEMPTS))
        self._client = None
        self._live_iters: dict[str, dict] = {}  # iterator chains of unpinned shards
        self._closed: set[str] = set()  # shards whose read reached their close
        self._subscribed_at: dict[str, float] = {}  # monotonic time of each shard's last subscribe

    # -- SDK plumbing -----------------------------------------------------

    def _cli(self):
        if self._client is None:
            self._client = self.client_factory(self.options)
        return self._client

    def _retry(self, fn):
        return _call_with_retry(fn, delay_ms=self.delay_ms, max_attempts=self.max_attempts)

    def _shard_ids(self) -> list[str]:
        """A11 generalized: ALL shards, not the reference's exactly-one."""
        cli = self._cli()
        shards: list[str] = []
        token = None
        while True:
            kw = {"NextToken": token} if token else {"StreamName": self.stream_name}
            resp = self._retry(lambda kw=kw: cli.list_shards(**kw))
            shards += [s["ShardId"] for s in resp.get("Shards", [])]
            token = resp.get("NextToken")
            if not token:
                return sorted(shards)

    def _position_kwargs(self) -> dict:
        """GetShardIterator kwargs for the configured starting position."""
        pos = self.position
        if pos.kind in ("latest", "trim_horizon"):
            return {"ShardIteratorType": pos.kind.upper()}
        if pos.kind == "at_timestamp":
            return {"ShardIteratorType": "AT_TIMESTAMP", "Timestamp": float(pos.value)}
        return {
            "ShardIteratorType": pos.kind.upper(),
            "StartingSequenceNumber": pos.value,
        }

    def _iterator(self, shard_id: str, *, after_seq: str | None, at_seq: str | None = None):
        cli = self._cli()
        if after_seq is not None:
            kw = {
                "ShardIteratorType": "AFTER_SEQUENCE_NUMBER",
                "StartingSequenceNumber": after_seq,
            }
        elif at_seq is not None:
            kw = {
                "ShardIteratorType": "AT_SEQUENCE_NUMBER",
                "StartingSequenceNumber": at_seq,
            }
        else:
            kw = self._position_kwargs()
        resp = self._retry(
            lambda: cli.get_shard_iterator(
                StreamName=self.stream_name, ShardId=shard_id, **kw
            )
        )
        return resp["ShardIterator"]

    def _poll(
        self,
        shard_id: str,
        after_seq: str | None,
        limit: int,
        at_seq: str | None = None,
        start_iter: str | None = None,
        refresh_at_ts: float | None = None,
    ):
        """Bounded get_records scan; returns (records, shard_closed, next_iter).

        ``start_iter`` continues an existing iterator chain (see
        :meth:`_fetch`'s floating-position handling); an expired iterator is
        re-resolved once — from the concrete cursor when one exists, else
        from ``refresh_at_ts`` (the chain's last poll time) so an expired
        idle chain on a floating position does NOT re-resolve LATEST and
        silently skip records that arrived during the gap.
        """
        cli = self._cli()
        it = start_iter or self._iterator(shard_id, after_seq=after_seq, at_seq=at_seq)
        records: list[dict] = []
        refreshed = False
        while it and len(records) < limit:
            try:
                resp = self._retry(
                    lambda it=it: cli.get_records(
                        ShardIterator=it, Limit=min(limit - len(records), 10_000)
                    )
                )
            except Exception as exc:
                if _error_code(exc) == "ExpiredIteratorException" and not refreshed:
                    refreshed = True
                    if after_seq is None and at_seq is None and refresh_at_ts is not None:
                        it = self._retry(
                            lambda: cli.get_shard_iterator(
                                StreamName=self.stream_name,
                                ShardId=shard_id,
                                ShardIteratorType="AT_TIMESTAMP",
                                Timestamp=refresh_at_ts,
                            )
                        )["ShardIterator"]
                    else:
                        it = self._iterator(shard_id, after_seq=after_seq, at_seq=at_seq)
                    continue
                raise
            records += _with_lag(resp.get("Records", []), resp.get("MillisBehindLatest"))
            it = resp.get("NextShardIterator")  # None => shard closed (A7)
            if resp.get("MillisBehindLatest") == 0 and not resp.get("Records"):
                break  # caught up
        return records[:limit], it is None, it

    def _subscription_events(self, shard_id: str, position: dict):
        """A1: the SubscribeToShardEvents of one subscription from
        ``position``, in order.

        Mirrors the reference's streaming loop (`subscribe_to_shard.ex`):
        each event advances the resume position to AFTER its
        ContinuationSequenceNumber. Exception events classify through the
        A10 taxonomy: transient → paced re-subscribe from the last
        continuation, fatal → raise. Ends when the server ends the stream;
        closing the generator closes the stream, so a caller that stops
        early leaves no subscription open.
        """
        cli = self._cli()
        errors = 0
        while True:
            # AWS allows one SubscribeToShard per second per consumer per
            # shard: a call within that second of the shard's last one
            # waits out the rest of it rather than trip LimitExceeded (a
            # transient error, whose retry would stall for reconnectDelayMs).
            wait = self._subscribed_at.get(shard_id, -SUBSCRIBE_INTERVAL_S) + (
                SUBSCRIBE_INTERVAL_S - time.monotonic()
            )
            if wait > 0:
                time.sleep(wait)
            self._subscribed_at[shard_id] = time.monotonic()
            resp = self._retry(
                lambda pos=position: cli.subscribe_to_shard(
                    ConsumerARN=self.consumer_arn,
                    ShardId=shard_id,
                    StartingPosition=pos,
                )
            )
            stream = resp["EventStream"]
            try:
                for event in stream:
                    ev = event.get("SubscribeToShardEvent")
                    if ev is None:
                        continue  # initial-response etc. (subscribe_to_shard.ex:341)
                    yield ev
                    cont = ev.get("ContinuationSequenceNumber")
                    if cont is not None:
                        position = {"Type": "AFTER_SEQUENCE_NUMBER", "SequenceNumber": cont}
                return
            except Exception as exc:  # exception event mid-stream (A5/A10)
                if not _is_transient(exc):
                    raise
                errors += 1
                if errors >= self.max_attempts:
                    raise
                time.sleep(self.delay_ms / 1000.0)
            finally:
                close = getattr(stream, "close", None)
                if close is not None:
                    close()

    def _subscribe_batch(
        self, shard_id: str, position: dict, end_seq: str | None
    ) -> tuple[list[dict], bool]:
        """The EFO fetch from ``position``; returns (records, shard_closed).
        Stops at a null continuation (the shard closed, A7), when the stream
        ends, and where the wanted data ends: the driver's read (``end_seq``
        None) at ``maxRecordsPerBatch`` records (the last event is cut there)
        or at a caught-up event (``MillisBehindLatest`` 0); a range re-read
        once ``end_seq`` arrives, or at a caught-up event with no records (the
        tip, as for ``get_records``). A range re-read is not capped: its end
        was fixed when the batch was planned, so one subscription reads it."""
        out: list[dict] = []
        events = self._subscription_events(shard_id, position)
        try:
            for ev in events:
                recs = _with_lag(ev.get("Records", []), ev.get("MillisBehindLatest"))
                room = self.max_per_batch - len(out) if end_seq is None else len(recs)
                out += recs[:room]
                if len(recs) > room:
                    return out, False
                if ev.get("ContinuationSequenceNumber") is None:
                    return out, True
                caught_up = ev.get("MillisBehindLatest") == 0
                if end_seq is not None:
                    done = any(r["SequenceNumber"] == end_seq for r in recs) or (
                        caught_up and not recs
                    )
                else:
                    done = caught_up or len(out) >= self.max_per_batch
                if done:
                    return out, False
        finally:
            events.close()
        return out, False

    def _fetch(
        self,
        shard_id: str,
        cursor: str | None,
        at_seq: str | None = None,
        end_seq: str | None = None,
    ) -> tuple[list[dict], bool]:
        """One bounded fetch of up to ``maxRecordsPerBatch`` records AFTER
        ``cursor``, else AT ``at_seq``, else at the configured position;
        returns (records, shard_closed). ``end_seq`` marks a range re-read,
        which an EFO subscription reads past the cap (see
        :meth:`_subscribe_batch`)."""
        floating = cursor is None and at_seq is None
        if self.consumer_arn and not (floating and self.position.kind == "latest"):
            if cursor is not None:
                pos = {"Type": "AFTER_SEQUENCE_NUMBER", "SequenceNumber": cursor}
            elif at_seq is not None:
                pos = {"Type": "AT_SEQUENCE_NUMBER", "SequenceNumber": at_seq}
            else:
                pos = self.position.wire_format()
            return self._subscribe_batch(shard_id, pos, end_seq)
        # For a shard with no concrete cursor yet, continue the SAME iterator
        # chain across triggers: re-resolving a floating LATEST each trigger
        # would skip every record that arrived in between.
        chain = self._live_iters.get(shard_id) if floating else None
        # Timestamp BEFORE the poll: if the idle chain later expires and is
        # re-resolved via AT_TIMESTAMP(ts), a pre-poll ts can only DUPLICATE
        # records that arrived during the poll (fine under at-least-once); a
        # post-poll ts would permanently skip a record that landed between
        # the server-side read point and time.time().
        poll_ts = time.time()
        records, closed, nxt = self._poll(
            shard_id,
            cursor,
            self.max_per_batch,
            at_seq=at_seq,
            start_iter=chain["it"] if chain else None,
            refresh_at_ts=chain["ts"] if chain else None,
        )
        if records:
            self._live_iters.pop(shard_id, None)  # concrete cursor takes over
        elif floating and nxt is not None:
            self._live_iters[shard_id] = {"it": nxt, "ts": poll_ts}
        return records, closed

    # -- SimpleDataSourceStreamReader contract ----------------------------

    def initialOffset(self) -> dict:
        # Sequence cursors are opaque: the initial offset marks "unresolved";
        # the first batch pins each shard to the concrete sequence number of
        # the first record the driver reads (the "at" entry), so even a
        # 'latest' start replays deterministically.
        return {shard: None for shard in self._shard_ids()}

    def read(self, start: dict):
        """The next batch: every shard's rows after ``start``'s cursor, and
        the offset they end at. A shard without new records keeps its
        ``start`` entry, so a read that finds nothing returns ``start``."""
        rows: list[tuple] = []
        end: dict[str, dict | str | None] = {}
        for shard in self._shard_ids():
            entry = start.get(shard)
            end[shard] = entry
            if shard in self._closed:
                continue
            records, closed = self._fetch(shard, _entry_seq(entry))
            if closed:
                self._closed.add(shard)
            if records:
                end[shard] = {
                    "seq": records[-1]["SequenceNumber"],
                    "at": records[0]["SequenceNumber"],
                }
                rows += [_row(r, shard, self.stream_name) for r in records]
        # A list iterator, not a generator: Spark copies the cached iterator
        # each time it serves the batch.
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """Re-read a batch of the offset log that this reader did not fetch,
        shard by shard in sorted order, with this reader's one SDK client."""
        for shard, e in sorted(end.items()):
            s_entry = start.get(shard)
            s_seq, e_seq = _entry_seq(s_entry), _entry_seq(e)
            # Restart guard: an end at or behind the start (Spark plans on
            # offset INEQUALITY, not ordering) reads nothing — no backwards
            # batch, no re-delivery.
            si, ei = _seq_int(s_seq), _seq_int(e_seq)
            if si is not None and ei is not None and ei <= si:
                continue
            if e is None or e_seq == s_seq:
                continue
            for rec in self._read_range(shard, s_seq, _entry_at(e), e_seq):
                yield _row(rec, shard, self.stream_name)

    def _read_range(
        self, shard_id: str, start_seq: str | None, at_seq: str | None, end_seq: str
    ) -> list[dict]:
        """Deterministic re-read of (start_seq, end_seq] — AFTER start_seq
        when a prior cursor exists, else AT the pinned first sequence
        ``at_seq``, never a floating LATEST resolution at replay time —
        whole, whatever ``maxRecordsPerBatch`` is now: the batch may have
        been planned under a larger cap. Repeats the fetch from the last
        record read until ``end_seq`` arrives or the shard closes (A7): over
        ``get_records`` once per cap, over EFO only when the server ends a
        subscription early, which is thereby re-requested AFTER
        the last record read, or at the original position when none arrived
        (`subscribe_to_shard_test.exs:145-189`). Fails loudly rather than
        commit a range it cannot read whole: on a sequence numerically past
        ``end_seq`` (the record expired since the batch was planned), and
        after ``maxRetries`` consecutive empty fetches."""
        end_i = _seq_int(end_seq)
        out: list[dict] = []
        cursor, empty = start_seq, 0
        while True:
            records, closed = self._fetch(shard_id, cursor, at_seq, end_seq)
            for rec in records:
                if end_i is not None and (_seq_int(rec["SequenceNumber"]) or -1) > end_i:
                    raise RuntimeError(
                        f"kinesis_efo: stream passed planned end {end_seq!r} "
                        f"on {shard_id} without delivering it"
                    )
                out.append(rec)
                if rec["SequenceNumber"] == end_seq:
                    return out
            if closed:
                return out
            empty = 0 if records else empty + 1
            if empty >= self.max_attempts:
                raise RuntimeError(
                    f"kinesis_efo: planned end {end_seq!r} not reached on "
                    f"{shard_id} ({len(out)} records read, then {empty} empty reads)"
                )
            if records:
                cursor = records[-1]["SequenceNumber"]


class KinesisEfoDataSource(DataSource):
    """``spark.readStream.format("kinesis_efo").option("streamName", ...)``.

    Register with ``spark.dataSource.register(KinesisEfoDataSource)``.
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_efo"

    def schema(self):
        return ENVELOPE_SCHEMA

    def simpleStreamReader(self, schema):
        return KinesisEfoStreamReader(schema, self.options)
