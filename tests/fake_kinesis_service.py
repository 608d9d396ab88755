"""File-backed fake Kinesis client, importable by NAME from both the driver
and Spark's executor-side Python runner (namespace package `tests` on
PYTHONPATH, set pre-JVM in conftest).

This is what makes hermetic END-TO-END streaming tests of the `kinesis_efo`
source possible: the source's `clientFactory` option carries the dotted path
`tests.fake_kinesis_service:factory`, and each process rebuilds the stream
from the replay-format shard files (``<shard_id>.jsonl``) under
``options["fakeDataDir"]`` through the package's
:class:`~broadway_kinesis_spark.sources.replay.ReplayKinesisClient`. This
subclass adds only the test hooks:

- every SDK call is appended to ``options["callLogDir"]/calls.log`` (one
  line per call, prefixed by pid) so tests can assert WHICH API served the
  data and from which side of the driver/executor boundary;
- ``subscribe_to_shard`` serves the EFO push path as one event holding the
  rest of the shard;
- a ``consumer.expired`` marker file makes that subscribe call fail.
"""

from __future__ import annotations

import os

from broadway_kinesis_spark.sources.replay import ReplayClientError, ReplayKinesisClient, _start


class FileBackedKinesisClient(ReplayKinesisClient):
    def __init__(self, data_dir: str, call_log_dir: str | None = None):
        super().__init__(data_dir)
        self.call_log = os.path.join(call_log_dir, "calls.log") if call_log_dir else None

    def _log(self, method: str) -> None:
        if self.call_log:
            with open(self.call_log, "a", encoding="utf-8") as f:
                f.write(f"{os.getpid()} {method}\n")

    def list_shards(self, **kw):
        self._log("list_shards")
        return super().list_shards(**kw)

    def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType, **kw):
        self._log(f"get_shard_iterator:{ShardIteratorType}")
        return super().get_shard_iterator(StreamName, ShardId, ShardIteratorType, **kw)

    def get_records(self, ShardIterator, Limit=10_000):
        self._log("get_records")
        return super().get_records(ShardIterator, Limit)

    def subscribe_to_shard(self, ConsumerARN, ShardId, StartingPosition):
        self._log(f"subscribe_to_shard:{ShardId}")
        # A `consumer.expired` marker = the EFO consumer was deregistered /
        # its ARN expired: AWS answers the subscribe call with a 4xx
        # ResourceNotFoundException (the reference surfaces these as fatal
        # AWS-typed errors, subscribe_to_shard.ex:250-269 / test :249-281).
        if os.path.exists(os.path.join(self.data_dir, "consumer.expired")):
            raise ReplayClientError(
                "ResourceNotFoundException", f"Consumer {ConsumerARN} not found."
            )
        shard = self.shard(ShardId)
        i, j = _start(
            shard.events,
            StartingPosition["Type"],
            StartingPosition.get("SequenceNumber"),
            StartingPosition.get("Timestamp"),
        )
        out = [r for ev in shard.events[i:] for r in ev.get("Records", [])][j:]
        # A closed (split/merged-away) shard ends its subscription with a
        # null continuation after the remaining records (A7 on the push path).
        ev = {
            "Records": out,
            "ContinuationSequenceNumber": (
                None if shard.closed else (out[-1]["SequenceNumber"] if out else "tip")
            ),
            "MillisBehindLatest": 0,
        }
        return {"EventStream": iter([{"SubscribeToShardEvent": ev}])}


def factory(options: dict):
    """`clientFactory` entry point: options -> SDK-shaped client.

    Keys arrive lower-cased (the source normalizes Spark's case-insensitive
    option map before handing options to the factory)."""
    return FileBackedKinesisClient(
        options["fakedatadir"], options.get("calllogdir")
    )
