"""Streaming envelope schema + starting-position semantics.

Re-expresses the reference's source data model (FIXTURES.md §A):

- the fixed **envelope schema** every engine streaming source emits — the
  Spark analogue of the reference's `SubscribeToShardEvent` pattern-match
  (`subscribe_to_shard.ex:343-366`): one row per Kinesis *record*, payload
  kept as opaque BINARY for schema-on-read via ``from_json(cast(data as
  string), user_schema)``;
- the **five starting positions** and their wire encodings
  (`subscribe_to_shard.ex:60-65, 423-435`; test matrix
  `subscribe_to_shard_test.exs:91-116`): LATEST, TRIM_HORIZON,
  AT_SEQUENCE_NUMBER, AFTER_SEQUENCE_NUMBER, AT_TIMESTAMP.

Sources accept the position as a single string option
(``startingPosition``): ``latest``, ``trim_horizon``,
``at_sequence_number:<seq>``, ``after_sequence_number:<seq>``,
``at_timestamp:<unix-seconds>`` — mirroring the reference's atom/tuple
variants as declarative options (SURVEY.md §7 hard part (d): options, not
actors).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: One row per Kinesis record (FIXTURES.md §A envelope table).
ENVELOPE_SCHEMA = StructType(
    [
        StructField("sequence_number", StringType()),
        StructField("partition_key", StringType()),
        StructField("arrival_ts", TimestampType()),
        StructField("data", BinaryType()),
        StructField("shard_id", StringType()),
        StructField("stream_name", StringType()),
        StructField("millis_behind_latest", LongType()),
    ]
)

ENVELOPE_DDL = (
    "sequence_number string, partition_key string, arrival_ts timestamp, "
    "data binary, shard_id string, stream_name string, millis_behind_latest long"
)

_SIMPLE = {"latest", "trim_horizon"}
_PARAM = {"at_sequence_number", "after_sequence_number", "at_timestamp"}


@dataclass(frozen=True)
class StartingPosition:
    """Parsed starting position; `value` is the seq string or unix seconds."""

    kind: str
    value: str | None = None

    def wire_format(self) -> dict:
        """AWS `StartingPosition` JSON — parity with the reference encoder
        (`subscribe_to_shard.ex:423-435`)."""
        if self.kind in _SIMPLE:
            return {"Type": self.kind.upper()}
        if self.kind == "at_timestamp":
            return {"Type": "AT_TIMESTAMP", "Timestamp": float(self.value)}
        return {
            "Type": self.kind.upper(),
            "SequenceNumber": self.value,
        }


def _is_unix_seconds(s: str) -> bool:
    try:
        return math.isfinite(float(s))
    except ValueError:
        return False


def parse_starting_position(raw: str | None) -> StartingPosition:
    """Parse the ``startingPosition`` option (default: latest, matching the
    reference's default resume position, `producer.ex:209-210`)."""
    if raw is None or raw == "":
        return StartingPosition("latest")
    s = raw.strip().lower()
    if s in _SIMPLE:
        return StartingPosition(s)
    head, sep, tail = raw.strip().partition(":")
    kind = head.lower()
    if sep and kind in _PARAM and tail != "":
        if kind != "at_timestamp" or _is_unix_seconds(tail):
            return StartingPosition(kind, tail)
    raise ValueError(
        f"invalid startingPosition {raw!r}: expected latest | trim_horizon | "
        "at_sequence_number:<seq> | after_sequence_number:<seq> | at_timestamp:<unix-seconds>"
    )
