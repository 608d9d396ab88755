"""Property-based tests (hypothesis) for the engine's pure logic: the replay
client's position resolution, starting-position parsing, registry invariants, and
the round-4 image decoders — the reference's behavior matrix generalized
from examples to properties."""

from __future__ import annotations

import json

import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from broadway_kinesis_spark.sources.replay import _parse, _start
from broadway_kinesis_spark.streaming.envelope import parse_starting_position
from broadway_kinesis_spark.streaming.health import HealthRegistry

# -- event-stream generators ------------------------------------------------


def _event(seq: int, arrival: float | None):
    recs = []
    if arrival is not None:
        recs = [
            {
                "SequenceNumber": str(seq),
                "PartitionKey": "pk",
                "ApproximateArrivalTimestamp": arrival,
                "Data": "aGk=",
            }
        ]
    return {"ContinuationSequenceNumber": str(seq), "MillisBehindLatest": 0, "Records": recs}


events_strategy = st.lists(
    st.tuples(st.booleans(), st.floats(min_value=0, max_value=1e6, allow_nan=False)),
    min_size=0,
    max_size=20,
).map(
    lambda pairs: [
        _event(i + 1, arrival if has_rec else None)
        for i, (has_rec, arrival) in enumerate(pairs)
    ]
)


def parse(events: list[dict]):
    """The replay client's parsed view of a shard file holding ``events``."""
    return _parse([json.dumps(ev) for ev in events])


def start_event(events: list[dict], starting_position: str) -> int:
    """Event index where the replay client starts an iterator for a
    ``startingPosition`` (always at that event's first record)."""
    pos = parse_starting_position(starting_position).wire_format()
    i, j = _start(parse(events).events, pos["Type"], pos.get("SequenceNumber"), pos.get("Timestamp"))
    assert j == 0
    return i


@given(events=events_strategy)
@settings(max_examples=200, deadline=None)
def test_trim_horizon_and_latest_bracket_every_position(events):
    lo = start_event(events, "trim_horizon")
    hi = start_event(events, "latest")
    assert lo == 0
    assert hi == len(events)


@given(events=events_strategy, data=st.data())
@settings(max_examples=200, deadline=None)
def test_at_and_after_sequence_number_are_adjacent(events, data):
    assume(events)
    idx = data.draw(st.integers(min_value=0, max_value=len(events) - 1))
    seq = events[idx]["ContinuationSequenceNumber"]
    at = start_event(events, f"at_sequence_number:{seq}")
    after = start_event(events, f"after_sequence_number:{seq}")
    assert at == idx
    assert after == idx + 1


@given(events=events_strategy, t=st.floats(min_value=-1, max_value=1e6 + 1, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_at_timestamp_is_earliest_event_at_or_after(events, t):
    start = start_event(events, f"at_timestamp:{t}")
    assert 0 <= start <= len(events)
    # every event before `start` has all records strictly before t
    for ev in events[:start]:
        for rec in ev["Records"]:
            assert rec["ApproximateArrivalTimestamp"] < t
    # the chosen event (if any) has a record at/after t
    if start < len(events):
        arrivals = [r["ApproximateArrivalTimestamp"] for r in events[start]["Records"]]
        assert arrivals and max(arrivals) >= t


@given(
    events=events_strategy,
    close_at=st.integers(min_value=0, max_value=25),
)
@settings(max_examples=200, deadline=None)
def test_close_sentinel_truncates_exactly(events, close_at):
    closed = events[:close_at] + [{"ContinuationSequenceNumber": None}] + events[close_at:]
    shard = parse(closed)
    assert shard.closed
    assert shard.events == parse(events[: min(close_at, len(events))]).events


@given(st.text(min_size=1).filter(lambda s: ":" not in s and s.strip() != ""))
@settings(max_examples=100, deadline=None)
def test_unknown_position_words_rejected(word):
    if word.strip().lower() in ("latest", "trim_horizon"):
        return
    with pytest.raises(ValueError):
        parse_starting_position(word)


@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["register", "unregister", "ready", "not_ready"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_registry_all_ready_matches_model(ops):
    reg = HealthRegistry()
    model: dict[str, bool] = {}
    for op, stream in ops:
        if op == "register":
            reg.register(stream)
            model.setdefault(stream, False)
        elif op == "unregister":
            reg.unregister(stream)
            model.pop(stream, None)
        elif op == "ready":
            reg.update_value(stream, True)
            if stream in model:
                model[stream] = True
        else:
            reg.update_value(stream, False)
            if stream in model:
                model[stream] = False
    assert reg.snapshot() == model
    assert reg.producers_ready() == all(model.values())


def test_roundtrip_event_lines_parse():
    # JSONL encoding used by the replay fixtures is loss-free for the shapes
    ev = _event(7, 123.5)
    assert json.loads(json.dumps(ev)) == ev


# -- scaled-long money-sum toolkit (functions/numeric.py) -------------------


@given(
    st.lists(
        st.decimals(
            min_value="0", max_value="999999.999999", places=6, allow_nan=False
        ),
        min_size=1,
        max_size=200,
    )
)
def test_lscale_recovers_exact_scaled_integer(values):
    """floor(float(v)*1e6 + 0.5) must recover the TRUE 1e-6-unit integer of
    any non-negative <=6-decimal value despite double representation error —
    the invariant every lsum-based aggregate rests on."""
    import math

    for v in values:
        assert math.floor(float(v) * 1e6 + 0.5) == int(v.scaleb(6))


@given(
    st.lists(
        st.decimals(min_value="0", max_value="99999.99", places=2, allow_nan=False),
        min_size=1,
        max_size=200,
    ),
    st.sampled_from([2, 4]),
)
def test_lsum_round_matches_decimal_half_up(values, scale):
    """Integer-space rounding of the scaled-long sum == Decimal HALF_UP of
    the exact sum (the dsum semantics lsum replaces)."""
    import decimal
    import math

    s = sum(math.floor(float(v) * 1e6 + 0.5) for v in values)  # scaled-long sum
    q = 10 ** (6 - scale)
    got = float((s + q // 2) // q) / float(10**scale)
    want = float(
        sum(values).quantize(
            decimal.Decimal(1).scaleb(-scale), rounding=decimal.ROUND_HALF_UP
        )
    )
    assert got == want, (s, got, want)


# -- round-4 image decoders -------------------------------------------------


@given(
    st.integers(min_value=1, max_value=9),   # height
    st.integers(min_value=1, max_value=9),   # width (odd widths exercise BMP padding)
    st.integers(min_value=0, max_value=2**32 - 1),  # pixel seed
)
@settings(max_examples=60, deadline=None)
def test_ppm_roundtrip_any_shape(h, w, seed):
    import numpy as np

    from broadway_kinesis_spark.operators.multimodal import decode_image, encode_ppm

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(img)), img)


@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),  # bottom-up vs top-down row order
)
@settings(max_examples=60, deadline=None)
def test_bmp_decode_any_shape(h, w, seed, bottom_up):
    """Every (h, w) shape — including widths whose 3-byte rows need 4-byte
    padding — must decode to exactly the source pixels in both row orders."""
    import numpy as np

    from broadway_kinesis_spark.operators.multimodal import decode_image

    from tests.test_multimodal import _bmp_bytes

    rng = np.random.RandomState(seed % (2**31))
    img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(_bmp_bytes(img, bottom_up=bottom_up)), img)


@given(
    st.integers(min_value=0, max_value=64),          # sample count (0 = empty clip)
    st.sampled_from([8000, 16000, 22050, 44100]),    # sample rate
    st.integers(min_value=0, max_value=2**32 - 1),   # sample seed
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_any_length_and_rate(n, rate, seed):
    """Every sample count (including zero) and common rate must survive the
    encode->decode round trip bit-exactly, int16 range edges included."""
    import numpy as np

    from broadway_kinesis_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(seed % (2**31))
    src = rng.randint(-32768, 32768, size=n, dtype=np.int16)
    smp, got_rate = decode_wav(encode_wav(src, rate=rate))
    assert got_rate == rate
    assert np.array_equal(smp, src)
