"""Batch incremental corpus-version dedup — AUDIO FINGERPRINT channel
(round 11, session 3).

Session 2 gave the image branch of the perceptual family its delta form
(``fingerprint_incremental``); this module does the same for the ACOUSTIC
branch, whose fingerprint is wider (12 words / 555 bits — the
three-envelope magnitude/energy/first-difference construction of
``operators/audiohash.py``) and whose bands are therefore fewer and wider
(24 bands of 22–24 bits, ``imagehash.make_bands(3, 2)``). A delta of
clips arrives; only the delta DECODES (the RIFF walk + int16 sample read
is the channel's dominant cost — a fingerprint is 96 bytes, the payload
is the clip, through the inline channel's own builder
:func:`audiohash.audio_fingerprints`); version N serves from a persisted
band table.

Persisted artifact (:func:`ensure_audio_bands`): ``(media_id, bkeyc,
w0..w11)`` — one row per (clip, band), with (band id, band value) packed
into the single injective join key ``bkeyc = bid * 2^25 + bkey`` (audio
band widths are <= 24 bits, so 2^25 clears every band value; the image
channel's 2^16 packing would alias here). Bucketed+sorted by ``bkeyc``
so delta probes sort-merge against the stored side without shuffling it
— the shared incremental layout protocol (ngram index → image bands →
these). Fingerprint words ride in the band rows, so the exact
total-Hamming verify (<= {AUDIO_HAM_T}) runs off the join output without
re-reading version-N payloads. Band rows and the probe are the image
channel's :func:`imagehash.packed_band_rows` and
:func:`imagehash.probe_banded_pairs` at this packing, band layout and
Hamming budget.

Pairs the delta introduces are exactly ``m2 >= boundary`` (version-N ids
all sit below every delta id and pairs are (m1 < m2)), so the registered
oracle is the INLINE channel's oracle — read from the registry at module
load, the dedup_persist pattern — wrapped in that one restriction.
Pigeonhole recall is inherited unchanged: with 24 bands and a Hamming
budget of {AUDIO_HAM_T}, every qualifying pair still shares a clean
band, and the probe join sees every band of every delta fingerprint
against every band of version N plus the delta itself.

Roll-forward: :func:`roll_forward_audio_bands` folds the accepted
delta's band rows into version N's table → N+1 (only the delta decodes;
fold == scratch and probe-on-rolled == probe-on-scratch pinned by
tests/test_round11_s3_channels.py).

Reference parity: [TGT] — engine extension (SURVEY §2.B multimodal
family; the reference has no media surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.functions.versioned_fold import (
    BOUNDARY,
    VersionedArtifact,
    spread_delta,
)
from broadway_kinesis_spark.operators.audiohash import (
    AUDIO_BANDS_PER_WORD,
    AUDIO_HAM_T,
    N_MEASURES,
    audio_fingerprints,
)
from broadway_kinesis_spark.operators.imagehash import (
    packed_band_rows,
    probe_banded_pairs,
)
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: bucket count for the persisted band table — the protocol knob, sized
#: like any bucketed table at deployment scale.
BAND_BUCKETS = 8

#: audio band widths reach 24 bits (48-bit words / 2 bands), so the
#: injective (bid, bkey) packing shifts by 25 (``packed_band_rows``
#: asserts every width fits).
_PACK_SHIFT = 25

#: the inline channel's oracle OBJECT — importing operators.audiohash above
#: ran its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_audio_fingerprint"].oracle


def _bands(docs: DataFrame) -> DataFrame:
    """(media_id, bkeyc, w0..w11): the docs' packed band rows."""
    return packed_band_rows(
        audio_fingerprints(docs), N_MEASURES, AUDIO_BANDS_PER_WORD, _PACK_SHIFT
    )


#: decode + acoustic fingerprint + band explosion, bucketed by the packed
#: band key so delta probes never shuffle the stored side
AUDIO_BANDS = VersionedArtifact(
    name="audio_bands",
    prefix="_bks_aubands_",
    policy=f"r11s3:aufp555:h{AUDIO_HAM_T}:b{BAND_BUCKETS}",
    rows=_bands,
    bucket_by=(BAND_BUCKETS, "bkeyc"),
)
ensure_audio_bands = AUDIO_BANDS.ensure
roll_forward_audio_bands = AUDIO_BANDS.roll_forward


@query(
    "dedup_incremental_audiohash",
    oracle=f"""
    SELECT m1, m2, hamming FROM ({_INLINE_ORACLE}) WHERE m2 >= {BOUNDARY}
    """,
)
def dedup_incremental_audiohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-dup pairs the DELTA introduces — banded-Hamming pairs
    with total distance <= {AUDIO_HAM_T} and at least one delta side —
    computed by probing version N's persisted band index with the delta's
    fingerprints instead of re-decoding the corpus. The oracle is the
    inline channel's oracle restricted to ``m2 >= {BOUNDARY}``, so the
    driver row proves the persisted index + probe serve exactly the
    from-scratch answer."""
    return incremental_audio_pairs(spark, sf_dir)


def incremental_audio_pairs(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    bands_tbl: str | None = None,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_audiohash`` — scale runs
    place ``boundary`` per corpus; ``bands_tbl`` overrides the version-N
    artifact with a :func:`roll_forward_audio_bands` fold so day D+1's
    delta probes day D's fold.

    Shape: only the delta decodes (Arrow-batched); its band rows are the
    probe side ``b`` and ALSO self-join so delta-delta (new-new) pairs
    surface. The stored side joins FIRST, before any union: its bucketed
    HashPartitioning(bkeyc) satisfies the join distribution, so only the
    delta side exchanges — the image-channel probe plan at 12 words."""
    stored = spark.table(
        bands_tbl
        if bands_tbl is not None
        else ensure_audio_bands(spark, sf_dir, boundary)
    )
    d = load(spark, sf_dir, "documents")
    # One decode pass for the delta, shared by the probe side and the
    # new-new self-join (two consumers; delta-bounded by construction).
    delta_bands = _bands(spread_delta(d.filter(F.col("doc_id") >= boundary))).cache()
    return probe_banded_pairs(stored, delta_bands, N_MEASURES, AUDIO_HAM_T)
