"""Batch incremental corpus-version dedup — MULTIMODAL FINGERPRINT channel
(round 11).

Completes the daily-production incremental loop across the near-dup
channel families: text exact/ngram (``incremental_batch``), embeddings
(``embedding_incremental``), and here the perceptual-fingerprint channel
(``imagehash`` — the decoded-pixel dHash the image/audio/video operators
share; fingerprints come from the inline channel's own builder
:func:`imagehash.image_fingerprints`). A delta of media arrives; it is
near-dup-checked against version N's PERSISTED band index — version N's
media are never re-DECODED, which at 100 TB is the dominant cost of this
channel (the fingerprint is 4 words = 32 bytes per media; the decode
reads the payload).

Persisted artifact (:func:`ensure_phash_bands`): the BAND table
``(media_id, bkeyc, w0..w3)`` — one row per (media, band) with the band
id and band value packed into one join key ``bkeyc = bid * 2^16 + bkey``
(band widths are <= 16 bits, so the packing is injective and a single
equi-key replaces the (bid, bkey) composite), bucketed+sorted by
``bkeyc`` so delta probes sort-merge against the stored side without
shuffling it — the ngram-index layout story
(incremental_batch.ensure_ngram_index) applied to the banded-Hamming
family. The fingerprint words ride in the band rows, so verification
(summed ``bit_count(xor)`` <= {HAM_T}) runs off the join output without
ever touching version-N payloads. Band rows and the probe are
:func:`imagehash.packed_band_rows` and :func:`imagehash.probe_banded_pairs`,
shared with the audio channel.

Pairs the delta introduces are exactly ``m2 >= boundary`` (version-N ids
all sit below every delta id and pairs are (m1 < m2)), so the registered
oracle is the INLINE channel's oracle (read from the registry at module
load — the dedup_persist pattern) wrapped in that one restriction.
Pigeonhole recall is inherited unchanged: the probe join sees every band
of every delta fingerprint against every band of version N + the delta
itself, the same candidate space the inline self-join scans restricted
to delta-touching pairs.

Roll-forward (VERDICT r10 #3 applied to this channel):
:func:`roll_forward_phash_bands` folds the accepted delta's band rows
into version N's table to produce version N+1's — only the delta is
decoded; fold(N, delta) == build(N+1) and probe-on-rolled ==
probe-on-scratch are pinned by tests/test_incremental_channels.py.

Measured delta-cost rows: BASELINE.md §round-11 "embedding/fingerprint
incremental" (fresh x10/x100, 90/10 boundary).

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
from broadway_kinesis_spark.operators.imagehash import (
    BANDS_PER_WORD,
    HAM_T,
    image_fingerprints,
    packed_band_rows,
    probe_banded_pairs,
)
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: bucket count for the persisted band table — the protocol knob, sized
#: like any bucketed table at deployment scale (incremental_batch.IDX_BUCKETS).
BAND_BUCKETS = 8

#: band ids ride above the 16-bit band values (the widest image band)
_PACK_SHIFT = 16

#: the inline channel's oracle OBJECT — importing operators.imagehash above
#: ran its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_image_phash"].oracle


def _bands(docs: DataFrame) -> DataFrame:
    """(media_id, bkeyc, w0..w3): the docs' packed band rows."""
    return packed_band_rows(image_fingerprints(docs), 1, BANDS_PER_WORD, _PACK_SHIFT)


#: decode + fingerprint + band explosion, bucketed by the packed band key
#: so delta probes never shuffle the stored side
PHASH_BANDS = VersionedArtifact(
    name="phash_bands",
    prefix="_bks_phbands_",
    policy=f"r11:phash185:h{HAM_T}:b{BAND_BUCKETS}",
    rows=_bands,
    bucket_by=(BAND_BUCKETS, "bkeyc"),
)
ensure_phash_bands = PHASH_BANDS.ensure
roll_forward_phash_bands = PHASH_BANDS.roll_forward


@query(
    "dedup_incremental_imagehash",
    oracle=f"""
    SELECT m1, m2, hamming FROM ({_INLINE_ORACLE}) WHERE m2 >= {BOUNDARY}
    """,
)
def dedup_incremental_imagehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs the DELTA introduces — banded-Hamming
    pairs with total distance <= {HAM_T} and at least one delta side —
    computed by probing version N's persisted band index with the delta's
    fingerprints instead of re-decoding the corpus. The oracle is the
    inline channel's oracle restricted to ``m2 >= {BOUNDARY}``, so the
    driver row proves the persisted index + probe serve exactly the
    from-scratch answer."""
    return incremental_phash_pairs(spark, sf_dir)


def incremental_phash_pairs(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    bands_tbl: str | None = None,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_imagehash`` — scale runs
    place ``boundary`` per corpus; ``bands_tbl`` overrides the version-N
    artifact with a :func:`roll_forward_phash_bands` fold so day D+1's
    delta probes day D's fold.

    Shape: only the delta decodes (Arrow-batched); its band rows are the
    probe side ``b`` and ALSO union into the stored side ``a`` so
    delta-delta (new-new) pairs surface, exactly the ngram probe's union
    (incremental_batch.incremental_ngram_pairs). The stored side is
    bucketed on the packed band key, so the equi-join sort-merges without
    shuffling it; candidates carry both fingerprints, so the exact
    Hamming verify never touches payloads."""
    stored = spark.table(
        bands_tbl
        if bands_tbl is not None
        else ensure_phash_bands(spark, sf_dir, boundary)
    )
    d = load(spark, sf_dir, "documents")
    # One decode pass for the delta, shared by the probe side and the
    # new-new self-join (two consumers — the inline twin's cache pattern;
    # the cached set is delta-bounded by construction).
    delta_bands = _bands(spread_delta(d.filter(F.col("doc_id") >= boundary))).cache()
    return probe_banded_pairs(stored, delta_bands, 1, HAM_T)
