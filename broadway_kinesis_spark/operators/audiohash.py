"""Audio fingerprint near-duplicate detection — the acoustic phash.

Completes the multimodal dedup pair started by ``dedup_image_phash``
(operators/imagehash.py): decoded WAV clips fingerprint by THREE
envelope signals of the int16 sample stream — magnitude |x| (amplitude
structure), energy x² (loudness structure, which orders blocks
differently whenever variance profiles differ), and first-difference
|Δx| (roughness/zero-crossing structure) — each pooled into the same 49
index-blocks and compared block-to-block at strides (1, 2, 3, 5) with
exact integer cross-multiplication. That yields a 12-word, 555-bit
fingerprint; the shared banded Hamming self-join (2 wide 22–24-bit
bands per word = 24 bands) surfaces near-identical clips with no
all-pairs scan. The trio is the spirit of a chromaprint-style acoustic
fingerprint reduced to public integer primitives.

Round-7 widening (VERDICT r6 #1): at the round-6 48-bit width, fresh
x100 emitted 49.3 M pairs — pure Hamming-ball density at N=500 k. The
first widening pass (185-bit multi-stride magnitude words) cut that to
323 k, but measurement showed the residual was STILL ball density
(p≈2.6e-6 per random pair at total-Hamming ≤ {AUDIO_HAM_T}). The energy
and first-difference measures were chosen BY measurement: on a 6 k-doc
sample (18 M pairs) of the fresh corpus, pairs that fool the magnitude
envelope (mag distance ≤ 10) sit at 12-word total distance ≥ 21 except
singletons, and p(total ≤ {AUDIO_HAM_T}) < 6e-8 — so at N=500 k the
surviving pairs track planted exact/near-exact dup structure, not ball
density. Locality holds per measure: a perturbation confined to one
block flips ≤ 2 bits per stride word.

The Spark side runs the REAL decode path — :func:`multimodal.decode_wav`
(RIFF chunk walker, fmt validation, int16-LE sample read) inside one
cached Arrow-batched ``mapInPandas`` stage — so a chunk-offset or
endianness bug cannot hash-match the oracle, which recomputes the
fingerprint in closed form from the WAV construction (sample i =
byte[2i] | byte[2i+1]<<8, signed; fixture text is pure ASCII so code
points == payload bytes). |x| is taken AFTER widening to int64 (int16
abs overflows on -32768). Exactness bounds (ADVICE r7 — the earlier
"far under 2^63" claim only bounded the SUM, not the cross-multiply):
the energy measure's block sums reach 2^30·(n/49), so its sums
accumulate in int64 (imagehash._block_sums — exact to n < 49·2^33
samples, with the Python-int cross-multiply in phash_words unbounded),
and the ORACLE computes sv2 and its cross-product in HUGEINT — the
BIGINT form overflowed past ~4.5 M samples (~100 s at 44.1 kHz),
fixture-safe but latent at real clip lengths.

Clips with no samples (sub-2-byte text) carry no envelope and are
excluded in BOTH engines rather than colliding on a degenerate zero
fingerprint; a 1-sample clip has an empty difference signal and zero
difference words in both engines (the COALESCE path).

Reference parity: [TGT] — engine extension (SURVEY §2.B multimodal
family).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from broadway_kinesis_spark.operators.imagehash import (
    B_BLOCKS,
    banded_pairs,
    pair_sql_tail,
    phash_words,
    w_cols,
    words_schema,
    words_sql_tail,
)
from broadway_kinesis_spark.operators.multimodal import as_wav_media, decode_wav
from broadway_kinesis_spark.registry import query
from broadway_kinesis_spark.session import load

N_MEASURES = 3  # |x|, x^2, |diff(x)|
AUDIO_BANDS_PER_WORD = 2  # 24 bands of 22-24 bits; pigeonhole bound 23
AUDIO_HAM_T = 10  # max total Hamming over all 12 words

_SIGNED = (
    "CASE WHEN ascii(text[2*i+1]) + 256 * ascii(text[2*i+2]) >= 32768 "
    "THEN ascii(text[2*i+1]) + 256 * ascii(text[2*i+2]) - 65536 "
    "ELSE ascii(text[2*i+1]) + 256 * ascii(text[2*i+2]) END"
)

_MEASURES = [("bs", "sv"), ("bs", "sv2"), ("bsd", "sv")]


@query(
    "dedup_audio_fingerprint",
    oracle=f"""
    WITH s AS (
        SELECT doc_id AS media_id,
               list_transform(range(0, length(text) // 2), i -> {_SIGNED}) AS smp
        FROM documents WHERE length(text) >= 2
    ), g AS (
        SELECT media_id, CAST(len(smp) AS BIGINT) AS n, smp,
               UNNEST(range(0, len(smp))) AS i
        FROM s
    ), v AS (
        SELECT media_id, (i * {B_BLOCKS}) // n AS blk,
               ABS(smp[CAST(i + 1 AS INTEGER)]) AS mag
        FROM g
    ), bs AS (
        SELECT media_id, blk,
               CAST(SUM(mag) AS BIGINT) AS sv,
               CAST(SUM(mag * mag) AS HUGEINT) AS sv2,
               CAST(COUNT(*) AS BIGINT) AS cv
        FROM v GROUP BY media_id, blk
    ), vd AS (
        SELECT media_id, (i * {B_BLOCKS}) // (n - 1) AS blk,
               ABS(smp[CAST(i + 2 AS INTEGER)] - smp[CAST(i + 1 AS INTEGER)])
                   AS dv
        FROM g WHERE n >= 2 AND i < n - 1
    ), bsd AS (
        SELECT media_id, blk,
               CAST(SUM(dv) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS cv
        FROM vd GROUP BY media_id, blk
    ), ids AS (
        SELECT media_id FROM s
    ){words_sql_tail(_MEASURES)}{pair_sql_tail(N_MEASURES, AUDIO_BANDS_PER_WORD, AUDIO_HAM_T)}
    """,
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs: 555-bit three-envelope fingerprint
    (magnitude / energy / first-difference) per decoded clip, 24-band
    Hamming candidate join, exact total-Hamming verify."""
    fps = audio_fingerprints(load(spark, sf_dir, "documents")).cache()
    return banded_pairs(fps, N_MEASURES, AUDIO_BANDS_PER_WORD, AUDIO_HAM_T)


def audio_fingerprints(docs: DataFrame) -> DataFrame:
    """(media_id, w0..w11) of each document's WAV clip through the REAL
    decode path (RIFF-walking :func:`multimodal.decode_wav` + the
    three-envelope :func:`imagehash.phash_words`), Arrow-batched — the
    fingerprints of ``dedup_audio_fingerprint`` and of its incremental
    channel's band table."""
    import numpy as np
    import pandas as pd

    media = as_wav_media(docs)
    cols = w_cols(N_MEASURES)

    def hash_batch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, _rate = decode_wav(bytes(payload))
                if samples.shape[0] == 0:
                    continue  # no envelope: excluded in both engines
                s = samples.astype(np.int64)
                mag = np.abs(s)
                rows.append(
                    (
                        int(mid),
                        *phash_words(mag),
                        *phash_words(mag * mag),
                        *phash_words(np.abs(np.diff(s))),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", *cols])

    return media.select("media_id", "payload").mapInPandas(
        hash_batch, words_schema(N_MEASURES)
    )
