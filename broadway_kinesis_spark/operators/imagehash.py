"""Image perceptual-hash near-duplicate detection (multi-word dHash + banded
Hamming).

The visual counterpart of MinHash that multimodal corpus builds run: no
text to shingle, so near-dup candidates come from a compact perceptual
fingerprint of the DECODED PIXELS — two re-encodes / slight corruptions
of the same image land within a few bits of each other, and a banded
self-join surfaces the pairs without any all-pairs scan (same LSH shape
as ``dedup_simhash``, dedup.py:275).

Fingerprint (185-bit multi-stride block-difference hash): the decoded
image's byte plane (grayscale-equivalent: the raw interleaved RGB
luminance signal, padding included) is pooled into ``B = 49``
index-blocks (``blk(i) = i·B // L``), and the fingerprint is FOUR
exact-integer words, one per comparison stride ``s ∈ (1, 2, 3, 5)``:
bit ``r`` of word ``w`` is set iff block ``r``'s mean exceeds block
``r+s``'s — the classic dHash "is the left cell brighter than its
neighbour" rule at four sight distances (48+47+46+44 = 185 bits). Means
are compared EXACTLY via integer cross-multiplication
(``s[r]·c[r+s] > s[r+s]·c[r]``), so no float enters the fingerprint and
both engines agree bit-for-bit.

Why multi-word (round-7 widening, VERDICT r6 #1): at 48 bits a random
same-distribution pair lands within Hamming {HAM_T_48}=6 with p≈5e-4 —
at N=500 k that Hamming-ball density alone emits tens of millions of
false pairs (measured: audio 49.3 M, image 316 k at fresh x100). At 185
bits with total-Hamming verify ≤ {HAM_T}, the random-pair survival
probability collapses combinatorially (even granting heavy inter-bit
correlation, ≲1e-10), so surviving pairs track actual duplicate
structure. Locality is preserved: a perturbation confined to one block
flips at most 2 bits per stride word = ≤ 8 ≤ {HAM_T} total.

Candidate generation: 12 bands (3 per word) of 14–16 bits — two
fingerprints within total Hamming {HAM_T} differ in at most {HAM_T}
bands, so with 12 > {HAM_T} bands at least one band matches exactly
(pigeonhole — exhaustive recall, not probabilistic); candidates verify
with summed ``bit_count(xor)``. The wider 14–16-bit band keys (vs the
round-6 12-bit ones) give 16–64× more buckets, which is what keeps
random band collisions sub-quadratic as N grows — band width remains
the documented scale knob, exactly as for the text LSH family.

The Spark side runs the REAL decode path — :func:`multimodal.decode_image`
(header tokenizer + numpy reshape) inside Arrow-batched ``mapInPandas`` —
so a header-parse or reshape bug cannot hash-match the oracle, which
computes the same fingerprint in closed form from the PPM construction
(``as_ppm_media``: body bytes = ASCII text bytes zero-padded to a whole
pixel grid).

Reference parity: [TGT] — no relational surface in the reference; engine
extension beyond it (SURVEY §2.B multimodal family).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.operators.multimodal import (
    IMG_W,
    as_ppm_media,
    decode_image,
)
from broadway_kinesis_spark.registry import query
from broadway_kinesis_spark.session import load

B_BLOCKS = 49  # pooling blocks
WORD_STRIDES = (1, 2, 3, 5)  # comparison distances, one fingerprint word each
WORD_BITS = tuple(B_BLOCKS - s for s in WORD_STRIDES)  # 48, 47, 46, 44
N_WORDS = len(WORD_STRIDES)
HAM_T = 10  # max TOTAL Hamming distance (all words) for a verified pair
BANDS_PER_WORD = 3

_ROW = IMG_W * 3  # bytes per pixel row in the synthesized P6 corpus


def _band_widths(nbits: int, k: int) -> list[int]:
    base, rem = divmod(nbits, k)
    return [base + 1] * rem + [base] * (k - rem)


def make_bands(
    n_measures: int = 1, bands_per_word: int = BANDS_PER_WORD
) -> list[tuple[int, int, int]]:
    """(word_index, shift, width) per band, low bits first. A fingerprint
    of ``n_measures`` signals has ``4 * n_measures`` words (one per signal
    x stride); each splits into ``bands_per_word`` equal-ish bands. More
    measures => more words => FEWER, WIDER bands per word suffice for the
    same pigeonhole bound, which is what keeps candidate volume flat as
    the fingerprint widens (band count only needs to exceed HAM_T)."""
    out: list[tuple[int, int, int]] = []
    for w in range(len(WORD_BITS) * n_measures):
        nbits = WORD_BITS[w % len(WORD_BITS)]
        shift = 0
        for width in _band_widths(nbits, bands_per_word):
            out.append((w, shift, width))
            shift += width
    return out


#: the single-measure band layout shared by the image plan, its oracle SQL,
#: and the tests.
BANDS: list[tuple[int, int, int]] = make_bands()
N_BANDS = len(BANDS)  # 12 > HAM_T => pigeonhole guarantees a clean band
assert HAM_T < N_BANDS


def _block_sums(flat_values):
    """Exact per-block (sum, count) of a flattened non-negative int signal.

    Sums accumulate in INT64, not float64 bincount weights (ADVICE r7):
    the energy measure (x², audiohash.py) passes the float64 2^53 exact
    range once a block holds ≳2^23 samples — real clip lengths, not
    fixture ones. ``blk(i) = i*B//L`` is non-decreasing, so when L >= B
    every block is a contiguous non-empty segment starting at
    ``ceil(k*L/B)`` and ``np.add.reduceat`` gives exact int64 segment
    sums at memory bandwidth; the short-signal path (< B samples, empty
    blocks possible) uses ``np.add.at``.
    """
    import numpy as np

    flat = np.asarray(flat_values, dtype=np.int64).reshape(-1)
    length = flat.shape[0]
    if length == 0:
        return None, None
    if length >= B_BLOCKS:
        starts = (np.arange(B_BLOCKS) * length + B_BLOCKS - 1) // B_BLOCKS
        sums = np.add.reduceat(flat, starts)
        cnts = np.diff(np.append(starts, length))
    else:
        blk = (np.arange(length) * B_BLOCKS) // length
        sums = np.zeros(B_BLOCKS, dtype=np.int64)
        np.add.at(sums, blk, flat)
        cnts = np.bincount(blk, minlength=B_BLOCKS)
    return sums, cnts


def phash48(flat_values) -> int:
    """Single-word (stride-1) 48-bit block-difference hash — the per-frame
    primitive the video temporal signature builds on; word 0 of
    :func:`phash_words`."""
    return phash_words(flat_values)[0]


def phash_words(flat_values) -> list[int]:
    """Multi-stride block-difference fingerprint of a flattened
    non-negative integer signal (image byte plane, audio magnitude
    profile, ...): one word per stride in {WORD_STRIDES}, bit ``r`` of
    word ``w`` set iff block ``r``'s mean exceeds block ``r+stride``'s
    (exact integer cross-multiplication). An empty block compares false
    on both sides — identical to the oracle's occupied-block join, where
    such comparisons simply have no row. Shared by the image / audio /
    video operators and their tests."""
    sums, cnts = _block_sums(flat_values)
    if sums is None:
        return [0] * N_WORDS
    words = []
    for s in WORD_STRIDES:
        fp = 0
        for r in range(B_BLOCKS - s):
            if int(sums[r]) * int(cnts[r + s]) > int(sums[r + s]) * int(cnts[r]):
                fp |= 1 << r
        words.append(fp)
    return words


def w_cols(n_measures: int = 1) -> list[str]:
    return [f"w{i}" for i in range(N_WORDS * n_measures)]


_W_COLS = w_cols()


def _hamming_expr(n_words: int):
    terms = [
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        for i in range(n_words)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total.cast("int")


def banded_pairs(
    fps: DataFrame,
    n_measures: int = 1,
    bands_per_word: int = BANDS_PER_WORD,
    ham_t: int = HAM_T,
) -> DataFrame:
    """Candidate-generate + verify near-dup pairs from a ``(media_id,
    w0..)`` DataFrame: banded self-join on the :func:`make_bands` layout,
    exact summed ``bit_count(xor) <= ham_t`` verify — shared by the image,
    audio, and video fingerprint operators. ``ham_t`` must stay below the
    band count so the pigeonhole recall guarantee holds."""
    bands_spec = make_bands(n_measures, bands_per_word)
    assert ham_t < len(bands_spec)
    cols = w_cols(n_measures)
    n_words = len(cols)
    keys = [
        F.expr(f"shiftright(w{w}, {shift})").bitwiseAND(F.lit((1 << width) - 1))
        for (w, shift, width) in bands_spec
    ]
    bands = fps.select(
        "media_id", *cols, F.posexplode(F.array(*keys)).alias("bid", "bkey")
    )
    a = _pair_side(bands, "1", n_words, "bid", "bkey")
    b = _pair_side(bands, "2", n_words, "bid", "bkey")
    return _hamming_verify(a.join(b, ["bid", "bkey"]), n_words, ham_t)


def _pair_side(bands: DataFrame, tag: str, n_words: int, *keys: str) -> DataFrame:
    """Side ``tag`` ("1" or "2") of a banded candidate join: ``media_id``
    as ``m<tag>`` and the words as ``a*`` (side 1) or ``b*`` (side 2)."""
    prefix = "a" if tag == "1" else "b"
    return bands.select(
        F.col("media_id").alias(f"m{tag}"),
        *[F.col(f"w{i}").alias(f"{prefix}{i}") for i in range(n_words)],
        *keys,
    )


def _hamming_verify(joined: DataFrame, n_words: int, ham_t: int) -> DataFrame:
    """Distinct ``m1 < m2`` candidates of a banded join, kept iff their
    summed ``bit_count(xor)`` is at most ``ham_t``."""
    cand = (
        joined.filter(F.col("m1") < F.col("m2"))
        .select(
            "m1",
            "m2",
            *[f"a{i}" for i in range(n_words)],
            *[f"b{i}" for i in range(n_words)],
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming_expr(n_words))
        .filter(F.col("hamming") <= ham_t)
        .select("m1", "m2", "hamming")
    )


def packed_band_rows(
    fps: DataFrame, n_measures: int, bands_per_word: int, pack_shift: int
) -> DataFrame:
    """(media_id, w0.., bkeyc): one row per band of the :func:`make_bands`
    layout, with (bid, bkey) packed into the single join key
    ``bkeyc = bid * 2^pack_shift + bkey`` — injective because every band
    value fits in ``pack_shift`` bits (asserted). The persisted band table
    of the image and audio incremental channels."""
    bands_spec = make_bands(n_measures, bands_per_word)
    assert all(width <= pack_shift for (_, _, width) in bands_spec)
    keys = [
        F.lit(bid * (1 << pack_shift))
        + (
            F.expr(f"shiftright(w{w}, {shift})").bitwiseAND(
                F.lit((1 << width) - 1)
            )
        )
        for bid, (w, shift, width) in enumerate(bands_spec)
    ]
    return fps.select(
        "media_id", *w_cols(n_measures), F.explode(F.array(*keys)).alias("bkeyc")
    )


def probe_banded_pairs(
    stored: DataFrame, delta_bands: DataFrame, n_measures: int, ham_t: int
) -> DataFrame:
    """The pairs :func:`banded_pairs` finds with at least one side in the
    delta, from version N's stored :func:`packed_band_rows` and the
    delta's. The stored side joins the delta FIRST, before any union: a
    table bucketed on ``bkeyc`` satisfies the join distribution, so only
    the delta side exchanges and the stored scan never shuffles. The
    delta's own self-join (new-new pairs) is union'd AFTER, then the exact
    Hamming verify runs off the carried words, never the payloads."""
    n_words = N_WORDS * n_measures
    b = _pair_side(delta_bands, "2", n_words, "bkeyc")
    old_cand = _pair_side(stored, "1", n_words, "bkeyc").join(b, "bkeyc")
    new_cand = _pair_side(delta_bands, "1", n_words, "bkeyc").join(b, "bkeyc")
    return _hamming_verify(old_cand.unionByName(new_cand), n_words, ham_t)


def words_sql_tail(measures: list[tuple[str, str]] = (("bs", "sv"),)) -> str:
    """Oracle fragment: per-media multi-stride words from one or more
    block-sum CTEs ``<name>(media_id, blk, <col>, cv)`` (occupied blocks
    only) plus an ``ids(media_id)`` CTE (one row per media) — the SQL twin
    of :func:`phash_words` over each measure, producing
    ``fp(media_id, w0..)`` with measure ``m``'s words at indices
    ``4m..4m+3``. A media whose occupied blocks have no pair at some
    stride still gets a defined word (every comparison against an empty
    block is false) = 0: the LEFT JOIN + COALESCE keeps it instead of
    silently dropping it (caught live in round 6: 48-char docs at
    sf0.01)."""
    n_words = N_WORDS * len(measures)
    strides = ", ".join(f"({w}, {s})" for w, s in enumerate(WORD_STRIDES))
    per_measure = "\n        UNION ALL\n        ".join(
        f"""SELECT lo.media_id, {m * N_WORDS} + st.w AS w,
               CAST(lo.blk AS INTEGER) AS r,
               CASE WHEN lo.{col} * hi.cv > hi.{col} * lo.cv
                    THEN 1 ELSE 0 END AS bit
        FROM {cte} lo
        CROSS JOIN st
        JOIN {cte} hi ON lo.media_id = hi.media_id AND hi.blk = lo.blk + st.s"""
        for m, (cte, col) in enumerate(measures)
    )
    word_sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN w = {w} THEN bit * (CAST(1 AS BIGINT) << r) "
        f"ELSE 0 END) AS BIGINT) AS w{w}"
        for w in range(n_words)
    )
    coalesced = ", ".join(
        f"COALESCE(f.w{w}, CAST(0 AS BIGINT)) AS w{w}" for w in range(n_words)
    )
    return f""", st AS (
        SELECT * FROM (VALUES {strides}) AS t(w, s)
    ), bits AS (
        {per_measure}
    ), fp0 AS (
        SELECT media_id,
               {word_sums}
        FROM bits GROUP BY media_id
    ), fp AS (
        SELECT i.media_id, {coalesced}
        FROM ids i LEFT JOIN fp0 f ON i.media_id = f.media_id
    )"""


def pair_sql_tail(
    n_measures: int = 1,
    bands_per_word: int = BANDS_PER_WORD,
    ham_t: int = HAM_T,
) -> str:
    """Oracle fragment: bands/candidates/verify over the ``fp`` CTE — the
    SQL twin of :func:`banded_pairs` at the same layout parameters."""
    bands_spec = make_bands(n_measures, bands_per_word)
    n_words = N_WORDS * n_measures
    arms = " ".join(
        f"WHEN {bid} THEN (w{w} >> {shift}) & {(1 << width) - 1}"
        for bid, (w, shift, width) in enumerate(bands_spec)
    )
    bids = ", ".join(str(b) for b in range(len(bands_spec)))
    wcols = ", ".join(w_cols(n_measures))
    a_sel = ", ".join(f"a.w{i} AS a{i}" for i in range(n_words))
    b_sel = ", ".join(f"b.w{i} AS b{i}" for i in range(n_words))
    # bit_count returns a TINYINT in DuckDB: summed raw, the running total
    # overflows at 127 (a 12-word distance reaches 555) — cast each term.
    ham = " + ".join(
        f"CAST(bit_count(xor(a{i}, b{i})) AS INTEGER)" for i in range(n_words)
    )
    return f""", bands AS (
        SELECT media_id, {wcols}, bid,
               CASE bid {arms} END AS bkey
        FROM fp, UNNEST([{bids}]) AS tb(bid)
    ), cand AS (
        SELECT DISTINCT a.media_id AS m1, b.media_id AS m2,
                        {a_sel}, {b_sel}
        FROM bands a JOIN bands b
          ON a.bid = b.bid AND a.bkey = b.bkey AND a.media_id < b.media_id
    )
    SELECT m1, m2, CAST({ham} AS INT) AS hamming
    FROM cand WHERE {ham} <= {ham_t}"""


WORDS_SQL_TAIL = words_sql_tail()
PAIR_SQL_TAIL = pair_sql_tail()


def words_schema(n_measures: int = 1) -> str:
    return "media_id long, " + ", ".join(
        f"{c} long" for c in w_cols(n_measures)
    )


_WORDS_SCHEMA = words_schema()


@query(
    "dedup_image_phash",
    oracle=f"""
    WITH b AS (
        SELECT doc_id AS media_id,
               list_transform(string_split(text, ''), c -> ascii(c)) AS bl,
               octet_length(encode(text)) AS n,
               CAST(GREATEST(CEIL(octet_length(encode(text)) / {_ROW}.0), 1)
                    * {_ROW} AS BIGINT) AS plane_len
        FROM documents
    ), g AS (
        SELECT media_id, n, bl, plane_len,
               UNNEST(range(0, plane_len)) AS i
        FROM b
    ), v AS (
        SELECT media_id, (i * {B_BLOCKS}) // plane_len AS blk,
               CASE WHEN i < n THEN bl[CAST(i + 1 AS INTEGER)] ELSE 0 END AS byte
        FROM g
    ), bs AS (
        SELECT media_id, blk,
               CAST(SUM(byte) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS cv
        FROM v GROUP BY media_id, blk
    ), ids AS (
        SELECT media_id FROM b
    ){WORDS_SQL_TAIL}{PAIR_SQL_TAIL}
    """,
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image pairs: 185-bit multi-stride dHash per decoded
    image, 12-band (3 per word) candidate join, exact total-Hamming verify
    <= {HAM_T}."""
    # One row per image (much smaller than the payloads): cached so the
    # banded SELF-join's two branches share a single decode pass instead of
    # each re-running the Arrow stage — the dedup.py shingle-cache pattern.
    fps = image_fingerprints(load(spark, sf_dir, "documents")).cache()
    return banded_pairs(fps)


def image_fingerprints(docs: DataFrame) -> DataFrame:
    """(media_id, w0..w3) of each document's PPM image through the REAL
    decode path (header-tokenizing :func:`multimodal.decode_image` +
    :func:`phash_words`), Arrow-batched — the fingerprints of
    ``dedup_image_phash`` and of its incremental channel's band table."""
    import pandas as pd

    media = as_ppm_media(docs)

    def hash_batch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = decode_image(bytes(payload))
                rows.append((int(mid), *phash_words(img.reshape(-1))))
            yield pd.DataFrame(rows, columns=["media_id", *_W_COLS])

    return media.select("media_id", "payload").mapInPandas(
        hash_batch, _WORDS_SCHEMA
    )
