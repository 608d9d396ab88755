"""Video-level temporal dedup — clip signatures over the frame-hash
sequence.

Completes the multimodal dedup triad (image `dedup_image_phash`, audio
`dedup_audio_fingerprint`): a video is near-duplicate of another when
MOST OF ITS SHOTS match IN ORDER, not when its global byte statistics
agree — so the clip signature is built from the per-frame perceptual
hash SEQUENCE, the operator a video corpus build would actually dedup
with (VERDICT r6 missing #3).

Pipeline (real codecs aren't in the container — the multimodal family's
standing posture: frames are the {FRAME_BYTES}-byte payload blocks of
``multimodal_frame_sample``/``multimodal_scene_cut``, zero-padded to a
whole frame):

1. per frame: the 48-bit stride-1 dHash (:func:`imagehash.phash48`) of
   the frame's bytes — the same locality-robust primitive the image
   operator pools over whole images, here applied per frame so a small
   in-frame corruption perturbs only that frame's hash;
2. temporal shingles: each CONSECUTIVE PAIR of frame hashes becomes one
   token ``"fh_i:fh_{{i+1}}"`` — order-aware (reversing or shuffling
   frames destroys the shingles) yet position-free (content-defined), so
   TRIMMING a clip preserves all interior shingles, the robustness a
   pooled whole-clip envelope cannot offer;
3. dedup: exact Jaccard over each clip's DISTINCT shingle set via the
   same inverted-index + stop-shingle discipline as
   ``dedup_ngram_jaccard`` (shingles in more than {DF_CAP} clips leave
   the index), pair kept iff inter/union >= {J_NUM}/{J_DEN}, compared by
   integer cross-multiplication so no float enters the result.

Output: (m1, m2, n_inter, n_union) — all BIGINT, hash-exact.

Single-frame clips carry no temporal evidence and are excluded in BOTH
engines (no shingles). Every frame is exactly {FRAME_BYTES} bytes after
padding, so all {B_BLOCKS} dHash blocks are occupied and the per-frame
hash needs no sparse-block corner.

Oracle fixture assumption (ADVICE r7, same standing contract as
audiohash/imagehash): the oracle reconstructs the payload BYTES as
``ascii(c)`` over per-CHARACTER splits while ``n`` counts UTF-8 BYTES
(``octet_length(encode(text))``) — on a non-ASCII document the
character list is shorter than n, ``bl[i]`` goes NULL, and the oracle
silently diverges from Spark's real byte payload. The synthesized
corpora are pure ASCII (code points == bytes), which is what makes the
closed-form oracle byte-exact; a non-ASCII corpus would need the
oracle's ``bl`` derived from ``encode(text)`` bytes instead.

Scale posture (100 TB): one Arrow-batched decode+hash+shingle stage
(shuffle-free, linear in corpus bytes) emits one row per (clip,
distinct shingle) — frames never materialize as a DataFrame; the only
shuffles are the shingle-DF window and the candidate equi-join, both
bounded by the stop-shingle cap exactly as in the text inverted-index
family. Candidate volume is sum over shingles of min(DF, cap)^2, and
the verify is a count-based aggregate, not a payload rescan.

Reference parity: [TGT] — engine extension (SURVEY §2.B multimodal
family).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from broadway_kinesis_spark.operators.dedup import DF_CAP
from broadway_kinesis_spark.operators.imagehash import B_BLOCKS, phash48
from broadway_kinesis_spark.operators.multimodal import FRAME_BYTES, as_media
from broadway_kinesis_spark.registry import query
from broadway_kinesis_spark.session import load

J_NUM, J_DEN = 1, 2  # temporal-shingle Jaccard threshold: keep iff >= 1/2

_B = FRAME_BYTES


def clip_shingles(raw: bytes) -> set[str]:
    """Distinct temporal shingles of one clip — the pure-Python twin the
    tests brute-force against: pad to whole {_B}-byte frames, dHash each,
    join consecutive hash pairs."""
    import numpy as np

    n_frames = max(-(-len(raw) // _B), 1) if raw else 1
    padded = np.zeros(n_frames * _B, dtype=np.int64)
    arr = np.frombuffer(raw, dtype=np.uint8)
    padded[: len(arr)] = arr
    frames = padded.reshape(n_frames, _B)
    fhs = [phash48(frames[i]) for i in range(n_frames)]
    return {f"{fhs[i]}:{fhs[i + 1]}" for i in range(n_frames - 1)}


@query(
    "dedup_video_temporal",
    oracle=f"""
    WITH b AS (
        SELECT doc_id AS media_id,
               list_transform(string_split(text, ''), c -> ascii(c)) AS bl,
               octet_length(encode(text)) AS n,
               CAST(GREATEST(CEIL(octet_length(encode(text)) / {_B}.0), 1)
                    AS BIGINT) AS n_frames
        FROM documents
    ), fpos AS (
        SELECT media_id, fi, (k * {B_BLOCKS}) // {_B} AS blk,
               CASE WHEN fi * {_B} + k < n
                    THEN bl[CAST(fi * {_B} + k + 1 AS INTEGER)] ELSE 0 END
                   AS byte
        FROM (SELECT media_id, bl, n, UNNEST(range(0, n_frames)) AS fi FROM b),
             LATERAL UNNEST(range(0, {_B})) AS t(k)
    ), fbs AS (
        SELECT media_id, fi, blk,
               CAST(SUM(byte) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS cv
        FROM fpos GROUP BY media_id, fi, blk
    ), fbits AS (
        SELECT lo.media_id, lo.fi, CAST(lo.blk AS INTEGER) AS r,
               CASE WHEN lo.sv * hi.cv > hi.sv * lo.cv THEN 1 ELSE 0 END AS bit
        FROM fbs lo JOIN fbs hi
          ON lo.media_id = hi.media_id AND lo.fi = hi.fi
         AND hi.blk = lo.blk + 1
    ), fh AS (
        SELECT media_id, fi,
               CAST(SUM(bit * (CAST(1 AS BIGINT) << r)) AS BIGINT) AS fh
        FROM fbits GROUP BY media_id, fi
    ), sh AS (
        SELECT DISTINCT a.media_id,
               CAST(a.fh AS VARCHAR) || ':' || CAST(c.fh AS VARCHAR) AS shingle
        FROM fh a JOIN fh c
          ON a.media_id = c.media_id AND c.fi = a.fi + 1
    ), sizes AS (
        SELECT media_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY media_id
    ), idx AS (
        SELECT media_id, shingle FROM sh
        QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
    ), cand AS (
        SELECT DISTINCT a.media_id AS m1, c.media_id AS m2
        FROM idx a JOIN idx c
          ON a.shingle = c.shingle AND a.media_id < c.media_id
    ), inter AS (
        SELECT cand.m1, cand.m2, CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM cand
        JOIN sh s1 ON s1.media_id = cand.m1
        JOIN sh s2 ON s2.media_id = cand.m2 AND s2.shingle = s1.shingle
        GROUP BY 1, 2
    )
    SELECT m1, m2, n_inter,
           CAST(sa.sz + sb.sz - n_inter AS BIGINT) AS n_union
    FROM inter
    JOIN sizes sa ON sa.media_id = m1
    JOIN sizes sb ON sb.media_id = m2
    WHERE n_inter * {J_DEN} >= (sa.sz + sb.sz - n_inter) * {J_NUM}
    """,
)
def dedup_video_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs: per-frame dHash sequence -> ordered
    consecutive-pair shingles -> stop-shingle-capped inverted index ->
    exact shingle-Jaccard >= {J_NUM}/{J_DEN}."""
    # One row per (clip, distinct shingle) out of ONE Arrow stage; cached
    # because it feeds the sizes agg, the index, and (via sizes) the verify.
    sh = clip_shingle_rows(load(spark, sf_dir, "documents")).cache()
    sizes = sh.groupBy("media_id").agg(F.count(F.lit(1)).alias("sz"))
    idx = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).filter(F.col("df") <= DF_CAP)
    a = idx.select(F.col("media_id").alias("m1"), "shingle")
    b = idx.select(F.col("media_id").alias("m2"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("m1") < F.col("m2"))
        .select("m1", "m2")
        .distinct()
    )
    # Verify over the FULL shingle sets (candidates only — the cap bounds
    # candidate generation, never the Jaccard itself), the ngram-family
    # discipline: fan each pair out over m1's shingles, count matches in
    # m2's — row volume is pairs x shingles-per-clip, not index^2.
    inter = (
        cand.join(sh.withColumnRenamed("media_id", "m1"), "m1")
        .join(
            sh.select(F.col("media_id").alias("m2"), "shingle"),
            ["m2", "shingle"],
        )
        .groupBy("m1", "m2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("media_id").alias("m1"), F.col("sz").alias("sz1"))
    sb = sizes.select(F.col("media_id").alias("m2"), F.col("sz").alias("sz2"))
    return (
        inter.join(sa, "m1")
        .join(sb, "m2")
        .withColumn("n_union", F.col("sz1") + F.col("sz2") - F.col("n_inter"))
        .filter(F.col("n_inter") * J_DEN >= F.col("n_union") * J_NUM)
        .select("m1", "m2", "n_inter", "n_union")
    )


def clip_shingle_rows(docs: DataFrame) -> DataFrame:
    """(media_id, shingle) — one row per (clip, DISTINCT temporal shingle)
    of :func:`clip_shingles`, Arrow-batched (single-frame clips emit
    nothing) — the rows of ``dedup_video_temporal`` and of its incremental
    channel's persisted index."""
    import pandas as pd

    media = as_media(docs)

    def shingle_batch(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for s in clip_shingles(bytes(payload)):
                    rows.append((int(mid), s))
            yield pd.DataFrame(rows, columns=["media_id", "shingle"])

    return media.select("media_id", "payload").mapInPandas(
        shingle_batch, "media_id long, shingle string"
    )
