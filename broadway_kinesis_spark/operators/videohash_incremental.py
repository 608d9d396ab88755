"""Batch incremental corpus-version dedup — VIDEO TEMPORAL channel
(round 11, session 3).

The video channel (``operators/videohash.py``) is the text ngram channel
in shingle space: each clip's signature is its DISTINCT set of temporal
shingles (consecutive frame-hash pairs, built by
:func:`videohash.clip_shingle_rows` for both channels), deduped through a
stop-shingle inverted index + exact-Jaccard verify. Its incremental form
therefore follows ``incremental_batch.incremental_ngram_pairs`` nearly
verbatim — with one structural improvement the video channel earns for
free:
because a clip's signature is a DISTINCT-shingle set, version N's
UNCAPPED inverted index IS the complete signature store, so the
exact-Jaccard verify runs entirely off the stored index + the delta's
rows. Version-N clips are NEVER re-decoded — not even the candidates
(the text channel must re-shingle candidate docs because its verify
needs full arrays; here the index rows are the full sets).

Persisted artifacts (:func:`ensure_video_index`, the ngram protocol):

- ``idx``: (media_id, shingle), UNCAPPED (the stop-shingle cap depends
  on future deltas' document frequencies), bucketed+sorted by shingle so
  delta probes join without shuffling the big side;
- ``df``: (shingle, df_old) — the running per-shingle clip frequency the
  combined-corpus cap needs without re-aggregating the index.

Combined-DF capping: a shingle stays in the CANDIDATE index iff
``df_new + df_old <= {DF_CAP}`` — the cap the from-scratch run would
apply at version N+1, proven equivalent by the wrapped oracle (the
inline channel's oracle restricted to ``m2 >= boundary``; pairs are
(m1 < m2) and version-N ids all sit below the delta's). The verify is
NEVER capped — inter/union counts run over the full signature sets,
exactly as inline.

Roll-forward: :func:`roll_forward_video_index` — the delta's shingle
rows union the stored idx (bucketed layout kept); per-shingle DF adds
via full-outer join. Only the delta decodes. fold == scratch and
probe-on-rolled == probe-on-scratch pinned by
tests/test_round11_s3_channels.py.

Reference parity: [TGT] — engine extension (SURVEY §2.B multimodal
family; the reference has no media surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.functions.versioned_fold import (
    BOUNDARY,
    VersionedArtifact,
    probe_counts,
    spread_delta,
)
from broadway_kinesis_spark.operators.dedup import DF_CAP
from broadway_kinesis_spark.operators.videohash import J_DEN, J_NUM, clip_shingle_rows
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: bucket count for the persisted inverted index (the ngram protocol knob).
IDX_BUCKETS = 8

#: the inline channel's oracle OBJECT — importing operators.videohash above
#: ran its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_video_temporal"].oracle


#: the temporal-shingle index + its DF companion (the ngram artifact pair);
#: a fold decodes the delta ONCE for both writes (round-12 x100 lesson:
#: two delta closures decoded the delta twice, costing more than the
#: copy the link-forward removed)
VIDEO_INDEX = VersionedArtifact(
    name="video_index",
    prefix="_bks_vidx_",
    policy=f"r11s3:vts:j{J_NUM}-{J_DEN}:b{IDX_BUCKETS}",
    rows=clip_shingle_rows,
    bucket_by=(IDX_BUCKETS, "shingle"),
    counts=("_bks_vdf_", "shingle", "df_old"),
)
ensure_video_index = VIDEO_INDEX.ensure
roll_forward_video_index = VIDEO_INDEX.roll_forward


@query(
    "dedup_incremental_video",
    oracle=f"""
    SELECT m1, m2, n_inter, n_union FROM ({_INLINE_ORACLE})
    WHERE m2 >= {BOUNDARY}
    """,
)
def dedup_incremental_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal near-dup pairs the DELTA introduces — shingle-Jaccard >=
    {J_NUM}/{J_DEN} pairs with at least one delta side — computed by
    probing version N's persisted shingle index with the delta's rows.
    Version-N clips are never re-decoded, candidates included (the stored
    index carries the complete distinct-shingle signatures). The oracle
    is the inline channel's oracle restricted to ``m2 >= {BOUNDARY}``."""
    return incremental_video_pairs(spark, sf_dir)


def incremental_video_pairs(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    idx_tbl: str | None = None,
    df_tbl: str | None = None,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_video`` — scale runs
    place ``boundary`` per corpus; ``idx_tbl``/``df_tbl`` override the
    version-N artifacts with a :func:`roll_forward_video_index` fold so
    day D+1's delta probes day D's fold.

    Shape: one Arrow decode pass over the delta (localCheckpoint — the
    rows feed the DF aggregate, the probe side, the new-new union, and
    the verify; replaying a cached plan across those branches under AQE
    is the zip-partitions failure incremental_batch documents, and the
    checkpoint is delta-sized by construction; its executor blocks are
    reclaimed by the ContextCleaner when the result's RDDs are GC'd).
    Candidates come from the combined-DF-capped equi-join against the
    bucketed stored index (only the delta side exchanges); the verify
    joins candidate ids back to the UNION of stored index rows and delta
    rows — complete signatures, no payload rescan anywhere."""
    if idx_tbl is None or df_tbl is None:
        idx_tbl, df_tbl = ensure_video_index(spark, sf_dir, boundary)
    d = load(spark, sf_dir, "documents")
    delta_sh = clip_shingle_rows(
        spread_delta(d.filter(F.col("doc_id") >= boundary))
    ).localCheckpoint(eager=True)
    delta_df = delta_sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df_new")
    )
    # combined-corpus stop-shingle cap on the delta's shingles only (a
    # delta-touching pair shares a shingle inside some delta clip, so no
    # other shingle can generate a candidate)
    # merge-on-read: the stored DF statistic may be segmented (a
    # link-forward fold appends the delta's counts as extra rows —
    # versioned_fold module doc); restrict to the delta's shingles, then
    # sum per shingle before the cap test.
    kept = (
        delta_df.join(
            probe_counts(spark.table(df_tbl), delta_df, "shingle", "df_old"),
            "shingle",
            "left",
        )
        .filter(
            F.col("df_new") + F.coalesce(F.col("df_old"), F.lit(0)) <= DF_CAP
        )
        .select("shingle")
        .localCheckpoint(eager=True)
    )
    b = (
        delta_sh.join(kept, "shingle")
        .select(F.col("media_id").alias("m2"), "shingle")
        .localCheckpoint(eager=True)
    )
    # stored side joins FIRST (bucketed scan, probe-pruned); new-new pairs
    # come from the delta's own capped rows, union'd AFTER.
    old_a = (
        spark.table(idx_tbl).join(kept, "shingle").select("media_id", "shingle")
    )
    a = old_a.union(
        b.select(F.col("m2").alias("media_id"), "shingle")
    ).select(F.col("media_id").alias("m1"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("m1") < F.col("m2"))
        .select("m1", "m2")
        .distinct()
        .cache()  # read twice — clip-id pruning + the intersection join —
        # without it the probe-join subtree re-executes per consumer
        # (round 13; the minhash channel's pattern)
    )
    # verify: complete signatures of CANDIDATE clips only, served from the
    # stored index + the delta's rows — version-N payloads never re-read.
    cand_docs = (
        cand.select(F.col("m1").alias("media_id"))
        .union(cand.select(F.col("m2").alias("media_id")))
        .distinct()
    )
    rows_c = (
        spark.table(idx_tbl)
        .unionByName(delta_sh)
        .join(F.broadcast(cand_docs), "media_id", "left_semi")
    )
    sizes = rows_c.groupBy("media_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(rows_c.withColumnRenamed("media_id", "m1"), "m1")
        .join(
            rows_c.select(F.col("media_id").alias("m2"), "shingle"),
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
