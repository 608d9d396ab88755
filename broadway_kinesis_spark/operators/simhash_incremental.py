"""Batch incremental corpus-version dedup — SIMHASH channel (round 11).

The session-2 close of the statistic-table channels — exact digests +
ngram (incremental_batch), MinHash (minhash_incremental), SimHash
(here), embeddings (embedding_incremental), perceptual fingerprints
(fingerprint_incremental), containment (containment_incremental), the
leakage-safe split (split_incremental), and the IVF serving index
(ann_incremental) all absorb a delta from version N's persisted
artifacts. Session 3 extends the same loop to the remaining families
(fuzzy, semantic, audio, video, substring-span — see their modules) and
chains it into the daily ingest gate (daily_increment.py).

The inline channel (``dedup_simhash``) emits per-doc (fingerprint,
n_sharing) — n_sharing counts docs with the IDENTICAL fingerprint across
the corpus. Incremental form: only the delta tokenizes and hashes, through the
inline channel's own builder :func:`dedup.simhash_fingerprints` (the
channel's whole cost — one explode + one hash-agg per doc); version N
persists its per-FINGERPRINT count table
(:func:`ensure_simhash_counts` — one row per distinct fingerprint, far
smaller than a per-doc table), and a delta doc's n_sharing = its
fingerprint's delta count + the stored version-N count. Output = the
inline channel's rows restricted to the delta (``doc_id >= boundary``),
which is exactly what the wrapped oracle states.

Roll-forward: :func:`roll_forward_simhash_counts` appends the delta's
per-fingerprint counts as a merge-on-read SEGMENT next to version N's
hard-linked rows — the DF-table fold of the ngram channel applied to
fingerprint space; fold(N, delta) == build(N+1) fenced on served
content.

Reference parity: [TGT] — engine extension (SURVEY §2.B dedup family).
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
from broadway_kinesis_spark.operators.dedup import SIM_BITS, simhash_fingerprints
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: the inline channel's oracle OBJECT — importing operators.dedup above ran
#: its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_simhash"].oracle


#: per-fingerprint counts (simhash, n_old) — one row per distinct
#: fingerprint on a build; a fold appends the delta's counts as a
#: merge-on-read segment (readers serve ``SUM(n_old) GROUP BY simhash``
#: after their delta-bounded restriction, ``versioned_fold.probe_counts``)
SIMHASH_COUNTS = VersionedArtifact(
    name="simhash_counts",
    prefix="_bks_shcounts_",
    policy=f"r11:sh{SIM_BITS}",
    rows=lambda docs: (
        simhash_fingerprints(docs)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_old"))
    ),
    mor=("simhash", "n_old"),
)
ensure_simhash_counts = SIMHASH_COUNTS.ensure
roll_forward_simhash_counts = SIMHASH_COUNTS.roll_forward


@query(
    "dedup_incremental_simhash",
    oracle=f"""
    SELECT doc_id, simhash, n_sharing FROM ({_INLINE_ORACLE})
    WHERE doc_id >= {BOUNDARY}
    """,
)
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELTA's SimHash rows — (doc_id, simhash, n_sharing) with
    n_sharing counted over the COMBINED corpus — computed by hashing only
    the delta and adding version N's persisted per-fingerprint counts.
    The oracle is the inline channel's oracle restricted to the delta's
    rows, so the driver row proves the stored statistic + delta counts
    reproduce the full recompute exactly."""
    return incremental_simhash_rows(spark, sf_dir)


def incremental_simhash_rows(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    counts_tbl: str | None = None,
) -> DataFrame:
    """Parameterized body — ``counts_tbl`` accepts a
    :func:`roll_forward_simhash_counts` fold so day D+1 runs on day D's
    fold. Shape: one delta tokenize/hash pass, a delta-keyed
    per-fingerprint count, and a left join against the stored statistic
    (broadcastable: one row per distinct historical fingerprint)."""
    stored = spark.table(
        counts_tbl
        if counts_tbl is not None
        else ensure_simhash_counts(spark, sf_dir, boundary)
    )
    d = load(spark, sf_dir, "documents")
    fps = simhash_fingerprints(spread_delta(d.filter(F.col("doc_id") >= boundary)))
    from pyspark.sql import Window

    # merge-on-read: the stored statistic may be segmented (link-forward
    # fold); restrict to the delta's fingerprints, then sum per key —
    # one row per fingerprint BEFORE the per-doc join, or the join would
    # duplicate delta rows against a segmented table.
    old_counts = probe_counts(stored, fps, "simhash", "n_old")
    delta_share = F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    return (
        fps.withColumn("n_delta", delta_share)
        .join(old_counts, "simhash", "left")
        .select(
            "doc_id",
            "simhash",
            (
                F.col("n_delta") + F.coalesce(F.col("n_old"), F.lit(0))
            ).alias("n_sharing"),
        )
    )
