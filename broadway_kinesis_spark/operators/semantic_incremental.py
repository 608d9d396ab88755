"""Batch incremental corpus-version dedup — SEMANTIC (SemDedup) channel
(round 11, session 3).

``dedup_semantic`` (operators/semantic.py) is the curation decision in
embedding space: cluster on the nearest of {SEM_K} seed centroids, then
keep only the lowest-id member of every within-cluster near-duplicate
neighborhood. Its incremental form is the frozen-quantizer discipline
(``ann_incremental``'s IVF contract) applied to SemDedup: version N
persists its ASSIGNMENTS table, a delta of vectors assigns to version
N's centroids FROZEN, probes only the stored members of the clusters it
touches, and each delta vector gets its keep/drop decision — version N's
vectors are never re-assigned and never re-scored against each other.

Why the frozen contract is EXACT here (not merely declared, as IVF must):
the inline channel's seeds are the lowest {SEM_K} vec_ids of the corpus,
and every version-N id sits below every delta id — so version N's seed
set IS the full corpus's seed set whenever version N holds at least
{SEM_K} vectors. Freezing loses nothing; the wrapped oracle (the inline
oracle restricted to ``vec_id >= boundary``) states full-recompute
equality, and the driver row proves it.

Why a delta vector's keep flag needs no old-old comparison: keep(v) is
false iff some SAME-CLUSTER vector with a SMALLER id sits within cosine
{SEM_T} of v. Every version-N id is smaller than every delta id, so the
candidate set for a delta vector is (stored members of its cluster) ∪
(delta members with smaller id) — exactly what the family's kernel
(``dedup.cosine_candidates``, the inline twin's own) keeps when only the
delta rows are marked: it scores ``delta_rows × block_rows``, where the
inline query, marking every row, scores ``block_rows²``.

Persisted artifact (:func:`ensure_semantic_assignments`): ``(vec_id, v,
nrm, cid)`` — the assignment table a SemDedup deployment carries anyway
(assignment is the expensive pass at real K). Roll-forward
(:func:`roll_forward_semantic_assignments`): the delta's frozen-centroid
assignments union in → N+1; fold == scratch EXACTLY by the seed argument
above, pinned by tests/test_round11_s3_channels.py.

Reference parity: [TGT] — engine extension (SURVEY §2.B dedup family;
SemDedup: Abbas et al. 2023, public literature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.functions.versioned_fold import (
    BOUNDARY,
    VersionedArtifact,
)
from broadway_kinesis_spark.operators.dedup import cosine_candidates, vec_norms
from broadway_kinesis_spark.operators.semantic import (
    SEM_K,
    SEM_T,
    assign_to_centroids,
    seeded_assignments,
)
from broadway_kinesis_spark.operators.similarity import _dot
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: the inline channel's oracle OBJECT — importing operators.semantic above
#: ran its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_semantic"].oracle


def stored_centroids(stored: DataFrame) -> DataFrame:
    """Version N's frozen quantizer, read off the persisted assignment
    table: the seeds are the lowest {SEM_K} vec_ids, whose own rows carry
    their vectors (parquet round-trips the doubles bitwise)."""
    return (
        stored.orderBy("vec_id")
        .limit(SEM_K)
        .select(F.col("vec_id").alias("cid2"), F.col("v").alias("cv"))
        .select(F.col("cid2").alias("cid"), "cv")
    )


#: a fold assigns the delta under version N's FROZEN centroids, so fold ==
#: scratch EXACTLY (the seed-set argument in the module note)
SEMANTIC_ASSIGNMENTS = VersionedArtifact(
    name="semantic_assignments",
    prefix="_bks_semasg_",
    policy=f"r11s3:semasg:k{SEM_K}",
    rows=seeded_assignments,
    source="embeddings",
    fold_rows=lambda e, stored: assign_to_centroids(
        vec_norms(e), stored_centroids(stored)
    ),
)
ensure_semantic_assignments = SEMANTIC_ASSIGNMENTS.ensure
roll_forward_semantic_assignments = SEMANTIC_ASSIGNMENTS.roll_forward


@query(
    "dedup_incremental_semantic",
    oracle=f"""
    SELECT vec_id, cluster, keep FROM ({_INLINE_ORACLE})
    WHERE vec_id >= {BOUNDARY}
    """,
)
def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELTA's SemDedup curation rows — (vec_id, cluster, keep) with
    the keep decision taken against the COMBINED corpus — computed by
    assigning only the delta under version N's frozen centroids and
    scoring it against the stored members of the clusters it touches.
    The oracle is the inline channel's oracle restricted to ``vec_id >=
    {BOUNDARY}``, so the driver row proves frozen-quantizer incremental
    == full recompute on this corpus."""
    return incremental_semantic_rows(spark, sf_dir)


def incremental_semantic_rows(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    asg_tbl: str | None = None,
    threshold: float = SEM_T,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_semantic`` — scale runs
    place ``boundary`` per corpus; ``asg_tbl`` overrides the version-N
    artifact with a :func:`roll_forward_semantic_assignments` fold so day
    D+1's delta runs on day D's fold. ``threshold`` is a PER-CORPUS
    property (the round-7 ridge discipline — {SEM_T} is fixture-tuned).

    Shape: delta assignment is a broadcast nested-loop over the {SEM_K}
    frozen centroid rows (a projection of the delta — no vector shuffle);
    the stored side LEFT-SEMI prunes to the delta's cluster set
    (broadcast — a delta touches few clusters); the per-cluster Arrow
    kernel (``dedup.cosine_candidates``) scores ``delta_rows × block_rows``;
    the exact sequential-fold cosine re-scores candidates so the decision
    boundary is bitwise the oracle's."""
    stored = spark.table(
        asg_tbl
        if asg_tbl is not None
        else ensure_semantic_assignments(spark, sf_dir, boundary)
    )
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= boundary)
    delta = assign_to_centroids(vec_norms(e), stored_centroids(stored))
    # the kernel + verify consume the delta's assignments twice and the
    # keep join a third time — materialize once, delta-bounded.
    delta = delta.localCheckpoint(eager=True)
    delta_cids = delta.select("cid").distinct()
    old = stored.join(F.broadcast(delta_cids), "cid", "left_semi")
    blocks = old.withColumn("is_delta", F.lit(False)).unionByName(
        delta.withColumn("is_delta", F.lit(True))
    )
    cand = cosine_candidates(blocks, "cid", threshold)
    # exact verify: same fold-order float64 cosine as the inline twin and
    # the oracle's list_sum — the emit filter defines the pair set.
    va = blocks.select(
        F.col("vec_id").alias("d1"), F.col("v").alias("v1"),
        F.col("nrm").alias("n1"),
    )
    vb = delta.select(
        F.col("vec_id").alias("d2"), F.col("v").alias("v2"),
        F.col("nrm").alias("n2"),
    )
    cos = _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    dup = (
        cand.join(va, "d1")
        .join(vb, "d2")
        .filter(cos >= threshold)
        .select(F.col("d2").alias("dup_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        delta.join(dup, delta.vec_id == dup.dup_id, "left")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cluster"),
            F.col("is_dup").isNull().alias("keep"),
        )
    )
