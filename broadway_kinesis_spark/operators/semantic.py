"""Semantic (embedding-space) deduplication — SemDedup-style.

Complements the syntactic near-dup family in ``operators/dedup.py``: where
minhash/simhash/jaccard find documents that SHARE SURFACE TEXT, semantic
dedup finds documents that say the same thing in different words — the
embedding space is the blocking structure, and the blocking key is LEARNED
from the data (nearest seed centroid) instead of given (label, band, or
shingle). The vector projection and the chunked candidate kernel are the
embedding near-dup family's own (``dedup.vec_norms``,
``dedup.cosine_candidates``), shared with ``dedup_embedding_cosine`` and
both incremental channels.

Reference parity: [TGT] — the reference has no dedup surface; engine
extension per the BASELINE.json north star (SemDedup: Abbas et al. 2023,
public literature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from broadway_kinesis_spark.operators.dedup import cosine_candidates, vec_norms
from broadway_kinesis_spark.operators.similarity import _dot, _sql_dot
from broadway_kinesis_spark.registry import query
from broadway_kinesis_spark.session import load

SEM_K = 8       # semantic-dedup coarse clusters (seed centroids)
SEM_T = 0.35    # within-cluster near-dup cosine threshold

def sql_sem_pair_ctes(threshold: float = SEM_T) -> str:
    """CTE chain ending in ``sm(d1, d2)`` — the verified within-cluster
    semantic near-dup pairs (d1 < d2) at the given cosine threshold.
    Names are ``sm``-prefixed so the chain composes with the document
    channels' CTEs (clustering.py / containment.py) inside one WITH
    without collisions; shared by this module's oracle and the
    leakage-safe split's (operators/splits.py), which passes its own
    paraphrase-level threshold."""
    return f"""
    sme AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
        FROM embeddings
    ), smc AS (
        SELECT vec_id AS cid, v AS cv FROM sme ORDER BY vec_id LIMIT {SEM_K}
    ), smasg AS (
        SELECT vec_id, v, nrm, cid FROM (
            SELECT sme.vec_id, sme.v, sme.nrm, smc.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY sme.vec_id
                       ORDER BY list_sum(list_transform(list_zip(sme.v, smc.cv),
                                         x -> (x[1]-x[2])*(x[1]-x[2]))), smc.cid
                   ) AS rn
            FROM sme, smc
        ) WHERE rn = 1
    ), sm AS (
        SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM smasg a JOIN smasg b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
         AND {_sql_dot('a.v', 'b.v')} / (a.nrm * b.nrm) >= {threshold}
    )"""


SQL_SEM_PAIR_CTES = sql_sem_pair_ctes()


@query(
    "dedup_semantic",
    oracle=f"""
    WITH {SQL_SEM_PAIR_CTES}
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster,
           d.vec_id IS NULL AS keep
    FROM smasg a
    LEFT JOIN (SELECT DISTINCT d2 AS vec_id FROM sm) d ON a.vec_id = d.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023, public):
    coarsely cluster the embedding space, then drop all but one member of
    every within-cluster near-duplicate group. Differs from
    ``dedup_embedding_cosine`` (given label blocks, pair OUTPUT) in both
    halves: the blocking key is LEARNED from the data (nearest of
    {SEM_K} seed centroids — the ids-first seeding is deterministic so
    both engines build the identical partition), and the output is a
    per-vector keep/drop decision (greedy keep-lowest-id within each
    near-dup neighborhood), i.e. the curation decision a corpus build
    actually materializes.

    Exactness: distances and the verify-tier cosines use the same
    sequential-fold float64 dot as the rest of the similarity family
    (bitwise-equal to DuckDB's ``list_sum``/``list_transform``); the
    argmin window breaks distance ties on centroid id, so assignment is
    deterministic in both engines. Candidate generation runs the family's
    chunked numpy matmul kernel per cluster with a 1e-9 slack below
    {SEM_T} (matmul and fold agree to ~1e-15 relative, so no true
    duplicate can be missed), and the exact fold re-scores only the
    candidates — the same two-tier shape and the same kernel as
    ``dedup_embedding_cosine``, which is what keeps the
    quadratic-in-cluster-size work at memory bandwidth instead of in the
    interpreted expression evaluator (the fold-only form measured 18x at
    the x10 corpus; this form is matmul-bound).

    Scale posture: assignment is a broadcast nested-loop over {SEM_K}
    centroid rows (a projection — no shuffle of the vectors); candidate
    pairs come from a per-cluster Arrow batch, so pair work is bounded
    by cluster size, never corpus-wide, and the kernel's transient
    matrix by ``_KERNEL_CHUNK × cluster_rows``; the final keep flag is a
    left join against the (small) duplicate-id set. At 100 TB the seeds come
    from the persisted k-means index (operators/ann_persist.py) and the
    cluster count scales WITH corpus size (K ∝ N) so cluster sizes — and
    with them the per-task matmul — stay constant; the fixed {SEM_K}
    here is fixture-sized, not the deployment setting."""
    asg = _assignments(spark, sf_dir)
    dup = (
        semantic_dup_pairs(spark, sf_dir, asg=asg)
        .select(F.col("d2").alias("dup_id"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        asg.join(dup, asg.vec_id == dup.dup_id, "left")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cluster"),
            F.col("is_dup").isNull().alias("keep"),
        )
    )


def assign_to_centroids(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each (vec_id, v, nrm) row to its nearest centroid from the
    given (cid, cv) set: sequential-fold float64 squared distance, ties
    broken on centroid id, so assignment is deterministic in both engines."""
    sqdist = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cid"))
    )
    return (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("dist", sqdist)
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", "cid")
    )


def seeded_assignments(e: DataFrame) -> DataFrame:
    """(vec_id, v, nrm, cid) — each vector of an embeddings frame with its
    nearest seed centroid; the seeds are the frame's lowest {SEM_K}
    vec_ids."""
    vecs = vec_norms(e)
    c = (
        vecs.orderBy("vec_id")
        .limit(SEM_K)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    return assign_to_centroids(vecs, c)


def _assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return seeded_assignments(load(spark, sf_dir, "embeddings"))


def semantic_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    asg: DataFrame | None = None,
    threshold: float = SEM_T,
) -> DataFrame:
    """Verified within-cluster semantic near-dup pairs (d1, d2), d1 < d2 —
    the SQL twin is ``sql_sem_pair_ctes(threshold)``'s ``sm``. Two-tier as
    in the module docstring: per-cluster candidates from the family's
    chunked kernel (``dedup.cosine_candidates``, every vector a delta) at
    a 1e-9 slack, then the exact sequential-fold cosine as the emit
    filter, so the pair set is defined by the fold (bitwise-equal to
    DuckDB) in both engines. Shared with the leakage-safe split's evidence union
    (splits.py), which passes a paraphrase-level threshold: the cosine
    that means "near-duplicate" is a PER-CORPUS property — {SEM_T} is
    tuned for the near-orthogonal fixture tail and, measured on the
    label-clustered fresh x10 corpus, emits 14.68 M within-cluster pairs
    (ball density / topic membership, not dup structure — the round-6
    fingerprint lesson in embedding space)."""
    if asg is None:
        asg = _assignments(spark, sf_dir)
    cand = cosine_candidates(
        asg.select("*", F.lit(True).alias("is_delta")), "cid", threshold
    )
    va = asg.select(
        F.col("vec_id").alias("d1"), F.col("v").alias("v_a"),
        F.col("nrm").alias("nrm_a"),
    )
    vb = asg.select(
        F.col("vec_id").alias("d2"), F.col("v").alias("v_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = _dot(F.col("v_a"), F.col("v_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(va, "d1")
        .join(vb, "d2")
        .filter(cos >= threshold)
        .select("d1", "d2")
    )
