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
(delta members with smaller id) — exactly what the delta-sided kernel
scores (``delta_rows × block_rows``, never the inline twin's block²).

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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from broadway_kinesis_spark.functions.versioned_fold import (
    BOUNDARY,
    VersionedArtifact,
)
from broadway_kinesis_spark.operators import semantic as _semantic  # noqa: F401 (registers the inline twin)
from broadway_kinesis_spark.operators.semantic import SEM_K, SEM_T, _dot
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: the inline channel's oracle OBJECT — importing operators.semantic above
#: ran its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_semantic"].oracle

#: delta rows scored per kernel step (embedding_incremental's bound: the
#: transient sim matrix stays chunk × block_rows whatever the block size).
_KERNEL_CHUNK = 4096


def _norm_vecs(e: DataFrame) -> DataFrame:
    """(vec_id, v float64[], nrm) — the inline channel's projection."""
    v = F.col("embedding").cast("array<double>")
    return e.select("vec_id", v.alias("v"), F.sqrt(_dot(v, v)).alias("nrm"))


def _assign_to(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each (vec_id, v, nrm) row to its nearest centroid from the
    given (cid, cv) set — bitwise the inline math: sequential-fold float64
    squared distance, ties broken on centroid id."""
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


def _seeded_assignments(e: DataFrame) -> DataFrame:
    """Version N's assignment rows (vec_id, v, nrm, cid) — seeds are
    version N's lowest {SEM_K} ids, which equal the full corpus's seeds
    (module note)."""
    vecs = _norm_vecs(e)
    c = (
        vecs.orderBy("vec_id")
        .limit(SEM_K)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    return _assign_to(vecs, c)


#: a fold assigns the delta under version N's FROZEN centroids, so fold ==
#: scratch EXACTLY (the seed-set argument in the module note)
SEMANTIC_ASSIGNMENTS = VersionedArtifact(
    name="semantic_assignments",
    prefix="_bks_semasg_",
    policy=f"r11s3:semasg:k{SEM_K}",
    rows=_seeded_assignments,
    source="embeddings",
    fold_rows=lambda e, stored: _assign_to(
        _norm_vecs(e), stored_centroids(stored)
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
    kernel scores ``delta_rows × block_rows`` chunked at {_KERNEL_CHUNK};
    the exact sequential-fold cosine re-scores candidates so the decision
    boundary is bitwise the oracle's."""
    import numpy as np
    import pandas as pd

    stored = spark.table(
        asg_tbl
        if asg_tbl is not None
        else ensure_semantic_assignments(spark, sf_dir, boundary)
    )
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= boundary)
    delta = _assign_to(_norm_vecs(e), stored_centroids(stored))
    # the kernel + verify consume the delta's assignments twice and the
    # keep join a third time — materialize once, delta-bounded.
    delta = delta.localCheckpoint(eager=True)
    delta_cids = delta.select("cid").distinct()
    old = stored.join(F.broadcast(delta_cids), "cid", "left_semi")
    blocks = old.withColumn("is_delta", F.lit(False)).unionByName(
        delta.withColumn("is_delta", F.lit(True))
    )
    slack = threshold - 1e-9

    def probe_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        d_mask = pdf["is_delta"].to_numpy()
        if not d_mask.any() or len(pdf) < 2:
            return pd.DataFrame({"d1": [], "d2": []}).astype("int64")
        m = np.stack(pdf["v"].to_numpy())
        u = m / pdf["nrm"].to_numpy()[:, None]
        ids = pdf["vec_id"].to_numpy()
        ud, idd = u[d_mask], ids[d_mask]
        outs = []
        for c in range(0, len(idd), _KERNEL_CHUNK):
            sim = ud[c : c + _KERNEL_CHUNK] @ u.T
            keep = (sim >= slack) & (
                ids[None, :] < idd[c : c + _KERNEL_CHUNK, None]
            )
            i, j = np.nonzero(keep)
            outs.append(pd.DataFrame({"d1": ids[j], "d2": idd[c + i]}))
        return pd.concat(outs, ignore_index=True)

    cand = blocks.groupBy("cid").applyInPandas(probe_block, "d1 long, d2 long")
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
