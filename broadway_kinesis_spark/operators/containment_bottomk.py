"""Bottom-K containment probing — the scale tier for sub-document dedup.

``dedup_containment`` probes the inverted index with EVERY shingle of
every document; at fresh-x100 that candidate shuffle exceeds local spill
(BASELINE.md round-6 note) because volume is Σ min(DF, cap)·cap. This
operator is the documented knob built out: each document probes with
only its BOTTOM-K shingles (the K smallest by md5 — a bottom-K sketch,
the classic mergeable sample of a set), so candidate volume drops to
K·DF per document — a corpus-size-independent per-doc bound — while a
document 80% contained in another still shares a probe shingle with
probability ~1 − 0.2^K (≈ 1 − 3e-12 at K = {K_BOTTOM}).

The operator's SEMANTICS are the bottom-K probe itself (the oracle
mirrors the sketch exactly, so hash equality is by definition, not a
probabilistic claim — the ADVICE r5 lesson about honest docstrings):
pairs are (contained, container) where a bottom-{K_BOTTOM} probe shingle
of the contained doc hits the container's capped index AND full-set
containment verifies >= {C_T}. Against the exhaustive operator the only
possible difference is a candidate whose ENTIRE bottom-K misses the
container — the crafted test pins equality on excerpt constructions.

Probe selection is a zero-shuffle projection: sort md5(shingle)||shingle
(hex is fixed-width, so lexicographic order == hash order, and appending
the shingle makes keys distinct) and slice the first K — no window, no
exchange. The candidate join is directional by construction: probe side
= potential contained doc, index side = potential container.

The index probed is shared, not rebuilt: ``dedup._capped_index`` gives
this operator the same cached shingle arrays and DF-capped index (with
the same partition sizing and scan spread) as ``dedup_ngram_jaccard``
and ``dedup_containment``. Only the bottom-K probe, the candidate join
and the full-array verify live here.

Reference parity: [TGT] — engine extension (SURVEY §2.B dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.operators.containment import C_T
from broadway_kinesis_spark.operators.dedup import (
    DF_CAP,
    _SQL_SHINGLES,
    _capped_index,
)
from broadway_kinesis_spark.registry import query

K_BOTTOM = 16

#: CTE fragment ending in ``ctk(d1, d2)`` — the UNDIRECTED normalization of
#: the bottom-K tier's directional pairs (either direction clearing {C_T}
#: emits the (least, greatest) edge). Composes after clustering.py's
#: ``SQL_CHANNEL_CTES``: it reuses that chain's ``shingled`` arrays and its
#: DF-capped ``idx`` (identical to this module's ``capped``), so the
#: constants rewrite both engines in lockstep. Consumed by the leakage-safe
#: split's TIERED oracle (operators/splits.py).
SQL_BOTTOMK_EDGE_CTES = f"""
    bkp AS (
        SELECT doc_id,
               list_transform(
                   list_sort(list_transform(shingles, s -> md5(s) || s))[1:{K_BOTTOM}],
                   e -> substr(e, 33)
               ) AS probes
        FROM shingled
    ), bkpe AS (
        SELECT doc_id, UNNEST(probes) AS shingle FROM bkp
    ), bkcand AS (
        SELECT DISTINCT p.doc_id AS contained_id, i.doc_id AS container_id
        FROM bkpe p JOIN idx i
          ON p.shingle = i.shingle AND p.doc_id <> i.doc_id
    ), bksc AS (
        SELECT c.contained_id, c.container_id,
               CAST(len(list_intersect(x1.shingles, x2.shingles)) AS BIGINT) AS ni,
               CAST(len(x1.shingles) AS BIGINT) AS n1
        FROM bkcand c
        JOIN shingled x1 ON x1.doc_id = c.contained_id
        JOIN shingled x2 ON x2.doc_id = c.container_id
    ), ctk AS (
        SELECT least(contained_id, container_id) AS d1,
               greatest(contained_id, container_id) AS d2
        FROM bksc
        WHERE CAST(ni AS DOUBLE) / n1 >= {C_T}
    )"""


@query(
    "dedup_containment_bottomk",
    oracle=f"""
    WITH shingled AS ({_SQL_SHINGLES}),
    probe AS (
        SELECT doc_id,
               list_transform(
                   list_sort(list_transform(shingles, s -> md5(s) || s))[1:{K_BOTTOM}],
                   e -> substr(e, 33)
               ) AS probes
        FROM shingled
    ), pe AS (
        SELECT doc_id, UNNEST(probes) AS shingle FROM probe
    ), idx AS (
        SELECT doc_id, UNNEST(shingles) AS shingle FROM shingled
    ), capped AS (
        SELECT doc_id, shingle FROM idx
        QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
    ), cand AS (
        SELECT DISTINCT p.doc_id AS contained_id, i.doc_id AS container_id
        FROM pe p JOIN capped i
          ON p.shingle = i.shingle AND p.doc_id <> i.doc_id
    ), scored AS (
        SELECT c.contained_id, c.container_id,
               CAST(len(list_intersect(x1.shingles, x2.shingles)) AS BIGINT) AS ni,
               CAST(len(x1.shingles) AS BIGINT) AS n1
        FROM cand c
        JOIN shingled x1 ON x1.doc_id = c.contained_id
        JOIN shingled x2 ON x2.doc_id = c.container_id
    )
    SELECT contained_id, container_id,
           CAST(ni AS DOUBLE) / n1 AS containment
    FROM scored
    WHERE CAST(ni AS DOUBLE) / n1 >= {C_T}
    """,
)
def dedup_containment_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional sub-document duplication through a bottom-{K_BOTTOM}
    sketch probe: candidate volume bounded by K·DF per document, exact
    full-set containment verify >= {C_T}."""
    shingled, _, _, capped = _capped_index(spark, sf_dir)
    keyed = F.transform("shingles", lambda s: F.concat(F.md5(s), s))
    probes = F.transform(
        F.slice(F.array_sort(keyed), 1, K_BOTTOM), lambda e: F.substring(e, 33, 1 << 20)
    )
    pe = shingled.select(
        "doc_id", F.explode(probes).alias("shingle")
    )
    cand = (
        pe.select(F.col("doc_id").alias("contained_id"), "shingle")
        .join(
            capped.select(F.col("doc_id").alias("container_id"), "shingle"),
            "shingle",
        )
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
        .cache()  # read twice: candidate-doc pruning + verification join
    )
    # Verify arrays for CANDIDATE docs only (round 14 — the minhash/
    # incremental channels' pruning pattern): the verify joins otherwise
    # shuffle every corpus document's full shingle array. The probe's
    # whole point is that candidates are K·DF-bounded, so the pruned set
    # is small by construction. (The ngram verify-SPLIT does not port
    # here: candidates come from the bottom-K probe sketch, not the
    # capped index, so the shared-uncapped count is not a free byproduct
    # of candidate generation — computing it would cost a second
    # index-shaped join that exceeds the per-pair intersect it replaces.)
    cand_docs = (
        cand.select(F.col("contained_id").alias("doc_id"))
        .union(cand.select(F.col("container_id").alias("doc_id")))
        .distinct()
    )
    verify_sh = shingled.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    x1 = verify_sh.select(
        F.col("doc_id").alias("contained_id"), F.col("shingles").alias("sh1")
    )
    x2 = verify_sh.select(
        F.col("doc_id").alias("container_id"), F.col("shingles").alias("sh2")
    )
    cont = F.size(F.array_intersect("sh1", "sh2")).cast("long").cast(
        "double"
    ) / F.size("sh1").cast("long")
    return (
        cand.join(x1, "contained_id")
        .join(x2, "container_id")
        .select(
            "contained_id",
            "container_id",
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= C_T)
    )
