"""Containment dedup — the asymmetric Jaccard the symmetric family misses.

A 40-word excerpt quoted inside a 4000-word page has Jaccard ≈ 0.01 and
sails through every symmetric near-dup pass (MinHash, SimHash, n-gram
Jaccard all threshold the SYMMETRIC overlap), yet it is exactly the
sub-document duplication CCNet/RefinedWeb-style curation wants flagged:
containment(A→B) = |A∩B| / |A| is ~1 whenever A's shingles live inside
B, regardless of how much bigger B is.

Everything up to the score is ``dedup_ngram_jaccard``'s pipeline, shared
as one function: ``dedup._pair_overlap`` (over ``dedup._capped_index``)
builds the 3-gram shingle arrays, the DF-capped inverted index — a
shingle in more than DF_CAP docs is a stop shingle — the candidate pairs
and their exact |A∩B| with both set sizes. This module only scores them
DIRECTIONALLY: each unordered candidate pair verifies both ways and emits
a (contained, container) row per direction clearing C_T. The division is
one exact int/int per row, identical in both engines.

Scale posture: the ngram operator's, by construction (candidate volume is
bounded by the DF cap; the scale guards are documented on the shared
functions).

Reference parity: [TGT] — engine extension (SURVEY §2.B dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.operators.dedup import (
    DF_CAP,
    _SQL_SHINGLES,
    _pair_overlap,
)
from broadway_kinesis_spark.registry import query

C_T = 0.8  # containment threshold: >= 80% of the contained doc's shingles

#: CTE fragment ending in ``ct(d1, d2)`` — the UNDIRECTED normalization of
#: this operator's directional pairs (a pair appears once, d1 < d2, if
#: EITHER direction clears {C_T}). Composes after clustering.py's
#: ``SQL_CHANNEL_CTES`` (it joins that chain's ``cand``/``shingled``);
#: the containment score is the same CAST-to-DOUBLE division as the
#: registered oracle below, so the pair set is bit-identical to
#: ``dedup_containment``'s normalized output. Consumed by the
#: leakage-safe split's oracle (operators/splits.py).
SQL_CONTAIN_EDGE_CTES = f"""
    ctsc AS (
        SELECT c.d1, c.d2,
               CAST(len(list_intersect(x1.shingles, x2.shingles)) AS BIGINT) AS ni,
               CAST(len(x1.shingles) AS BIGINT) AS n1,
               CAST(len(x2.shingles) AS BIGINT) AS n2
        FROM cand c
        JOIN shingled x1 ON x1.doc_id = c.d1
        JOIN shingled x2 ON x2.doc_id = c.d2
    ), ct AS (
        SELECT d1, d2 FROM ctsc
        WHERE CAST(ni AS DOUBLE) / n1 >= {C_T}
           OR CAST(ni AS DOUBLE) / n2 >= {C_T}
    )"""


@query(
    "dedup_containment",
    oracle=f"""
    WITH shingled AS ({_SQL_SHINGLES}),
    idx AS (
        SELECT doc_id, UNNEST(shingles) AS shingle FROM shingled
    ), capped AS (
        SELECT doc_id, shingle FROM idx
        QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM capped a JOIN capped b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ), scored AS (
        SELECT c.d1, c.d2,
               CAST(len(list_intersect(x1.shingles, x2.shingles)) AS BIGINT) AS ni,
               CAST(len(x1.shingles) AS BIGINT) AS n1,
               CAST(len(x2.shingles) AS BIGINT) AS n2
        FROM cand c
        JOIN shingled x1 ON x1.doc_id = c.d1
        JOIN shingled x2 ON x2.doc_id = c.d2
    )
    SELECT contained_id, container_id, containment FROM (
        SELECT d1 AS contained_id, d2 AS container_id,
               CAST(ni AS DOUBLE) / n1 AS containment
        FROM scored
        UNION ALL
        SELECT d2 AS contained_id, d1 AS container_id,
               CAST(ni AS DOUBLE) / n2 AS containment
        FROM scored
    ) WHERE containment >= {C_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional sub-document duplication: (contained, container) pairs
    where >= {C_T} of the contained doc's 3-gram shingles appear in the
    container — including excerpt-in-page pairs symmetric Jaccard misses."""
    pairs, ni = _pair_overlap(spark, sf_dir)
    scored = pairs.select(
        "d1",
        "d2",
        ni.cast("long").alias("ni"),
        F.col("s1").cast("long").alias("n1"),
        F.col("s2").cast("long").alias("n2"),
    )
    fwd = scored.select(
        F.col("d1").alias("contained_id"),
        F.col("d2").alias("container_id"),
        (F.col("ni").cast("double") / F.col("n1")).alias("containment"),
    )
    rev = scored.select(
        F.col("d2").alias("contained_id"),
        F.col("d1").alias("container_id"),
        (F.col("ni").cast("double") / F.col("n2")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= C_T)
