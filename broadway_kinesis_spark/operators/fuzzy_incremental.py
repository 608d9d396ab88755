"""Batch incremental corpus-version dedup — FUZZY (edit-distance) channel
(round 11, session 3).

The fuzzy channel (``dedup.dedup_fuzzy_prefix``) finds documents whose
normalized {PREFIX_N}-char prefixes are within {EDIT_T} edits, blocked on
(lang, size-bucket) so pair generation is per-block quadratic, never
corpus-wide. Its incremental form removes the quadratic's corpus term
entirely: version N persists its (doc_id, block, prefix) projection, and
an arriving delta generates ``delta_rows × block_rows`` candidate pairs
(its prefixes against version N's in the same block, plus the delta's
own self-join) — the per-block quadratic is paid only over the delta.
The per-pair work stays the measured-and-adopted BANDED threshold
Levenshtein (``levenshtein(l, r, {EDIT_T})``, the r8 head-to-head in
dedup.py's module note).

Persisted artifact (:func:`ensure_fuzzy_prefixes`): ``(doc_id, blk,
pfx)`` — 40-ish bytes per document (the prefix IS the channel's whole
signature, so the artifact replaces any re-read of version-N text). The
two blocking columns pack into one join key ``blk = lang || ':' ||
size_bucket`` — injective because size_bucket is numeric, so the
substring after the LAST colon parses back unambiguously — and the table
buckets by ``blk``, so delta probes sort-merge against the stored side
without shuffling it (the incremental layout protocol).

Pairs the delta introduces are exactly ``d2 >= boundary`` (version-N ids
all sit below every delta id and pairs are (d1 < d2)), so the registered
oracle is the INLINE channel's oracle — read from the registry at module
load — wrapped in that one restriction.

Roll-forward: :func:`roll_forward_fuzzy_prefixes` appends the delta's
prefix rows to version N's table → N+1 (a signature table with no
cross-row statistic, so the fold is a pure union — the band-table fold
shape). fold == scratch and probe-on-rolled == probe-on-scratch pinned
by tests/test_round11_s3_channels.py.

Reference parity: [TGT] — engine extension (SURVEY §2.B dedup family;
the reference has no relational surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.functions.versioned_fold import (
    BOUNDARY,
    VersionedArtifact,
)
from broadway_kinesis_spark.operators import dedup as _dedup  # noqa: F401 (registers the inline twin)
from broadway_kinesis_spark.operators.dedup import EDIT_T, PREFIX_N
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: bucket count for the persisted prefix table (the protocol knob).
PFX_BUCKETS = 8

#: the inline channel's oracle OBJECT — importing operators.dedup above ran
#: its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_fuzzy_prefix"].oracle


def _prefixes(docs: DataFrame) -> DataFrame:
    """(doc_id, blk, tok0, pfx) — the inline channel's blocked, normalized
    prefix projection with (lang, size_bucket) packed into the single
    injective key ``blk``; ``tok0`` (the prefix's first whitespace token)
    is the TIGHT tier's extra blocking key (round 12, VERDICT r11 #2 —
    the r8-built, recall-priced knob the probe can now apply)."""
    sb = (F.col("n_chars") / 50).cast("long")
    pfx = F.substring(F.lower("text"), 1, PREFIX_N)
    return docs.select(
        "doc_id",
        F.concat_ws(":", F.col("lang"), sb).alias("blk"),
        F.split(pfx, " ").getItem(0).alias("tok0"),
        pfx.alias("pfx"),
    )


#: the blocked prefix table, bucketed by the packed block key so delta
#: probes never shuffle the stored side; a fold is a pure append
FUZZY_PREFIXES = VersionedArtifact(
    name="fuzzy_prefixes",
    prefix="_bks_fzpfx_",
    policy=f"r12:fz{PREFIX_N}e{EDIT_T}t0:b{PFX_BUCKETS}",
    rows=_prefixes,
    bucket_by=(PFX_BUCKETS, "blk"),
)
ensure_fuzzy_prefixes = FUZZY_PREFIXES.ensure
roll_forward_fuzzy_prefixes = FUZZY_PREFIXES.roll_forward


@query(
    "dedup_incremental_fuzzy",
    oracle=f"""
    SELECT d1, d2, edit_dist FROM ({_INLINE_ORACLE}) WHERE d2 >= {BOUNDARY}
    """,
)
def dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-dup pairs the DELTA introduces — pairs
    within {EDIT_T} prefix edits with at least one delta side — computed
    by probing version N's persisted prefix table with the delta's
    prefixes, so pair volume is delta × block, never block². The oracle
    is the inline channel's oracle restricted to ``d2 >= {BOUNDARY}``."""
    return incremental_fuzzy_pairs(spark, sf_dir)


@query(
    "dedup_incremental_fuzzy_tight",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, lang, n_chars // 50 AS size_bucket,
               string_split(substr(lower(text), 1, {PREFIX_N}), ' ')[1] AS tok0,
               substr(lower(text), 1, {PREFIX_N}) AS pfx
        FROM documents
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           levenshtein(a.pfx, b.pfx) AS edit_dist
    FROM p a
    JOIN p b ON a.lang = b.lang AND a.size_bucket = b.size_bucket
            AND a.tok0 = b.tok0 AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= {EDIT_T} AND b.doc_id >= {BOUNDARY}
    """,
)
def dedup_incremental_fuzzy_tight(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The deployment tier of the fuzzy incremental probe (round 12,
    VERDICT r11 #2): same persisted prefix artifact, probe blocked on
    (blk, tok0) — the first-prefix-token key whose recall against the
    exhaustive channel ``composite_fuzzy_blocking_recall`` prices on the
    actual corpus. The oracle recomputes the TIGHT channel from scratch
    restricted to delta-touching pairs, so the driver row proves the
    persisted table + tight probe serve exactly the tight contract."""
    return incremental_fuzzy_pairs(spark, sf_dir, tight=True)


def incremental_fuzzy_pairs(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    pfx_tbl: str | None = None,
    tight: bool = False,
    blocking: str | None = None,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_fuzzy`` — scale runs
    place ``boundary`` per corpus; ``pfx_tbl`` overrides the version-N
    artifact with a :func:`roll_forward_fuzzy_prefixes` fold so day
    D+1's delta probes day D's fold.

    Shape: the delta's prefixes are one projection of the delta's text
    (no decode, no shuffle); the stored side joins FIRST on the packed
    block key (bucketed scan — only the delta side exchanges), the
    delta's self-join union's AFTER for new-new pairs, and the banded
    threshold Levenshtein verifies each candidate in O({EDIT_T}·L).

    ``tight=True`` is the deployment blocking tier (round 12, VERDICT r11
    #2): the join key extends to (blk, tok0) — the inline channel's
    first-prefix-token key, recall priced on the actual corpus by
    ``composite_fuzzy_blocking_recall``. The loose probe's per-delta-doc
    candidate count is the BLOCK size, which tracks the corpus (the one
    incremental channel whose probe grew 23× across the r11 x10→x100
    decade); the tight key caps the block at a first-token group, the
    same population the inline tight tier verifies.

    ``blocking`` overrides the tier by name (round 13, VERDICT r12 #4 —
    the recall gap between loose and tight needed a measured middle
    point): ``"loose"`` / ``"tight"`` as above, or ``"mid"`` — the join
    key extends to (blk, first-4-prefix-chars), DERIVED from the stored
    ``pfx`` at probe time (no schema change, so it runs against any
    version's artifact). A first-token edit no longer evicts the pair
    unless it hits the first 4 characters; recall/wall pricing rows per
    corpus live in BASELINE.md §round-13."""
    if blocking is None:
        blocking = "tight" if tight else "loose"
    stored = spark.table(
        pfx_tbl
        if pfx_tbl is not None
        else ensure_fuzzy_prefixes(spark, sf_dir, boundary)
    )
    d = load(spark, sf_dir, "documents")
    delta_pfx = _prefixes(d.filter(F.col("doc_id") >= boundary))
    if blocking == "mid":
        stored = stored.withColumn("k4", F.substring("pfx", 1, 4))
        delta_pfx = delta_pfx.withColumn("k4", F.substring("pfx", 1, 4))
    key = {"loose": ["blk"], "tight": ["blk", "tok0"], "mid": ["blk", "k4"]}[
        blocking
    ]

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(f"d{tag}"),
            F.col("pfx").alias(f"pfx{tag}"),
            *key,
        )

    b = side(delta_pfx, "2")
    old_cand = side(stored, "1").join(b, key)
    new_cand = side(delta_pfx, "1").join(b, key)
    cand = old_cand.unionByName(new_cand).filter(F.col("d1") < F.col("d2"))
    dist = F.levenshtein("pfx1", "pfx2", EDIT_T)
    return cand.select("d1", "d2", dist.alias("edit_dist")).filter(
        F.col("edit_dist") >= 0
    )
