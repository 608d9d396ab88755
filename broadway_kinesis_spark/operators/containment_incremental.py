"""Batch incremental corpus-version dedup — CONTAINMENT channel (round 11).

Extends the daily incremental loop to the sub-document (asymmetric
Jaccard) channel, with a property the other channels don't have: the
pair is DIRECTIONAL, so a delta can appear on EITHER side — a new doc
contained in an old one (re-posted excerpt) or an old doc contained in a
new one (the delta doc is a superset page). Both directions serve from
persisted version-N artifacts:

- the inverted index + per-shingle DF statistic are the ngram channel's
  OWN artifacts, REUSED (``incremental_batch.ensure_ngram_index`` — same
  width-3 shingle geometry, stored UNCAPPED with the DF separate because
  the combined-corpus cap depends on future deltas). One persisted index
  serves two channels, which is exactly how a production pipeline
  amortizes it — and the ngram ROLL-FORWARD (fold N→N+1) carries over
  for free.
- new artifact :func:`ensure_bottomk_probes`: version N's bottom-K probe
  sketches (doc_id, shingle — the K md5-smallest shingles per doc,
  ``containment_bottomk``'s probe selection), bucketed by shingle. A
  doc's sketch never changes, so the table is version-append-only; it is
  what lets OLD docs be found as CONTAINED in a delta container without
  re-shingling version N (the probe table is K rows per historical doc —
  the "16 bytes per doc" scan-cost argument of the exact digest tier).

Candidate directions (all joins keyed by DELTA shingles, so the
version-N index side contributes O(delta_shingles × DF) rows and the
probes table semi-prunes to the delta's shingle set):

- delta-as-contained: the delta's fresh bottom-K probes join the
  combined capped index (stored rows ∪ delta rows — stored side joins
  FIRST, bucket-local);
- old-as-contained: version N's STORED probe sketches join the delta's
  capped index rows (container must be a delta doc, else the pair is
  old-old and out of scope).

The combined-corpus DF cap applies per shared shingle (stored df_old +
delta df before the cap — the incremental_batch equivalence argument);
every shared shingle of a delta-touching pair lies in the delta's
shingle set, so ONE delta-bounded ``kept`` set caps both directions.
Verification is the exact full-set containment over candidate docs only.

Oracle = the inline bottom-K channel's oracle (registry object) wrapped
in ``WHERE contained_id >= {BOUNDARY} OR container_id >= {BOUNDARY}`` —
the directional delta-touching restriction.

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
from broadway_kinesis_spark.operators.containment import C_T
from broadway_kinesis_spark.operators.containment_bottomk import K_BOTTOM
from broadway_kinesis_spark.operators import containment_bottomk as _cbk  # noqa: F401 (registers the inline twin)
from broadway_kinesis_spark.operators.dedup import DF_CAP, _shingled
from broadway_kinesis_spark.operators.incremental_batch import (
    IDX_BUCKETS,
    ensure_ngram_index,
)
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load, spread_small_scan

#: the inline channel's oracle OBJECT — importing containment_bottomk
#: above ran its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_containment_bottomk"].oracle


def _bottomk_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): each doc's bottom-K probe sketch — the exact
    zero-shuffle selection of containment_bottomk (md5||shingle sort
    keys; hex is fixed-width so lexicographic == hash order)."""
    keyed = F.transform("shingles", lambda s: F.concat(F.md5(s), s))
    probes = F.transform(
        F.slice(F.array_sort(keyed), 1, K_BOTTOM),
        lambda e: F.substring(e, 33, 1 << 20),
    )
    return _shingled(docs).select("doc_id", F.explode(probes).alias("shingle"))


#: bottom-K probe sketches, bucketed by shingle so the old-as-contained
#: direction joins the delta's index rows without shuffling the stored
#: side; a doc's sketch never changes, so a fold is a pure append. The
#: index/DF artifacts roll forward through incremental_batch.NGRAM_INDEX,
#: shared with the ngram channel.
BOTTOMK_PROBES = VersionedArtifact(
    name="bottomk_probes",
    prefix="_bks_bkprobes_",
    policy=f"r11:bk{K_BOTTOM}:w3:b{IDX_BUCKETS}",
    rows=_bottomk_rows,
    bucket_by=(IDX_BUCKETS, "shingle"),
)
ensure_bottomk_probes = BOTTOMK_PROBES.ensure
roll_forward_bottomk_probes = BOTTOMK_PROBES.roll_forward


@query(
    "dedup_incremental_containment",
    oracle=f"""
    SELECT contained_id, container_id, containment FROM ({_INLINE_ORACLE})
    WHERE contained_id >= {BOUNDARY} OR container_id >= {BOUNDARY}
    """,
)
def dedup_incremental_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Directional containment pairs the DELTA touches — bottom-K probe
    candidates with exact containment >= {C_T} and at least one delta
    side, computed from version N's persisted index/DF/probe-sketch
    artifacts in BOTH directions (delta-as-contained and
    old-as-contained). The oracle is the inline bottom-K channel's oracle
    restricted to delta-touching pairs."""
    return incremental_containment_pairs(spark, sf_dir)


def incremental_containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    idx_tbl: str | None = None,
    df_tbl: str | None = None,
    probes_tbl: str | None = None,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_containment`` — scale
    runs place ``boundary``; the three table overrides accept the
    roll-forward outputs (ngram index/DF via
    ``roll_forward_ngram_index``, probes via
    :func:`roll_forward_bottomk_probes`) so day D+1 runs on day D's
    folds."""
    if idx_tbl is None or df_tbl is None:
        idx_tbl, df_tbl = ensure_ngram_index(spark, sf_dir, boundary)
    stored_idx = spark.table(idx_tbl)
    stored_probes = spark.table(
        probes_tbl
        if probes_tbl is not None
        else ensure_bottomk_probes(spark, sf_dir, boundary)
    )
    d = load(spark, sf_dir, "documents")
    delta_docs = spread_delta(d.filter(F.col("doc_id") >= boundary))
    # One shingle pass for the delta (localCheckpoint, not cache: the
    # arrays feed the index explode, the probe selection, and transitively
    # several joins of one job — the AQE cached-plan zip failure
    # incremental_batch documents; the checkpoint is delta-sized).
    delta_sh = _shingled(delta_docs).localCheckpoint(eager=True)
    delta_idx = delta_sh.select("doc_id", F.explode("shingles").alias("shingle"))
    keyed = F.transform("shingles", lambda s: F.concat(F.md5(s), s))
    probe_sel = F.transform(
        F.slice(F.array_sort(keyed), 1, K_BOTTOM),
        lambda e: F.substring(e, 33, 1 << 20),
    )
    delta_probes = delta_sh.select(
        "doc_id", F.explode(probe_sel).alias("shingle")
    )
    # combined-corpus DF cap over the delta's shingles (every shared
    # shingle of a delta-touching pair is a delta shingle — probe sketches
    # are subsets of the doc's own shingles)
    delta_df = delta_idx.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df_new")
    )
    # merge-on-read: the shared ngram DF statistic may be segmented (a
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
    p_delta = delta_probes.join(kept, "shingle").select(
        F.col("doc_id").alias("contained_id"), "shingle"
    )
    i_delta = delta_idx.join(kept, "shingle").select(
        F.col("doc_id").alias("container_id"), "shingle"
    )
    # stored sides join their delta-bounded partners FIRST (bucket-local:
    # both stored tables are bucketed by shingle, so only the delta side
    # exchanges), and union AFTER — the plan-order lesson of the
    # fingerprint/minhash probes.
    i_old = stored_idx.join(kept, "shingle").select(
        F.col("doc_id").alias("container_id"), "shingle"
    )
    cand_a = p_delta.join(i_old, "shingle").unionByName(
        p_delta.join(i_delta, "shingle")
    )
    p_old = stored_probes.join(kept, "shingle").select(
        F.col("doc_id").alias("contained_id"), "shingle"
    )
    cand_b = p_old.join(i_delta, "shingle")
    cand = (
        cand_a.unionByName(cand_b)
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
        .cache()  # read twice — doc-id pruning + verification join —
        # without it the whole probe-join subtree re-executes per consumer
        # (round 13; the minhash channel's pattern)
    )
    # exact verify over candidate docs only (old docs re-shingle iff they
    # made a candidate pair — semi-join pruned, the shared channel bound)
    cand_docs = (
        cand.select(F.col("contained_id").alias("doc_id"))
        .union(cand.select(F.col("container_id").alias("doc_id")))
        .distinct()
    )
    # spread the pruned verify scan (round 13, no-op at scale): behind the
    # broadcast semi-join it otherwise runs the interpreted shingle
    # transform single-task over a single-row-group input
    shingled = _shingled(
        spread_small_scan(
            d.join(F.broadcast(cand_docs), "doc_id", "left_semi"),
            sf_dir,
            ("documents",),
            "doc_id",
        )
    )
    x1 = shingled.select(
        F.col("doc_id").alias("contained_id"), F.col("shingles").alias("sh1")
    )
    x2 = shingled.select(
        F.col("doc_id").alias("container_id"), F.col("shingles").alias("sh2")
    )
    cont = F.size(F.array_intersect("sh1", "sh2")).cast("long").cast(
        "double"
    ) / F.size("sh1").cast("long")
    return (
        cand.join(x1, "contained_id")
        .join(x2, "container_id")
        .select("contained_id", "container_id", cont.alias("containment"))
        .filter(F.col("containment") >= C_T)
    )
