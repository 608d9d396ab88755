"""Batch incremental corpus-VERSION dedup (VERDICT r9 #4).

The streaming sinks (streaming/incremental.py, neardup band index) handle
cross-batch increments inside a running query; this module is the BATCH
twin every production corpus build runs daily: corpus version N+1 arrives
as a delta, and the delta is deduplicated against version N's PERSISTED
artifacts — never by re-scanning version N's documents. Version N here is
``doc_id < {BOUNDARY}`` (the same yesterday/today split
``dedup_incremental`` stands on); the helpers take the boundary as a
parameter so scale runs can place it per corpus.

Two registered tiers:

- ``dedup_incremental_persisted`` — EXACT tier: the delta anti-joins
  version N's persisted distinct-digest table (16-byte md5s — the index a
  production pipeline maintains incrementally) and keeps first within
  itself. Oracle = ``dedup_incremental``'s oracle OBJECT (read from the
  registry, not copied), which recomputes both sides from scratch — so
  the driver row proves the persisted index serves exactly the
  from-scratch answer.
- ``dedup_incremental_ngram`` — NEAR-DUP tier: n-gram Jaccard pairs that
  TOUCH the delta, computed by probing version N's persisted inverted
  index (shingle → doc, stored UNCAPPED and bucketed by shingle) with the
  delta's shingles. The DF cap must match the from-scratch semantics
  (cap on the COMBINED corpus's document frequency), so the persisted
  per-shingle DF table and the delta's own DF add BEFORE capping; a
  shingle whose combined df exceeds {DF_CAP} drops exactly as the
  full recompute drops it. Pairs touching the delta are exactly
  ``d2 >= boundary`` (version-N ids all sit below every delta id and
  pairs are (d1 < d2)), which is how the from-scratch oracle states it.

Why cost tracks the DELTA, not the corpus: every join against version
N's index is keyed by shingles that APPEAR IN THE DELTA (the candidate
generation's b-side is delta-only, and the a-side semi-joins down to the
delta's shingle set before pairing), so the version-N side contributes
O(delta_shingles x DF) rows regardless of corpus size — and the bucketed
layout means the big side doesn't even shuffle (the delta exchanges into
the index's bucket layout, SMJ picks the stored sort order). Verification
joins shingle ARRAYS only for candidate docs (semi-join pruned), the same
candidate-bounded shape as minhash_pairs. Measured proof (BASELINE.md
§round-11, 90/10 boundary): the 10% delta's near-dup probe costs 18.1 s
at fresh x10 vs the 31.8 s full recompute (fixed overhead dominates at
50 k docs) and 246.9 s at fresh x100 vs 1,398.5 s — the probe/full ratio
FALLS across the decade (0.57 → 0.18) toward the delta-proportional
limit, exactly the convergence "cost tracks the delta" predicts.

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
from broadway_kinesis_spark.operators.dedup import (
    DF_CAP,
    _SQL_PAIR_VERIFY,
    _SQL_SHINGLES,
    _shingled,
    _verify_pairs,
)
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load, spread_small_scan

#: bucket count for the persisted inverted index: at fixture scale a
#: handful; a 100 TB deployment sizes this like any bucketed table
#: (target bucket ≈ one task's memory) — the PROTOCOL is what's pinned.
IDX_BUCKETS = 8


def _digest_rows(docs: DataFrame) -> DataFrame:
    """Distinct content digests (one 16-byte md5 per distinct text) — the
    exact-dedup index a production pipeline carries between corpus
    versions."""
    return docs.select(F.md5("text").alias("text_md5")).distinct()


def _new_digest_rows(delta: DataFrame, stored: DataFrame) -> DataFrame:
    # only the genuinely NEW digests are written: the delta's distinct
    # digests anti-join the stored table (hash join on 16-byte keys)
    return _digest_rows(delta).join(stored, "text_md5", "left_anti")


def _index_rows(docs: DataFrame) -> DataFrame:
    """(shingle, doc_id) rows of the inverted index, UNCAPPED: the cap
    depends on future deltas' document frequencies, so capping at build
    time would bake in a stale policy."""
    return _shingled(docs).select("doc_id", F.explode("shingles").alias("shingle"))


DIGESTS = VersionedArtifact(
    name="digests",
    prefix="_bks_digests_",
    policy="r10:md5",
    rows=_digest_rows,
    fold_rows=_new_digest_rows,
)
#: the inverted index (bucketed+sorted by shingle so delta probes join
#: without shuffling the big side) + its per-shingle document-frequency
#: companion ``df_old`` — the running statistic the combined-corpus cap
#: needs without re-aggregating the index
NGRAM_INDEX = VersionedArtifact(
    name="ngram_index",
    prefix="_bks_ngidx_",
    policy=f"r10:w3:b{IDX_BUCKETS}",
    rows=_index_rows,
    bucket_by=(IDX_BUCKETS, "shingle"),
    counts=("_bks_ngdf_", "shingle", "df_old"),
)
ensure_corpus_digests = DIGESTS.ensure
roll_forward_digests = DIGESTS.roll_forward
ensure_ngram_index = NGRAM_INDEX.ensure
roll_forward_ngram_index = NGRAM_INDEX.roll_forward


@query(
    "dedup_incremental_persisted",
    oracle=REGISTRY["dedup_incremental"].oracle,
)
def dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` served from version N's PERSISTED digest
    table: the incoming delta (doc_id >= {BOUNDARY}) left-anti joins the
    stored distinct md5s, then keeps first within itself. The oracle —
    the same OBJECT the inline query registers — recomputes the existing
    side from scratch, so the driver row proves the persisted index is
    exactly equivalent. At 100 TB the delta-sized probe side is the only
    thing scanned fresh; the digest table is 16 bytes per distinct
    historical document and the anti-join is a hash join on the
    digest."""
    return incremental_digest_dedup(spark, sf_dir)


def incremental_digest_dedup(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    digests_tbl: str | None = None,
) -> DataFrame:
    """The parameterized body of ``dedup_incremental_persisted`` — scale
    runs place ``boundary`` per corpus (e.g. 90% old / 10% delta).
    ``digests_tbl`` overrides the version-N artifact with a table produced
    by :func:`roll_forward_digests`, so day D+1's delta probes day D's
    fold instead of a fresh boundary build."""
    digests = spark.table(
        digests_tbl
        if digests_tbl is not None
        else ensure_corpus_digests(spark, sf_dir, boundary)
    )
    d = load(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") >= boundary).select(
        "doc_id", F.md5("text").alias("text_md5")
    )
    fresh = incoming.join(digests, "text_md5", "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy("text_md5").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select("doc_id", "text_md5")
    )


@query(
    "dedup_incremental_ngram",
    oracle=f"""
    WITH shingled AS ({_SQL_SHINGLES}),
    idx AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, UNNEST(shingles) AS shingle FROM shingled
        ) QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
    ), cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE b.doc_id >= {BOUNDARY}
        GROUP BY 1, 2
    ),
    {_SQL_PAIR_VERIFY}
    """,
)
def dedup_incremental_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs the DELTA introduces — n-gram Jaccard >= the channel
    threshold, restricted to pairs with at least one side in the delta —
    computed against version N's persisted index instead of re-indexing
    the corpus. The from-scratch oracle runs the full-corpus inverted
    index and keeps ``d2 >= {BOUNDARY}``; equivalence holds because (a)
    delta-touching pairs share a shingle that appears in some delta doc,
    so restricting the index side to the delta's shingle set loses
    nothing, and (b) per-shingle df adds: combined df = stored df_old +
    delta df, so the {DF_CAP} cap drops exactly the shingles the full
    recompute drops."""
    return incremental_ngram_pairs(spark, sf_dir)


def incremental_ngram_pairs(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    idx_tbl: str | None = None,
    df_tbl: str | None = None,
) -> DataFrame:
    """The parameterized body of ``dedup_incremental_ngram`` — scale runs
    place ``boundary`` per corpus (x10/x100 rows use a 90/10 split).
    ``idx_tbl``/``df_tbl`` override the version-N artifacts with tables
    produced by :func:`roll_forward_ngram_index` (same schemas), so the
    next delta probes the rolled fold instead of a fresh boundary build."""
    if idx_tbl is None or df_tbl is None:
        idx_tbl, df_tbl = ensure_ngram_index(spark, sf_dir, boundary)
    d = load(spark, sf_dir, "documents")
    # Materialize the delta's shingle arrays ONCE via localCheckpoint, not
    # .cache(): the arrays feed three branches of one job (the df
    # aggregate, the b probe side, and the union's new-new a side), and
    # an InMemoryRelation replayed under AQE across those branches hits
    # the cached-plan partitioning zip failure at x10+ sizes ("Can't zip
    # RDDs with unequal numbers of partitions" — observed, round 10).
    # The checkpoint is delta-sized by construction, the same bounding
    # argument as splits._evidence_edges' channel materialization.
    # Retention (ADVICE r10): the three eager checkpoints below back the
    # RETURNED DataFrame's lineage, so they cannot be unpersisted here —
    # their executor blocks are reclaimed by the ContextCleaner when the
    # result's RDDs are GC'd. In a long-lived session that re-invokes
    # this, transient storage is bounded at ~3 delta-sized block sets per
    # un-GC'd invocation (delta-bounded, never corpus-bounded); and as
    # with any localCheckpoint, the blocks are lost on executor failure
    # mid-job — acceptable for a recomputable batch query, which simply
    # re-runs.
    delta_sh = _shingled(
        spread_delta(d.filter(F.col("doc_id") >= boundary))
    ).localCheckpoint(eager=True)
    delta_idx = delta_sh.select("doc_id", F.explode("shingles").alias("shingle"))
    # combined-corpus DF on the delta's shingles only (pairs need a shared
    # shingle inside some delta doc, so no other shingle can matter)
    delta_df = delta_idx.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df_new")
    )
    # ``kept`` and the probe side ``b`` materialize as leaves too: both
    # are delta-bounded (capped shingles of the delta / the delta's own
    # capped index rows), both feed two consumers, and leaving them as
    # live subtrees duplicates the delta aggregate under the union —
    # the duplicated-subtree shape AQE mis-replans into the same zip
    # failure as the cached arrays above.
    # The stored DF statistic may be SEGMENTED (a link-forward fold keeps
    # version N's row and appends the delta's count as a second row —
    # versioned_fold module doc); probe_counts restricts it to the
    # delta's shingles FIRST, then sums per shingle, so the merge-on-read
    # aggregate is delta-sized. On a from-scratch table the sum is the
    # identity and the plan differs only by the semi-join restriction.
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
        delta_idx.join(kept, "shingle")
        .select(F.col("doc_id").alias("d2"), "shingle")
        .localCheckpoint(eager=True)
    )
    # a-side: version-N index (bucketed scan, probe-pruned by the join) +
    # the delta's own capped shingles (new-new pairs). Column-explicit
    # selects before the union: union is positional.
    old_a = (
        spark.table(idx_tbl).join(kept, "shingle").select("doc_id", "shingle")
    )
    a = old_a.union(
        b.select(F.col("d2").alias("doc_id"), "shingle")
    ).select(F.col("doc_id").alias("d1"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
        .cache()  # read twice — doc-id pruning + verification join —
        # without it the probe-join subtree re-executes per consumer
        # (round 13; the minhash channel's pattern)
    )
    # verification arrays: candidate docs only (old docs re-shingle here,
    # but ONLY those that made candidate pairs — semi-join pruned)
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
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
    return _verify_pairs(shingled, cand)
