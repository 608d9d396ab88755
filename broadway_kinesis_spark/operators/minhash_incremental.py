"""Batch incremental corpus-version dedup — MINHASH-LSH channel (round 11).

The last near-dup channel family to get the daily-loop incremental form
(after exact/ngram — incremental_batch, embeddings —
embedding_incremental, fingerprints — fingerprint_incremental, splits —
split_incremental, ANN — ann_incremental), and the canonical one: banded
MinHash is what production corpus builds actually run daily at 100 TB. A
delta arrives; its signatures probe version N's PERSISTED band table —
version N's documents are never re-shingled or re-hashed for candidate
generation (signature computation is the channel's dominant cost:
N_SIG salted hashes over every shingle occurrence).

Persisted artifact (:func:`ensure_minhash_bands`): version N's band rows
``(doc_id, bkc)`` with the (band index, band key) pair packed into one
join key ``bkc = bi || ':' || bk`` (band keys are md5 hex — the packing
is injective), bucketed+sorted by ``bkc`` so delta probes sort-merge
without shuffling the stored side — the same layout protocol as the
ngram inverted index and the fingerprint band table. Banding constants
ride the sweep-chosen operating point (dedup.N_SIG/BAND_R, VERDICT r7
#6) and fold into the table-name policy token, so re-choosing the point
keys a new table.

Pairs the delta introduces are exactly ``d2 >= boundary`` (version-N ids
all sit below every delta id and pairs are (d1 < d2)); the registered
oracle is the INLINE channel's oracle (read from the registry at module
load) wrapped in that one restriction. LSH recall is inherited
unchanged: the probe join sees every band of every delta signature
against every band of version N plus the delta itself — the inline
self-join's candidate space restricted to delta-touching pairs.
Verification is the shared exact-Jaccard tier over candidate docs only
(``dedup._verify_pairs`` — old docs re-shingle ONLY if they made a
candidate pair, semi-join pruned, the same bound as every channel here).

Band rows come from :func:`dedup.minhash_bands`, the builder the inline
channel's ``dedup.minhash_candidates`` calls; this channel adds only the
``bkc`` packing. The randomized pure-python fence in
tests/test_incremental_channels.py stays as an independent reference.

Roll-forward: :func:`roll_forward_minhash_bands` folds the delta's band
rows into version N's table → N+1 (only the delta is hashed; fold ==
scratch and probe-on-rolled == probe-on-scratch fenced).

Reference parity: [TGT] — engine extension (SURVEY §2.B dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from broadway_kinesis_spark.functions.versioned_fold import (
    BOUNDARY,
    VersionedArtifact,
    spread_delta,
)
from broadway_kinesis_spark.operators.dedup import (
    BAND_R,
    N_SIG,
    _shingled,
    _verify_pairs,
    minhash_bands,
)
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load, spread_small_scan

#: bucket count for the persisted band table (the protocol knob — sized
#: like any bucketed table at deployment scale).
BAND_BUCKETS = 8

#: the inline channel's oracle OBJECT — importing operators.dedup above ran
#: its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_minhash_lsh"].oracle


def _packed_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, bkc): the inline channel's band rows at the registered
    operating point, with (bi, bk) packed into one injective string key."""
    return minhash_bands(docs, N_SIG, BAND_R).selectExpr(
        "doc_id", "concat(cast(bi AS string), ':', bk) AS bkc"
    )


MINHASH_BANDS = VersionedArtifact(
    name="minhash_bands",
    prefix="_bks_mhbands_",
    policy=f"r11:mh:s{N_SIG}r{BAND_R}:b{BAND_BUCKETS}",
    rows=_packed_bands,
    bucket_by=(BAND_BUCKETS, "bkc"),
)
ensure_minhash_bands = MINHASH_BANDS.ensure
roll_forward_minhash_bands = MINHASH_BANDS.roll_forward


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    SELECT d1, d2, jaccard FROM ({_INLINE_ORACLE}) WHERE d2 >= {BOUNDARY}
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs the DELTA introduces — band-collision
    candidates with exact Jaccard >= the channel threshold, restricted to
    pairs with at least one delta side — computed by probing version N's
    persisted band table with the delta's signatures instead of
    re-hashing the corpus. The oracle is the inline channel's oracle
    restricted to ``d2 >= {BOUNDARY}``, so the driver row proves the
    persisted bands + probe serve exactly the from-scratch answer."""
    return incremental_minhash_pairs(spark, sf_dir)


@query(
    "dedup_incremental_minhash_90",
    oracle=f"""
    SELECT d1, d2, jaccard FROM ({_INLINE_ORACLE})
    WHERE d2 >= (SELECT (MAX(doc_id) + 1) * 9 // 10 FROM documents)
    """,
)
def dedup_incremental_minhash_90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYMENT-geometry twin of ``dedup_incremental_minhash``
    (round 12, VERDICT r11 #7): the version-N / delta boundary derives
    from the corpus itself — 90% old / 10% delta, ``(max_id + 1) * 9 //
    10`` in integer arithmetic on BOTH sides — instead of the fixture's
    pinned 400, which at sf0.1 is an adversarial 92%-delta geometry. The
    driver therefore hash-checks the same probe shape the BASELINE scale
    rows measure. The boundary scalar is a one-row max aggregate
    collected driver-side (K-bounded by construction: one row, one
    long)."""
    max_id = (
        load(spark, sf_dir, "documents")
        .agg(F.max("doc_id").alias("m"))
        .collect()[0]
        .m
    )
    boundary = (int(max_id) + 1) * 9 // 10
    return incremental_minhash_pairs(spark, sf_dir, boundary=boundary)


def incremental_minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    bands_tbl: str | None = None,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_minhash`` — scale runs
    place ``boundary`` per corpus; ``bands_tbl`` overrides the version-N
    artifact with a :func:`roll_forward_minhash_bands` fold so day D+1's
    delta probes day D's fold.

    Shape: only the delta computes signatures (one map-side pass + one
    doc_id-keyed aggregate, delta-sized); its band rows are the probe
    side ``b`` and ALSO union into the stored side ``a`` for delta-delta
    pairs (the ngram/fingerprint probe's union); the stored side is
    bucketed on the packed band key so the equi-join never shuffles it;
    exact-Jaccard verification is candidate-bounded."""
    from broadway_kinesis_spark.session import size_shuffle_partitions

    # CPU floor (round 13): the delta's 48-hash signature aggregate and
    # the array-intersect verify run downstream of exchanges — floor the
    # partition count at the session's cores (bytes-sizing still governs
    # at corpus scale; the helper is reset by the registry wrapper).
    size_shuffle_partitions(spark, sf_dir)
    stored = spark.table(
        bands_tbl
        if bands_tbl is not None
        else ensure_minhash_bands(spark, sf_dir, boundary)
    )
    d = load(spark, sf_dir, "documents")
    # One signature pass for the delta, shared by both join sides (the
    # inline channel's cache pattern; delta-bounded by construction).
    delta_bands = _packed_bands(
        spread_delta(d.filter(F.col("doc_id") >= boundary))
    ).cache()
    b = delta_bands.select(F.col("doc_id").alias("d2"), "bkc")
    # Stored side joins FIRST, before any union: its bucketed layout
    # satisfies the join distribution so only the delta side exchanges —
    # the stored scan never shuffles (the ngram probe's plan order).
    # New-new pairs come from the delta's own self-join, union'd AFTER.
    old_cand = stored.select(F.col("doc_id").alias("d1"), "bkc").join(b, "bkc")
    new_cand = delta_bands.select(F.col("doc_id").alias("d1"), "bkc").join(
        b, "bkc"
    )
    cand = (
        old_cand.unionByName(new_cand)
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
        .cache()  # read twice: doc-id filter + verification join — the
        # inline channel caches here too; without it the stored-side probe
        # join re-executed per consumer (round 13)
    )
    cand_docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .union(cand.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    # Spread the semi-join-pruned verify scan (round 13, no-op at scale):
    # same single-scan-task rationale as the inline channel's verify tail.
    pruned = spread_small_scan(
        d.join(F.broadcast(cand_docs), "doc_id", "left_semi"),
        sf_dir,
        ("documents",),
        "doc_id",
    )
    shingled = _shingled(pruned)
    return _verify_pairs(shingled, cand)
