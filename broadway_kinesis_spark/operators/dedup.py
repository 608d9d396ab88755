"""Near-duplicate detection over `documents` / `embeddings`
(SURVEY.md §2.B "LLM ops: near-dup text dedup"; exact dedup lives in
relational.py).

Four operators, each a different dedup family:

- ``dedup_minhash_lsh``      — MinHash signatures + banded LSH candidate
  generation + exact-Jaccard verification (the classic pipeline)
- ``dedup_ngram_jaccard``    — exact n-gram Jaccard via an inverted-index
  self-join (no sketching; stop-shingle df-cap kills index skew)
- ``dedup_simhash``          — 32-bit SimHash fingerprints, identical-print
  grouping
- ``dedup_embedding_cosine`` — embedding near-dups: label-blocked pairwise
  cosine above a threshold

Every operator has a full DuckDB oracle — possible because the hash family
is **md5** (bit-identical across hashlib / Spark / DuckDB), jaccard =
int/int division (IEEE-exact both engines), and SimHash bit math is pure
integer arithmetic.

Scale posture (100 TB): nothing here is O(n²) over the corpus. Candidate
pairs come from equi-joins on band-key / shingle / label — hash-partitioned
shuffles whose fan-out is bounded by bucket sizes, with the df-cap dropping
degenerate hot keys (a shingle appearing in 10^6 docs would otherwise emit
10^12 pairs); AQE skew-join splits whatever survives. MinHash signatures are
computed in one map-side pass (no shuffle), and verification joins touch
only candidate pairs.

Reference parity: the reference has no dedup operators ([TGT] rows;
driver/BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from broadway_kinesis_spark.operators.similarity import _dot, _sql_dot
from broadway_kinesis_spark.registry import query
from broadway_kinesis_spark.session import load

# MinHash operating point — chosen BY the round-8 banding sweep
# (tools/banding_sweep.py; table in BASELINE.md), not by convention. The
# LSH s-curve threshold is ~(1/bands)^(1/r); the original (12, 3) = 4
# bands put it at 0.63, ABOVE the 0.5 verify threshold, so borderline
# true pairs systematically missed every band (fence-corpus recall 0.45,
# fresh-x10 recall 0.924). Sweeping (n_sig, r) against the exact channel:
# r=2 variants buy recall by exploding CANDIDATE volume 60-380x (2-row
# band keys collide for mid-Jaccard non-pairs — the shuffle that dies
# first at 100 TB), while (48, 3) = 16 bands lands the s-curve at 0.40,
# just under the threshold: fence recall 0.92, fresh recall 0.997, at
# 3.3x candidate volume and a 4x map-side signature cost that stays
# embarrassingly parallel.
N_SIG = 48          # minhash signature length
BAND_R = 3          # rows per band -> 16 bands
N_BANDS = N_SIG // BAND_R
JACCARD_T = 0.5     # verification / output threshold
DF_CAP = 100        # inverted-index stop-shingle cap (docs per shingle)
SIM_BITS = 32       # simhash width
COS_T = 0.35    # embedding near-dup threshold (fixture vectors are near-orthogonal)

# ---------------------------------------------------------------- shingles

_SQL_WORDS = "string_split(lower(text), ' ')"
_SQL_SHINGLES = f"""
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(words) - 1),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingles
    FROM (SELECT doc_id, {_SQL_WORDS} AS words FROM documents)
    WHERE len(words) >= 3
"""


def _shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word 3-grams per doc.

    Array form is for per-pair verification (small candidate sets); takes a
    documents DataFrame so callers can pre-filter to candidate docs and keep
    the HOF cost proportional to candidates, not corpus.
    """
    words = F.split(F.lower("text"), " ")
    base = docs.select("doc_id", words.alias("words")).filter(F.size("words") >= 3)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.element_at("words", i), F.element_at("words", i + 1), F.element_at("words", i + 2)
    )
    return base.select(
        "doc_id",
        F.array_distinct(F.transform(F.sequence(F.lit(1), F.size("words") - 2), gram)).alias(
            "shingles"
        ),
    )


def _shingles_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) WITH repetition — the corpus-scale shingle stream.

    Built with posexplode + window lead instead of array higher-order
    functions: tokenization and concat stay inside whole-stage codegen
    (~2x faster than interpreted array transforms at sf0.1), at the cost of
    one hash-partition-by-doc window pass — the shape that scales."""
    tok = docs.select("doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    w1, w2 = F.lead("w", 1).over(win), F.lead("w", 2).over(win)
    return (
        tok.select("doc_id", F.concat_ws(" ", "w", w1, w2).alias("shingle"), w2.alias("g"))
        .filter(F.col("g").isNotNull())
        .drop("g")
    )


# ------------------------------------------------------- minhash + LSH

_SQL_PAIR_VERIFY = f"""
    scored AS (
        SELECT c.d1, c.d2,
               len(list_intersect(x1.shingles, x2.shingles))
                 / (len(x1.shingles) + len(x2.shingles)
                    - len(list_intersect(x1.shingles, x2.shingles))) AS jaccard
        FROM cand c
        JOIN shingled x1 ON x1.doc_id = c.d1
        JOIN shingled x2 ON x2.doc_id = c.d2
    )
    SELECT d1, d2, jaccard FROM scored WHERE jaccard >= {JACCARD_T}
"""


def _verify_pairs(shingled: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate (d1, d2) pairs.

    Candidates are few (that is LSH's whole point), so verification joins
    the pair list back to the compact per-doc shingle ARRAYS and intersects
    per pair — never re-exploding the corpus. The intersection cost is
    O(candidates x shingles-per-doc), independent of corpus size.
    """
    x1 = shingled.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("sh1"))
    x2 = shingled.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("sh2"))
    n_common = F.size(F.array_intersect("sh1", "sh2"))
    jac = n_common / (F.size("sh1") + F.size("sh2") - n_common)
    return (
        cand.join(x1, "d1")
        .join(x2, "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )


#: band key = md5 of the band's BAND_R concatenated signature rows —
#: derived from the constants so a re-defaulted operating point rewrites
#: the SQL in lockstep with the Spark plan. Shared with dedup_report.py.
_SQL_BAND_KEY = " || ".join(f"sig[{BAND_R}*b+{r + 1}]" for r in range(BAND_R))
_SQL_MINHASH_BANDS = f"""sig AS (
        SELECT doc_id,
               list_transform(range(0, {N_SIG}),
                   s -> list_min(list_transform(shingles,
                            g -> md5(s::VARCHAR || ':' || g)))) AS sig
        FROM shingled
    ), bands AS (
        SELECT doc_id, u.bi AS bi, u.bk AS bk
        FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(0, {N_BANDS}),
                       b -> struct_pack(bi := b,
                                        bk := md5({_SQL_BAND_KEY})))) AS u
            FROM sig
        )
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingled AS ({_SQL_SHINGLES}),
    {_SQL_MINHASH_BANDS}, cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    {_SQL_PAIR_VERIFY}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pipeline: {N_SIG}-hash signatures (min
    of salted md5 over 3-gram shingles, one map-side pass), {N_BANDS} bands
    of {BAND_R} rows hashed to band keys, candidates = docs colliding in any
    band (equi-join on band key — never all-pairs), then exact-Jaccard
    verification of candidates only."""
    return minhash_pairs(spark, sf_dir)


def minhash_pairs(
    spark: SparkSession, sf_dir: str, n_sig: int = N_SIG, band_r: int = BAND_R
) -> DataFrame:
    """The MinHash-LSH pipeline at an arbitrary (signature length, rows
    per band) operating point — the registered query is the default
    point; the banding sweep (tools/banding_sweep.py, VERDICT r7 #6)
    measures recall/candidate-volume/wall-time across points on the
    fence + fresh corpora to pick it by data."""
    from broadway_kinesis_spark.session import spread_small_scan

    docs = load(spark, sf_dir, "documents")
    cand = minhash_candidates(spark, sf_dir, n_sig, band_r)
    # Verification builds shingle ARRAYS only for candidate docs: the HOF
    # cost tracks the candidate count, not the corpus. Spread the pruned
    # scan first (round 13, no-op at scale): behind the broadcast semi-join
    # it otherwise runs the whole interpreted shingle-transform on the one
    # scan task of a single-row-group input.
    cand_docs = cand.select(F.col("d1").alias("doc_id")).union(
        cand.select(F.col("d2").alias("doc_id"))
    ).distinct()
    pruned = spread_small_scan(
        docs.join(F.broadcast(cand_docs), "doc_id", "left_semi"),
        sf_dir,
        ("documents",),
        "doc_id",
    )
    shingled = _shingled(pruned)
    return _verify_pairs(shingled, cand)


def minhash_candidates(
    spark: SparkSession, sf_dir: str, n_sig: int = N_SIG, band_r: int = BAND_R
) -> DataFrame:
    """Band-collision candidate pairs only (pre-verification) — split out
    so the banding sweep can price candidate volume separately from
    verified recall."""
    from broadway_kinesis_spark.session import size_shuffle_partitions

    # The signature aggregate (N_SIG salted md5-min's over every shingle
    # occurrence) is the channel's dominant CPU and runs downstream of the
    # doc_id exchange: floor the partition count at the session's cores
    # (round 13 — at 8 bench partitions the hash pass used 1/4 of the
    # host; bytes-sizing still governs at corpus scale).
    size_shuffle_partitions(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    # both sides of the candidate self-join read the band rows
    bands = minhash_bands(docs, n_sig, band_r).cache()
    a = bands.select(F.col("doc_id").alias("d1"), "bi", "bk")
    b = bands.select(F.col("doc_id").alias("d2"), "bi", "bk")
    return (
        a.join(b, ["bi", "bk"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
        .cache()  # read twice: doc-id filter + verification join
    )


def minhash_bands(docs: DataFrame, n_sig: int, band_r: int) -> DataFrame:
    """(doc_id, bi, bk): each doc's ``n_sig``-hash MinHash signature (min of
    salted md5 over its word 3-grams) cut into bands of ``band_r`` rows,
    band ``bi`` keyed by the md5 ``bk`` of its concatenated rows — the
    band rows of ``dedup_minhash_lsh`` and of its incremental channel's
    persisted band table."""
    assert n_sig % band_r == 0, "band width must divide the signature"
    n_bands = n_sig // band_r
    # Signature path uses the shingle stream WITH repetition — min() is
    # duplicate-insensitive, so skipping the distinct keeps everything in
    # codegen with no extra shuffle. The salted md5s are plain projected
    # columns and the per-doc min is a map-side partial aggregate — the
    # shape that scales (one shuffle keyed by doc_id).
    # Round 14: the wide signature/band trees are built through
    # ``selectExpr``/``F.expr`` strings instead of ~250 nested Column
    # calls — the expressions (and the executed plan) are IDENTICAL
    # (fenced by exceptAll in tests/test_round14_opt.py); what changes is
    # Python-side construction: one py4j round trip per statement instead
    # of one per operator node, measured 0.56 s -> 0.22 s per run of
    # driver time at the default operating point (guide §4: the Python
    # boundary is also the DRIVER's plan-building chatter).
    sh = _shingles_exploded(docs)
    proj = sh.selectExpr(
        "doc_id",
        *[f"md5(concat('{s}:', shingle)) AS p{s}" for s in range(n_sig)],
    )
    sig = proj.groupBy("doc_id").agg(
        *[F.expr(f"min(p{s}) AS h{s}") for s in range(n_sig)]
    )
    keys = ", ".join(
        "md5(concat(" + ", ".join(f"h{b * band_r + r}" for r in range(band_r)) + "))"
        for b in range(n_bands)
    )
    return sig.selectExpr("doc_id", f"posexplode(array({keys})) AS (bi, bk)")


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS ({_SQL_SHINGLES}),
    idx AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, UNNEST(shingles) AS shingle FROM shingled
        ) QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {DF_CAP}
    ), cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    {_SQL_PAIR_VERIFY}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup: inverted index (shingle -> docs) generates
    candidates as a self-equi-join on the shingle; shingles appearing in more
    than {DF_CAP} docs are dropped from the index (stop-shingle cap — the
    skew guard that keeps hot shingles from emitting quadratic pairs), then
    exact Jaccard over the full shingle sets filters to >= {JACCARD_T}."""
    pairs, n_common = _pair_overlap(spark, sf_dir)
    jac = n_common / (F.col("s1") + F.col("s2") - n_common)
    return pairs.select("d1", "d2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_T
    )


def _capped_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The DF-capped inverted index shared by the n-gram, containment and
    bottom-K operators: ``(shingled, sh, hot, idx)`` = the cached per-doc
    distinct shingle arrays, their exploded ``(doc_id, shingle)`` stream,
    the ``df > DF_CAP`` hot shingles, and the stream minus the hot ones.

    The shingle explode + candidate explode downstream expand the corpus
    ~two orders of magnitude in-shuffle: partitions are sized to the corpus
    BEFORE planning, or the x100 tier dies spilling at the session default
    (round-6 forensics). The scan is spread first (round 13): a
    single-row-group input otherwise materializes the cache as ONE
    partition, serializing every explode-from-cache stage. The arrays are
    cached once (compact: one row/doc) because they feed both the index and
    verification — measured faster than rebuilding via the window-lead
    stream, since these pipelines need the distinct arrays anyway.

    The cap is a broadcast ANTI-join against the (by Zipf, tiny) hot set,
    not a corpus-wide window: the window buffered every shingle partition
    (hot ones included, the exact skew the cap exists to kill) and sorted
    50+ rows/doc."""
    from broadway_kinesis_spark.session import size_shuffle_partitions, spread_small_scan

    size_shuffle_partitions(spark, sf_dir)
    docs = spread_small_scan(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir,
        ("documents",),
        "doc_id",
    )
    shingled = _shingled(docs).cache()
    sh = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    df_cnt = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    hot = df_cnt.filter(F.col("df") > DF_CAP).select("shingle")
    idx = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return shingled, sh, hot, idx


def _pair_overlap(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """Every candidate pair of the capped index with its exact overlap:
    ``(pairs, n_common)`` where ``pairs`` carries ``d1 < d2`` and the full
    shingle-set sizes ``s1``/``s2``, and ``n_common`` = |S1 ∩ S2| over it.
    ``n_common`` is a Column, not a projected field, so each consumer's
    projection inlines it: a projected non-trivial field referenced twice
    (Jaccard's numerator and denominator) would keep Catalyst from
    collapsing the two Projects.

    The intersection splits EXACTLY into
    |S1 ∩ S2| = (# shared UNCAPPED shingles) — the pair count the candidate
    explode yields for free — + |S1 ∩ S2 ∩ HOT|, an intersect over the tiny
    hot set precomputed per DOC, not per pair. (Intersecting two
    ~150-string arrays per candidate pair was the query's dominant cost:
    1.1M pairs at sf0.1, 1.8 s of pure CPU at full parallelism.) Candidate
    pairs come from per-shingle doc lists, bounded by DF_CAP after the
    anti-join (no collect_list blowup), exploded in place — no self-join
    rescan.

    Scale posture (VERDICT r13 #1): doc stats are computed for CANDIDATE
    docs only (broadcast semi-join on the pair set — candidates are few by
    the DF cap's design), the hot-restricted list per doc comes from a left
    join against the hot TABLE (never a one-row array, whose size grows with
    the corpus), and the verify join's broadcast hints survive only while
    the corpus scan is provably small (``scan_is_small``); at scale the
    planner/AQE chooses."""
    from broadway_kinesis_spark.session import scan_is_small

    _, sh, hot, idx = _capped_index(spark, sf_dir)
    grp = idx.groupBy("shingle").agg(F.collect_list("doc_id").alias("ds"))
    pair = F.expr(
        "flatten(transform(ds, (x, i) ->"
        " transform(slice(ds, i + 2, size(ds) - i - 1), y ->"
        " struct(least(x, y) AS d1, greatest(x, y) AS d2))))"
    )
    pair_cnt = (
        grp.select(F.explode(pair).alias("p"))
        .select("p.d1", "p.d2")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_uncapped"))
        .cache()  # read twice: candidate-doc pruning + the verify join
    )
    cand_docs = (
        pair_cnt.select(F.col("d1").alias("doc_id"))
        .union(pair_cnt.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    doc_caps = (
        sh_c.join(
            F.broadcast(hot.withColumn("_hot", F.lit(True))), "shingle", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("s"),
            F.sort_array(
                F.collect_list(F.when(F.col("_hot"), F.col("shingle")))
            ).alias("capped"),
        )
    )
    x1 = doc_caps.select(
        F.col("doc_id").alias("d1"), F.col("s").alias("s1"), F.col("capped").alias("c1")
    )
    x2 = doc_caps.select(
        F.col("doc_id").alias("d2"), F.col("s").alias("s2"), F.col("capped").alias("c2")
    )
    bc = F.broadcast if scan_is_small(spark, sf_dir, ("documents",)) else (lambda d: d)
    n_common = F.col("n_uncapped") + F.size(F.array_intersect("c1", "c2"))
    return pair_cnt.join(bc(x1), "d1").join(bc(x2), "d2"), n_common


_SQL_BITSUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(SIM_BITS)
)
_SQL_FP = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(SIM_BITS))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, UNNEST({_SQL_WORDS}) AS token FROM documents
    ), hashed AS (
        SELECT doc_id, ('0x' || substr(md5(token), 1, 8))::BIGINT AS h FROM tok
    ), bitsums AS (
        SELECT doc_id, {_SQL_BITSUMS} FROM hashed GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, {_SQL_FP} AS simhash FROM bitsums
    )
    SELECT doc_id, simhash,
           COUNT(*) OVER (PARTITION BY simhash) AS n_sharing
    FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{SIM_BITS}-bit SimHash: token hash = first 8 md5 hex digits as an
    integer, each hash votes ±1 per bit position weighted by term frequency
    (tokens kept with repetition), fingerprint = sign vector. Identical
    fingerprints mark near-identical docs (`n_sharing`). One explode + one
    hash-agg by doc — a map-side-combinable shuffle; the fingerprint compare
    is free (equi-grouping, extendable to hamming-band joins)."""
    fp = simhash_fingerprints(load(spark, sf_dir, "documents"))
    return fp.withColumn(
        "n_sharing", F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the fingerprint of ``dedup_simhash`` and of its
    incremental channel's per-fingerprint count table."""
    tok = docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    h = F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
    hashed = tok.select("doc_id", h.alias("h"))
    bitsums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIM_BITS)
        ]
    )
    fp_terms = [
        F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(SIM_BITS)
    ]
    fp_col = fp_terms[0]
    for t in fp_terms[1:]:
        fp_col = fp_col + t
    return bitsums.select("doc_id", fp_col.alias("simhash"))


#: delta rows scored per kernel step: bounds the transient similarity
#: matrix at chunk × block_rows × 8 bytes whatever the block size (at a
#: 20 k-row block: ~650 MB), the "a block must fit one task" posture made
#: chunk-exact.
_KERNEL_CHUNK = 4096


def vec_norms(e: DataFrame, *keys: str) -> DataFrame:
    """(vec_id, *keys, v float64[], nrm) — the embedding near-dup family's
    one vector projection: the float64 vector and its sequential-fold norm
    that the candidate kernel and the exact verify both score."""
    v = F.col("embedding").cast("array<double>")
    return e.select("vec_id", *keys, v.alias("v"), F.sqrt(_dot(v, v)).alias("nrm"))


def cosine_kernel(slack: float):
    """The embedding near-dup family's one candidate kernel: a grouped-map
    function over one block's (vec_id, v, nrm, is_delta) rows. For each
    chunk of ``_KERNEL_CHUNK`` delta rows it scores ``u_delta @ u_all.T``
    on the unit vectors and keeps the pairs whose OTHER id is smaller and
    whose cosine is >= ``slack``, emitting (d1 long, d2 long), d1 < d2.
    Keeping only the smaller other id yields each delta-delta pair once (at
    its larger side) and every stored-delta pair (stored ids sit below
    delta ids); with every row a delta it is the whole block's upper
    triangle. Work is ``delta_rows × block_rows``, and the transient
    similarity matrix is at most ``_KERNEL_CHUNK × block_rows``."""
    import numpy as np
    import pandas as pd

    def cosine_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        d_mask = pdf["is_delta"].to_numpy()
        if len(pdf) < 2 or not d_mask.any():
            return pd.DataFrame({"d1": [], "d2": []}).astype("int64")
        u = np.stack(pdf["v"].to_numpy()) / pdf["nrm"].to_numpy()[:, None]
        ids = pdf["vec_id"].to_numpy()
        ud, idd = u[d_mask], ids[d_mask]
        outs = []
        for c in range(0, len(idd), _KERNEL_CHUNK):
            sim = ud[c : c + _KERNEL_CHUNK] @ u.T
            keep = (sim >= slack) & (ids[None, :] < idd[c : c + _KERNEL_CHUNK, None])
            i, j = np.nonzero(keep)
            outs.append(pd.DataFrame({"d1": ids[j], "d2": idd[c + i]}))
        return pd.concat(outs, ignore_index=True)

    return cosine_pairs


def cosine_candidates(blocks: DataFrame, key: str, threshold: float) -> DataFrame:
    """Candidate pairs (d1, d2) of ``blocks`` grouped by ``key``, scored by
    :func:`cosine_kernel` at a 1e-9 slack below ``threshold``: matmul and
    the sequential fold agree to ~1e-15 relative, so the slack covers BLAS
    reassociation and no true pair is missed. The caller's exact-fold
    verify defines the final pair set."""
    return blocks.groupBy(key).applyInPandas(
        cosine_kernel(threshold - 1e-9), "d1 long, d2 long"
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt({_sql_dot('embedding::DOUBLE[]', 'embedding::DOUBLE[]')}) AS nrm
        FROM embeddings
    )
    SELECT vec1, vec2, cos_sim FROM (
        SELECT a.vec_id AS vec1, b.vec_id AS vec2,
               {_sql_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cos_sim
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= {COS_T}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: blocking on the cluster id (`label`), then
    pairwise cosine >= {COS_T} within blocks, in two tiers:

    1. CANDIDATES — the family's chunked :func:`cosine_kernel` per block,
       every row marked delta: float64 numpy matmuls of ``_KERNEL_CHUNK``
       rows against the block keep pairs above ``COS_T - 1e-9`` (see
       :func:`cosine_candidates`). Only (vec1, vec2) id pairs leave the UDF.
    2. VERIFY — the surviving handful of pairs re-join their vectors and are
       re-scored with the same sequential-fold float64 dot as similarity.py,
       so the emitted cos_sim is bitwise-equal to the oracle.

    This is the candidates-then-verify shape every near-dup operator here
    uses (minhash, ngram): the O(block²·dim) work runs vectorized at memory
    bandwidth, the exact path touches only candidates. Measured ~3x the
    interpreted per-pair fold at sf0.1. At 100 TB the blocking key comes
    from a coarse quantizer / LSH bucket; a block must fit one task (bound
    it by quantizer granularity; the kernel's transient matrix is bounded
    by ``_KERNEL_CHUNK × block_rows``), and the verify joins stay
    hash-partitioned on vec_id."""
    e = vec_norms(load(spark, sf_dir, "embeddings"), "label")
    cand = cosine_candidates(e.select("*", F.lit(True).alias("is_delta")), "label", COS_T)
    a = e.select(F.col("vec_id").alias("d1"), F.col("v").alias("v1"), F.col("nrm").alias("n1"))
    b = e.select(F.col("vec_id").alias("d2"), F.col("v").alias("v2"), F.col("nrm").alias("n2"))
    pairs = cand.join(a, "d1").join(b, "d2")
    cos = _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    return pairs.select(
        F.col("d1").alias("vec1"), F.col("d2").alias("vec2"), cos.alias("cos_sim")
    ).filter(F.col("cos_sim") >= COS_T)


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT doc_id, text_md5, n_dups FROM (
        SELECT doc_id, md5(text) AS text_md5,
               COUNT(*) OVER (PARTITION BY md5(text)) AS n_dups
        FROM documents
    )
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup by hash (the cheapest dedup tier): md5 of the
    full text as the grouping key — at 100 TB the hash (16 bytes) shuffles
    instead of the document bodies, which is the entire point of hashing
    before grouping. `n_dups > 1` marks exact-duplicate clusters."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5("text").alias("text_md5")).withColumn(
        "n_dups", F.count(F.lit(1)).over(Window.partitionBy("text_md5"))
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH existing AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400
    ), incoming AS (
        SELECT doc_id, md5(text) AS text_md5 FROM documents WHERE doc_id >= 400
    )
    SELECT doc_id, text_md5 FROM (
        SELECT i.doc_id, i.text_md5,
               ROW_NUMBER() OVER (PARTITION BY i.text_md5 ORDER BY i.doc_id) AS rn
        FROM incoming i
        WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = i.text_md5)
    ) WHERE rn = 1
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the daily-ingest shape: an INCOMING batch
    is deduplicated (a) against the EXISTING corpus via a left-anti join on
    content hash, then (b) within itself keep-first. Only 16-byte hashes
    ever move: the existing side projects to distinct md5s before the join
    (at 100 TB that projection is the persisted dedup index you'd maintain
    incrementally rather than recompute), the anti-join is a hash join on
    the digest, and the within-batch pass is one window. The doc_id split
    stands in for yesterday's corpus vs today's drop."""
    d = load(spark, sf_dir, "documents")
    existing = (
        d.filter(F.col("doc_id") < 400).select(F.md5("text").alias("text_md5")).distinct()
    )
    incoming = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", F.md5("text").alias("text_md5")
    )
    fresh = incoming.join(existing, "text_md5", "left_anti")
    w = Window.partitionBy("text_md5").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .select("doc_id", "text_md5")
    )


EDIT_T = 12      # max prefix edit distance for a fuzzy pair
PREFIX_N = 40    # chars of normalized prefix compared

# --- bounding the fuzzy channel (VERDICT r7 #1) — measured, not guessed --
#
# The channel's scale limiter was the per-pair Levenshtein volume (~25 M
# same-block pairs at fresh x10 = 527 s with the full O(L²) DP). Two
# lossless rewrites were built and MEASURED head-to-head (BASELINE.md r8):
#
# - PassJoin-style segment gate (Li et al. 2011, public): partition each
#   40-char prefix into EDIT_T+1 segments; any <= EDIT_T-edit pair keeps
#   one segment intact, so an equi-join on (block, seg_idx, gram) is a
#   lossless candidate filter. Measured at fresh x10: candidate ratio only
#   0.63 (3-char segments at a 30%-of-length edit budget are information-
#   poor) for 46 s of generation + a pair-distinct shuffle that grows with
#   the quadratic it was meant to avoid. Net ≈ wash; REJECTED.
# - Banded (threshold) Levenshtein: `levenshtein(l, r, EDIT_T)` runs the
#   O(EDIT_T·L) diagonal band instead of the O(L²) table and returns -1
#   the moment the band proves distance > EDIT_T. Same 25 M pairs in
#   157 s (3.4×), zero plan change. ADOPTED.
#
# The surviving bound at 100 TB is the blocking key itself: (lang,
# size-bucket) blocks grow linearly with the corpus, so the per-block
# quadratic eventually dominates any per-pair constant. The deployment
# knob is a TIGHTER key — (lang, size bucket, first prefix token), built
# below as the `tight=True` tier — trading recall (a ≤ EDIT_T pair whose
# edit touches the first token lands in different blocks). The trade is
# MEASURED, not assumed: `composite_fuzzy_blocking_recall` reports the
# tight tier's recall against the exhaustive channel on the actual
# corpus, the same discipline as `composite_dedup_recall` for banding.


def _fuzzy_prefixes(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, size_bucket, tok0, pfx) — the blocked, normalized
    prefixes; ``tok0`` is the prefix's first whitespace token (the tight
    tier's extra blocking key)."""
    pfx = F.substring(F.lower("text"), 1, PREFIX_N)
    return docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 50).cast("long").alias("size_bucket"),
        F.split(pfx, " ").getItem(0).alias("tok0"),
        pfx.alias("pfx"),
    )


def _fuzzy_candidates(
    p: DataFrame, tight: bool = False, probe: DataFrame | None = None
) -> DataFrame:
    """Every same-block (d1 < d2) pair with both prefixes attached; the
    tight tier also requires the first prefix token to match. ``probe``
    (round 13) optionally substitutes a pre-spread copy of ``p`` as the
    STREAMED side: at fixture scale the block join broadcasts the other
    side, so every per-pair Levenshtein downstream lands in the streamed
    side's scan stage — one task on a single-row-group input."""
    a = (probe if probe is not None else p).select(
        F.col("doc_id").alias("d1"), "lang", "size_bucket", "tok0",
        F.col("pfx").alias("pfx1"),
    )
    b = p.select(
        F.col("doc_id").alias("d2"),
        F.col("lang").alias("lang2"),
        F.col("size_bucket").alias("sb2"),
        F.col("tok0").alias("tok0b"),
        F.col("pfx").alias("pfx2"),
    )
    cond = (
        (F.col("lang") == F.col("lang2"))
        & (F.col("size_bucket") == F.col("sb2"))
        & (F.col("d1") < F.col("d2"))
    )
    if tight:
        cond = cond & (F.col("tok0") == F.col("tok0b"))
    return a.join(b, cond).select("d1", "d2", "pfx1", "pfx2")


def fuzzy_prefix_pairs(
    spark: SparkSession, sf_dir: str, tight: bool = False
) -> DataFrame:
    """(d1, d2, edit_dist) fuzzy pairs; ``tight=True`` is the deployment
    blocking tier (module note above)."""
    from broadway_kinesis_spark.session import size_shuffle_partitions

    # The banded Levenshtein over every same-block pair is pure CPU and
    # runs downstream of the block-key exchange: floor partitions at the
    # session's cores (round 13; bytes-sizing governs at corpus scale).
    size_shuffle_partitions(spark, sf_dir)
    from broadway_kinesis_spark.session import spread_small_scan

    d = load(spark, sf_dir, "documents")
    p = _fuzzy_prefixes(d)
    # Spread the streamed side of the block join (no-op at scale): the
    # banded-Levenshtein pass over every same-block pair otherwise runs
    # in the single scan task when the other side broadcasts (round 13).
    # Round 14 (ADVICE r13): BOTH join sides derive from the one spread
    # lineage, so ReuseExchange serves the second side from the same
    # shuffle files instead of re-scanning + re-projecting the prefixes.
    probe = spread_small_scan(p, sf_dir, ("documents",), "doc_id")
    pairs = _fuzzy_candidates(probe, tight=tight)
    dist = F.levenshtein("pfx1", "pfx2", EDIT_T)
    return (
        pairs.select("d1", "d2", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") >= 0)
    )


@query(
    "dedup_fuzzy_prefix",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, lang, n_chars // 50 AS size_bucket,
               substr(lower(text), 1, {PREFIX_N}) AS pfx
        FROM documents
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           levenshtein(a.pfx, b.pfx) AS edit_dist
    FROM p a
    JOIN p b ON a.lang = b.lang AND a.size_bucket = b.size_bucket
            AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= {EDIT_T}
    """,
)
def dedup_fuzzy_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) dedup — the fourth near-dup family: docs whose
    normalized {PREFIX_N}-char prefixes are within {EDIT_T} edits, blocked
    on (lang, size bucket) so the O(block²) pair generation never goes
    corpus-wide and each Levenshtein runs on a fixed-size prefix (full-text
    edit distance is O(len²) per pair — never do that at scale; prefix or
    sketch first).

    The per-pair DP is the BANDED threshold form (module note above —
    measured 3.4× over the full table at fresh x10): Spark's 3-arg
    ``levenshtein(l, r, EDIT_T)`` walks only the |i-j| <= EDIT_T diagonal
    band and returns -1 once the distance provably exceeds the threshold,
    so the filter keeps ``0 <= dist`` — within the band the returned value
    IS the exact distance, which is why the plain-DP DuckDB oracle hashes
    identically (the lossless-rewrite proof)."""
    return fuzzy_prefix_pairs(spark, sf_dir)


@query(
    "composite_fuzzy_blocking_recall",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, lang, n_chars // 50 AS size_bucket,
               string_split(substr(lower(text), 1, {PREFIX_N}), ' ')[1] AS tok0,
               substr(lower(text), 1, {PREFIX_N}) AS pfx
        FROM documents
    ), ex AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               (a.tok0 = b.tok0) AS tok_match
        FROM p a
        JOIN p b ON a.lang = b.lang AND a.size_bucket = b.size_bucket
                AND a.doc_id < b.doc_id
        WHERE levenshtein(a.pfx, b.pfx) <= {EDIT_T}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exhaustive,
           CAST(SUM(CASE WHEN tok_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tight,
           CASE WHEN COUNT(*) = 0 THEN NULL
                ELSE CAST(SUM(CASE WHEN tok_match THEN 1 ELSE 0 END)
                          * 1000000 // COUNT(*) AS BIGINT) END
               AS tight_recall_micro
    FROM ex
    """,
)
def composite_fuzzy_blocking_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row recall report for the fuzzy channel's TIGHT blocking tier
    (module note): of the exhaustive (lang, size-bucket) channel's pairs,
    how many the deployment key (+ first prefix token) retains — the
    blocking-policy twin of ``composite_dedup_recall``. The tight tier is
    a strict subset by construction (same verify, stricter blocking), so
    BOTH engines evaluate the subset membership as a first-token-match
    FLAG on the exhaustive pair set — one candidate join and one
    Levenshtein pass instead of running both tiers, the same set
    algebra."""
    from broadway_kinesis_spark.session import size_shuffle_partitions

    # Same CPU floor as fuzzy_prefix_pairs: the per-pair banded
    # Levenshtein downstream of the block join is the whole cost.
    size_shuffle_partitions(spark, sf_dir)
    from broadway_kinesis_spark.session import spread_small_scan

    p = _fuzzy_prefixes(load(spark, sf_dir, "documents"))
    # Spread the streamed side (round 13, same rationale as
    # fuzzy_prefix_pairs): every same-block pair's Levenshtein otherwise
    # runs in the one scan task behind the broadcast block join. Round 14
    # (ADVICE r13): both sides share the one spread lineage so the scan +
    # prefix projection run once (ReuseExchange), not per side.
    probe = spread_small_scan(p, sf_dir, ("documents",), "doc_id")
    a = probe.select(
        F.col("doc_id").alias("d1"), "lang", "size_bucket", "tok0",
        F.col("pfx").alias("pfx1"),
    )
    b = probe.select(
        F.col("doc_id").alias("d2"),
        F.col("lang").alias("lang2"),
        F.col("size_bucket").alias("sb2"),
        F.col("tok0").alias("tok0b"),
        F.col("pfx").alias("pfx2"),
    )
    pairs = a.join(
        b,
        (F.col("lang") == F.col("lang2"))
        & (F.col("size_bucket") == F.col("sb2"))
        & (F.col("d1") < F.col("d2")),
    )
    ex = pairs.filter(F.levenshtein("pfx1", "pfx2", EDIT_T) >= 0).select(
        (F.col("tok0") == F.col("tok0b")).alias("tok_match")
    )
    return ex.agg(
        F.count(F.lit(1)).alias("n_exhaustive"),
        F.sum(F.when(F.col("tok_match"), 1).otherwise(0)).alias("n_tight"),
    ).select(
        "n_exhaustive",
        "n_tight",
        F.expr(
            "CASE WHEN n_exhaustive = 0 THEN NULL"
            " ELSE (n_tight * 1000000) div n_exhaustive END"
        ).alias("tight_recall_micro"),
    )
