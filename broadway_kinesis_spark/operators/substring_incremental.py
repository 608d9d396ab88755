"""Batch incremental corpus-version dedup — SUBSTRING-SPAN channel
(round 11, session 3).

``dedup_substring_spans`` (operators/substring_spans.py) is the Lee et
al. 2022 span-masking pass: every {K_SPAN}-token window shared by >=
{MIN_DOCS} distinct documents marks its token positions for masking.
Its incremental form answers the question a daily corpus build actually
asks — "which positions of the ARRIVING documents are already covered
elsewhere?" — without re-windowing version N: the corpus-wide statistic
a span's shared-ness depends on is its DISTINCT-DOCUMENT count, and
distinct-doc sets are disjoint across the version boundary, so

    shared(span) = (stored distinct-doc count) + (delta distinct-doc
    count) >= {MIN_DOCS}

is exact with version N reduced to one (span, n_old) row per distinct
span — the ngram channel's DF-statistic artifact applied at span
granularity (:func:`ensure_span_counts`, bucketed by span so delta
probes never shuffle the stored side).

Output = the inline channel's per-document rows restricted to the delta
(``doc_id >= boundary`` — token totals, span totals, shared-span
positions, masked-position union, masked fraction), which is exactly
what the wrapped oracle states. Note the honest scope this channel
shares with every DF-statistic incremental (simhash, ngram): the delta
can also flip OLD documents' spans from unique to shared; those old-side
row updates are version N+1's concern and appear when the roll-forward
fold serves the next full pass — the delta query reports the arriving
documents, the thing the ingest gate consumes.

Roll-forward: :func:`roll_forward_span_counts` full-outer-joins the
delta's per-span distinct-doc counts with version N's and adds (counts
over disjoint doc sets add losslessly). fold == scratch and
probe-on-rolled == probe-on-scratch pinned by
tests/test_round11_s3_channels.py.

Reference parity: [TGT] — engine extension (SURVEY §2.B dedup family;
Lee et al. 2022, public literature).
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
from broadway_kinesis_spark.operators import substring_spans as _ss  # noqa: F401 (registers the inline twin)
from broadway_kinesis_spark.operators.substring_spans import K_SPAN, MIN_DOCS
from broadway_kinesis_spark.registry import REGISTRY, query
from broadway_kinesis_spark.session import load

#: bucket count for the persisted span-count table (the protocol knob).
SPAN_BUCKETS = 8

#: the inline channel's oracle OBJECT — importing operators.substring_spans
#: above ran its @query decorator, so this lookup can never miss nor drift.
_INLINE_ORACLE = REGISTRY["dedup_substring_spans"].oracle


def _span_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, span) — every {K_SPAN}-token window at stride 1, the
    inline channel's projection."""
    tok = docs.select("doc_id", F.split(F.lower("text"), " ").alias("l"))
    return (
        tok.filter(F.size("l") >= K_SPAN)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("l") - K_SPAN)).alias("pos"),
            "l",
        )
        .select(
            "doc_id",
            "pos",
            F.array_join(
                F.slice("l", F.col("pos") + 1, F.lit(K_SPAN)), " "
            ).alias("span"),
        )
    )


def _span_doc_counts(spans: DataFrame, out: str) -> DataFrame:
    """(span, {out}) — per-span DISTINCT-document count (a span repeated
    inside one document counts once, the inline HAVING's statistic)."""
    return spans.groupBy("span").agg(F.count_distinct("doc_id").alias(out))


#: per-span distinct-document counts, bucketed by span so delta probes
#: never shuffle the stored side. Distinct-doc counts over disjoint id
#: ranges add losslessly, so a fold appends the delta's counts as a
#: merge-on-read segment (``SUM(n_old) GROUP BY span`` on read).
SPAN_COUNTS = VersionedArtifact(
    name="span_counts",
    prefix="_bks_sscounts_",
    policy=f"r11s3:ss{K_SPAN}m{MIN_DOCS}:b{SPAN_BUCKETS}",
    rows=lambda docs: _span_doc_counts(_span_positions(docs), "n_old"),
    bucket_by=(SPAN_BUCKETS, "span"),
    mor=("span", "n_old"),
)
ensure_span_counts = SPAN_COUNTS.ensure
roll_forward_span_counts = SPAN_COUNTS.roll_forward


@query(
    "dedup_incremental_substring",
    oracle=f"""
    SELECT doc_id, n_tokens, n_spans, n_shared_spans, n_masked_tokens,
           masked_frac
    FROM ({_INLINE_ORACLE}) WHERE doc_id >= {BOUNDARY}
    """,
)
def dedup_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELTA's span-masking rows — per arriving document, how many of
    its {K_SPAN}-token span positions are shared with >= {MIN_DOCS}
    documents of the COMBINED corpus and how many token positions that
    masks — computed by windowing only the delta and adding version N's
    persisted per-span counts. The oracle is the inline channel's oracle
    restricted to ``doc_id >= {BOUNDARY}``."""
    return incremental_substring_rows(spark, sf_dir)


def incremental_substring_rows(
    spark: SparkSession,
    sf_dir: str,
    boundary: int = BOUNDARY,
    counts_tbl: str | None = None,
) -> DataFrame:
    """Parameterized body of ``dedup_incremental_substring`` — scale runs
    place ``boundary`` per corpus; ``counts_tbl`` overrides the version-N
    artifact with a :func:`roll_forward_span_counts` fold so day D+1's
    delta probes day D's fold.

    Shape: one window pass over the delta (explode, no shuffle); the
    shared test joins the delta's spans against the bucketed stored
    statistic (only the delta side exchanges) plus the delta's own
    distinct-doc counts; masking and rollups shuffle on delta doc_ids
    only. Version-N text is never re-read."""
    stored = spark.table(
        counts_tbl
        if counts_tbl is not None
        else ensure_span_counts(spark, sf_dir, boundary)
    )
    docs = spread_delta(
        load(spark, sf_dir, "documents").filter(F.col("doc_id") >= boundary)
    )
    # the span projection feeds the delta-DF aggregate, the flagged join,
    # and the per-doc rollup — materialize once, delta-bounded (the
    # incremental_batch AQE zip-failure rationale; blocks reclaimed by the
    # ContextCleaner when the result's RDDs are GC'd).
    spans = _span_positions(docs).localCheckpoint(eager=True)
    delta_counts = _span_doc_counts(spans, "n_new")
    # merge-on-read: the stored statistic may be segmented (link-forward
    # fold — versioned_fold module doc); restrict to the delta's spans,
    # then sum per span before the threshold test.
    shared = (
        delta_counts.join(
            probe_counts(stored, delta_counts, "span", "n_old"), "span", "left"
        )
        .filter(
            F.col("n_new") + F.coalesce(F.col("n_old"), F.lit(0)) >= MIN_DOCS
        )
        .select("span")
    )
    flagged = spans.join(shared, "span").select("doc_id", "pos")
    # count_distinct instead of distinct()+count (round 13, the inline
    # twin's fix): one aggregate keyed by doc_id with a map-side partial
    # dedup of (doc_id, t), not a delta-wide distinct exchange followed
    # by a second count exchange.
    masked = (
        flagged.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (K_SPAN - 1))
            ).alias("t"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("t").alias("n_masked_tokens"))
    )
    per_doc_spans = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans")
    )
    per_doc_flagged = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_spans")
    )
    n_tok = F.size(F.split(F.lower("text"), " ")).cast("long")
    base = docs.select("doc_id", n_tok.alias("n_tokens"))
    out = (
        base.join(per_doc_spans, "doc_id", "left")
        .join(per_doc_flagged, "doc_id", "left")
        .join(masked, "doc_id", "left")
    )
    zero = F.lit(0).cast("long")
    n_masked = F.coalesce("n_masked_tokens", zero)
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_spans", zero).alias("n_spans"),
        F.coalesce("n_shared_spans", zero).alias("n_shared_spans"),
        n_masked.alias("n_masked_tokens"),
        (n_masked.cast("double") / F.col("n_tokens")).alias("masked_frac"),
    )
