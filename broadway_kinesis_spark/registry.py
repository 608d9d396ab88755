"""Query registry: named (Spark callable, DuckDB-oracle SQL) pairs.

Every operator from SURVEY.md §2 registers here via the :func:`query`
decorator. ``__spark_entry__.py`` re-exports :func:`queries` /
:func:`oracle_sql` so the driver's DuckDB-differential harness can run each
Spark plan side-by-side with ANSI SQL over the same parquet.

Contract notes (driver compares row-count + schema + order-insensitive
value hash, columns sorted by name):
- alias EVERY computed column identically in Spark and SQL;
- round floating aggregates in BOTH plans so partial-aggregation order
  (which differs between engines and between runs at scale) cannot flip a
  ULP across the hash;
- break window/top-k ties with a unique key in BOTH plans.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver runs weaker rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a named query, optionally with its oracle SQL.

    The registered callable tunes the (driver-owned) session first, so every
    query sees UTC session time + AQE regardless of who built the session.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from broadway_kinesis_spark.session import (
                reset_shuffle_partitions,
                tune,
            )

            s = tune(spark)
            # undo any prior query's corpus-sized shuffle inflation before
            # this one plans (session.size_shuffle_partitions / ADVICE r7)
            reset_shuffle_partitions(s)
            return fn(s, sf_dir)

        REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    # Imported lazily so `import broadway_kinesis_spark` stays cheap and so a
    # syntax error in one operator family surfaces at registry access, where
    # tests catch it.
    from broadway_kinesis_spark.operators import (  # noqa: F401
        aggregates,
        ann_incremental,
        ann_persist,
        ann_report,
        asof,
        audiohash,
        audiohash_incremental,
        bigram,
        bloom,
        bpe_train,
        bucketed,
        cdc,
        chunking,
        classifier,
        clustering,
        composite,
        containment,
        containment_bottomk,
        containment_incremental,
        contrastive,
        cumdistinct,
        curation_report,
        daily_increment,
        curation,
        decay,
        dedup,
        dedup_persist,
        dedup_report,
        embedding_incremental,
        fingerprint_incremental,
        fuzzy_incremental,
        epoch_build,
        funnel,
        graph,
        heavyhitters,
        imagehash,
        incremental_batch,
        interpolate,
        joins,
        minhash_incremental,
        multimodal,
        paragraphs,
        partitioned,
        pipeline_ops,
        profiling,
        quantiles,
        rangejoin,
        regression,
        relational,
        rolling,
        sampling,
        scalars,
        scd,
        scenecut,
        semantic,
        semantic_incremental,
        simhash_incremental,
        similarity,
        sketch_merge,
        skew,
        split_incremental,
        splits,
        subqueries,
        substring_incremental,
        substring_spans,
        textops,
        textstats,
        triangles,
        urls,
        videohash,
        videohash_incremental,
        windows,
        winsorize,
    )
    from broadway_kinesis_spark.functions import udfs  # noqa: F401
    from broadway_kinesis_spark.streaming import batch_twins  # noqa: F401


# The grading driver checks the FIRST 50 entries of queries() against their
# oracles; the explicit _PRIORITY tuple IS that window. The rotation policy
# is MECHANICAL, enforced by tests/test_registry_window.py (the source of
# truth): (a) every never-green query must hold a slot; (b) every query
# whose implementing code (module + transitive intra-package imports)
# changed since its last green driver round must hold a slot; (c) remaining
# slots fill with the OLDEST-green rows so signal currency improves across
# the registry. Any overflow must be declared in _DEFERRED explicitly.
_PRIORITY: tuple[str, ...] = (
    # VersionedArtifact window. Demand is 26: every query whose closure
    # reaches functions/versioned_fold.py or functions/table_build.py (the
    # incremental warehouse families, the bucketed/partitioned layouts and
    # the persisted dedup/split tiers). The 24 remaining slots keep the
    # round-14 window's other rows; the eight join_*/multimodal_* filler
    # rows rotate out (all green at round 14, outside any planned edit).
    # dedup_image_phash and dedup_audio_fingerprint (their builders are
    # shared with the incremental channels) take the slots of
    # composite_curation_report and pipeline_quality_funnel.
    "composite_dedup_recall",
    "composite_fuzzy_blocking_recall",
    "composite_local_supplier_volume",
    "composite_returned_items",
    "composite_shipping_priority",
    "composite_user_retention",
    "dedup_boilerplate",
    "dedup_audio_fingerprint",
    "dedup_cluster_cc",
    "dedup_containment",
    "dedup_containment_bottomk",
    "dedup_containment_bottomk_persisted",
    "dedup_embedding_cosine",
    "dedup_exact_docs",
    "dedup_fuzzy_prefix",
    "dedup_image_phash",
    "dedup_incremental",
    "dedup_incremental_audiohash",
    "dedup_incremental_containment",
    "dedup_incremental_embedding",
    "dedup_incremental_fuzzy",
    "dedup_incremental_fuzzy_tight",
    "dedup_incremental_imagehash",
    "dedup_incremental_minhash",
    "dedup_incremental_minhash_90",
    "dedup_incremental_ngram",
    "dedup_incremental_persisted",
    "dedup_incremental_semantic",
    "dedup_incremental_simhash",
    "dedup_incremental_substring",
    "dedup_incremental_video",
    "dedup_keep_best",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_persisted",
    "dedup_semantic",
    "dedup_simhash",
    "dedup_split_incremental_assign",
    "dedup_split_leakage_safe",
    "dedup_split_leakage_safe_persisted",
    "dedup_split_leakage_safe_tiered",
    "dedup_split_leakage_safe_tiered_persisted",
    "dedup_video_temporal",
    "graph_pagerank",
    "graph_pagerank_bucketed",
    "join_bucketed",
    "pipeline_clean_corpus",
    "pipeline_clean_corpus_best",
    "pipeline_daily_increment",
    "scan_partition_pruned",
    )

# Queries whose staleness rule demands a window slot but which the 50-slot
# window cannot hold: none — demand is 48 of the 50 slots, so
# the overflow mechanism is unused.
_DEFERRED: tuple[str, ...] = ()


def _ordered() -> list[Query]:
    _load_all_modules()
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:  # registration drift — fail loudly, not silently reorder
        raise KeyError(f"_PRIORITY names not registered: {missing}")
    prio = set(_PRIORITY)
    rest = [q for n, q in REGISTRY.items() if n not in prio]
    return [REGISTRY[n] for n in _PRIORITY] + rest


def queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}
