"""Global anti-pattern sweep over EVERY registered query's plan.

Rounds 3 and 4's verdicts ran this audit by hand ("no unbounded collects,
no cartesians, no row-UDFs on data-sized input"); this test mechanizes it
so a regression in ANY of the 130+ registered queries — including the 80+
outside the driver's 50-slot hash window — fails CI the moment it is
introduced. Construction-only: plans are built, never executed.

Whitelists are EXPLICIT and name the reason, so adding an entry is a
reviewed decision, not an accident:
- cartesian/broadcast-NLJ: the deliberate cross-join operator, the
  1-row/scalar broadcast anchors, and the K-row centroid assignments —
  every one bounded by construction (verdict r4 audit);
- row-at-a-time Python eval: only the UDF-surface demonstrators, which
  exist to expose that API tier;
- Arrow-batch Python (MapInPandas/pandas UDFs): the multimodal decoders,
  matmul tiers, and UDF demonstrators — the sanctioned vectorized path.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from broadway_kinesis_spark.plans import formatted_plan
from broadway_kinesis_spark.plans.audit import unpartitioned_window_count

QUERIES = entrymod.queries()

#: queries allowed a CartesianProduct / BroadcastNestedLoopJoin, and why
CARTESIAN_OK = {
    "join_cross": "IS the cross-join operator (25x25 dims)",
    "join_theta": "non-equi theta predicate over two small dims",
    "similarity_ann_ivf_probe": "K-row centroid set assignment (K<=8)",
    "similarity_ann_lsh": "1-row hyperplane-profile anchor",
    "similarity_kmeans": "K-row centroid set per unrolled round",
    "dedup_semantic": "K-row seed-centroid assignment (SemDedup blocking)",
    "text_unigram_logprob": "1-row corpus-total anchor (broadcast)",
    "agg_time_decay": "1-row anchor-day scalar (broadcast)",
    "dedup_embedding_cosine": "K-row centroid blocking anchor",
    "agg_quantile_histogram": "3-row quantile-literal join vs cum>=thresh",
    "window_rolling_distinct": "day-sketch range self-join (tiny summary)",
    "similarity_ann_ivf_persisted": "stored K-row centroid broadcast",
    "similarity_ann_ivf_incremental": (
        "same stored K-row centroid broadcast, served from the rolled index"
    ),
    "dedup_incremental_semantic": (
        "K-row FROZEN seed-centroid broadcast (version N's quantizer) over"
        " the delta only (semantic_incremental.py)"
    ),
    "dedup_boilerplate": "boiler-segment array as a 1-row broadcast",
    # round 14: the ngram channel's 1-row hot-shingle broadcast (and the
    # five entries that inherited it) is GONE — the per-doc hot intersect
    # now comes from a bounded left join against the hot TABLE, never a
    # collected array (VERDICT r13 #1), so those whitelist entries with it.
    "pipeline_clean_corpus": "composes the 1-row quality-profile anchor",
    "mine_hard_negatives": "anchor-matrix scalar anchors (N_ANCHORS rows)",
    "similarity_topk_cosine": (
        "broadcast 20-row query set joined non-equi (self-pair exclusion) —"
        " the deliberate brute-force baseline the ANN variants exist to beat"
    ),
    "composite_ann_recall": (
        "composes similarity_topk_cosine (broadcast 20-row query set,"
        " non-equi) + ann_ivf_probe (K-row centroid assignment) — both"
        " bounded anchors already whitelisted above"
    ),
    "text_lang_id": "5 language profiles pivoted into a 1-row broadcast",
    "agg_heavy_hitters": "1-row token-total anchor broadcast onto gate + final filter",
    "graph_triangle_count": "1-row edge/triangle totals broadcast into the report row",
    "text_tfidf_topk": "1-row corpus-size N anchor (broadcast)",
    "sample_temperature_mix": (
        "1-row total/denominator scalar attach (broadcast) onto the"
        " per-source aggregate"
    ),
}

#: queries allowed row-at-a-time Python (BatchEvalPython), and why
ROW_PYTHON_OK = {
    "udf_python_row": "the row-UDF surface demonstrator itself",
    "udf_table_function": "the UDTF surface demonstrator",
}

#: queries allowed Arrow-batched Python, and why
ARROW_PYTHON_OK = {
    "udf_pandas_vectorized": "the pandas-UDF surface demonstrator",
    "similarity_topk_cosine_pandas": "matmul tier-1 (mapInPandas)",
    "mine_hard_negatives": "matmul tier-1 (mapInPandas)",
    "multimodal_image_stats": "pure-Python PPM/BMP decode (mapInPandas)",
    "multimodal_audio_stats": "pure-Python WAV decode (mapInPandas)",
    "multimodal_byte_features": "binary feature extraction (mapInPandas)",
    "multimodal_frame_sample": "frame sampling over binary (mapInPandas)",
    "multimodal_metadata_stats": "metadata decode (mapInPandas)",
    "similarity_quantize_int8": "vectorized quantization path",
    "dedup_image_phash": "pure-Python PPM decode + dHash (mapInPandas)",
    "dedup_incremental_imagehash": (
        "pure-Python PPM decode + dHash over the DELTA only; version N"
        " serves from the persisted band index (fingerprint_incremental.py)"
    ),
    "dedup_audio_fingerprint": "pure-Python WAV decode + envelope hash (mapInPandas)",
    "multimodal_scene_cut": "frame-delta walk over binary payloads (mapInPandas)",
    "dedup_video_temporal": (
        "pure-Python frame walk + per-frame dHash + temporal shingles, ONE"
        " Arrow stage linear in corpus bytes (videohash.py)"
    ),
    "dedup_incremental_audiohash": (
        "pure-Python WAV decode + envelope hash over the DELTA only;"
        " version N serves from the persisted band index"
        " (audiohash_incremental.py)"
    ),
    "dedup_incremental_video": (
        "frame walk + dHash + shingles over the DELTA only; version N"
        " serves from the persisted shingle index, candidates included"
        " (videohash_incremental.py)"
    ),
}


#: queries allowed per-group Arrow Python (FlatMapGroupsInPandas /
#: PythonMapInArrow / FlatMapGroupsInPandasWithState), and why. Verdict r5
#: flagged that the sweep's Python-node patterns silently exempted this
#: whole execution-node family; every entry must state its boundedness.
GROUPED_PYTHON_OK = {
    "dedup_embedding_cosine": (
        "applyInPandas per label block through the family's chunked cosine"
        " kernel, every row a delta: transient matrix _KERNEL_CHUNK x"
        " block_rows (dedup.py)"
    ),
    "dedup_incremental_embedding": (
        "applyInPandas per delta-touched label block through the family's"
        " chunked cosine kernel: delta_rows x block_rows, transient matrix"
        " _KERNEL_CHUNK x block_rows (dedup.py)"
    ),
    "dedup_semantic": (
        "applyInPandas per SemDedup cluster through the family's chunked"
        " cosine kernel, every row a delta: transient matrix _KERNEL_CHUNK"
        " x block_rows (dedup.py)"
    ),
    "dedup_incremental_semantic": (
        "applyInPandas per delta-touched cluster through the family's"
        " chunked cosine kernel: delta_rows x block_rows, transient matrix"
        " _KERNEL_CHUNK x block_rows (dedup.py)"
    ),
}

#: queries allowed an UNPARTITIONED Window node, and why bounded. A global
#: window moves all rows to one partition — allowed only over provably
#: summary-sized input (post-aggregation top-k, summary cumsum).
GLOBAL_WINDOW_OK = {
    "url_host_topk": (
        "row_number<=K over the per-host AGGREGATE (distinct hosts, not"
        " pages); lowers to WindowGroupLimit/TakeOrdered at runtime"
    ),
    "text_vocab_coverage": (
        "cumsum over the corpus VOCABULARY aggregate (distinct tokens),"
        " orders of magnitude below corpus size"
    ),
    "text_vocab_topk": (
        "row_number<=K over the vocabulary aggregate — WindowGroupLimit path"
    ),
    "agg_quantile_histogram": (
        "cumsum over histogram BUCKET rows (fixed bucket count, summary-sized)"
    ),
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_silent_antipatterns(spark, sf_dir, name):
    plan = formatted_plan(QUERIES[name](spark, sf_dir))
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        assert name in CARTESIAN_OK, (
            f"{name} plans a cartesian/NLJ and is not whitelisted:\n{plan}"
        )
    if "BatchEvalPython" in plan:
        assert name in ROW_PYTHON_OK, (
            f"{name} plans row-at-a-time Python and is not whitelisted:\n{plan}"
        )
    if "MapInPandas" in plan or "ArrowEvalPython" in plan:
        assert name in ARROW_PYTHON_OK, (
            f"{name} plans Arrow-batched Python and is not whitelisted:\n{plan}"
        )
    if (
        "FlatMapGroupsInPandas" in plan  # also matches ...WithState
        or "PythonMapInArrow" in plan
        or "MapInArrow" in plan
    ):
        assert name in GROUPED_PYTHON_OK, (
            f"{name} plans grouped/Arrow-map Python and is not whitelisted:\n{plan}"
        )
    n_global = unpartitioned_window_count(plan)
    if n_global:
        assert name in GLOBAL_WINDOW_OK, (
            f"{name} plans {n_global} UNPARTITIONED Window node(s) (all rows"
            f" to one partition) and is not whitelisted:\n{plan}"
        )


def test_whitelists_reference_only_registered_queries():
    registered = set(QUERIES)
    for wl in (
        CARTESIAN_OK,
        ROW_PYTHON_OK,
        ARROW_PYTHON_OK,
        GROUPED_PYTHON_OK,
        GLOBAL_WINDOW_OK,
    ):
        stale = set(wl) - registered
        assert not stale, f"whitelist entries for unregistered queries: {stale}"


# ---------------------------------------------------------------------------
# Injected violations: prove each sweep pattern actually FIRES. These build
# tiny violating plans directly (not via the registry) and assert the same
# detection logic the sweep uses flags them — so a regex typo can't silently
# disarm the fence.
# ---------------------------------------------------------------------------


def test_sweep_detects_injected_grouped_python(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn("g", F.col("id") % 2)

    def ident(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pdf

    bad = df.groupBy("g").applyInPandas(ident, schema=df.schema)
    plan = formatted_plan(bad)
    assert "FlatMapGroupsInPandas" in plan, plan


def test_sweep_detects_injected_map_in_arrow(spark):
    df = spark.range(10)
    bad = df.mapInArrow(lambda it: it, schema=df.schema)
    plan = formatted_plan(bad)
    assert "PythonMapInArrow" in plan or "MapInArrow" in plan, plan


def test_sweep_detects_injected_global_window(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.range(10)
    bad = df.withColumn("s", F.sum("id").over(W.orderBy("id")))
    assert unpartitioned_window_count(bad) == 1
    good = df.withColumn("g", F.col("id") % 2).withColumn(
        "s", F.sum("id").over(W.partitionBy(F.col("id") % 2).orderBy("id"))
    )
    assert unpartitioned_window_count(good) == 0
