"""Physical-plan audits (SURVEY.md §4.2 discipline): pin the Catalyst
properties the 100 TB posture depends on — pushdown, pruning, broadcast,
codegen, shuffle counts — so a refactor that silently loses one fails CI."""

from __future__ import annotations

import pytest

from broadway_kinesis_spark.plans import (
    assert_plan,
    broadcast_join_count,
    formatted_plan,
    pushed_filters,
    read_schemas,
    shuffle_count,
    wholestage_codegen_spans,
)

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def test_scan_project_filter_pushes_and_prunes(spark, sf_dir):
    df = QUERIES["scan_project_filter"](spark, sf_dir)
    assert pushed_filters(df), "no filters pushed to the parquet scan"
    # projection + predicates reference 9 of lineitem's 11 columns; the scan
    # must not read the other two
    assert all(len(cols) <= 9 for cols in read_schemas(df)), read_schemas(df)


def test_pricing_summary_prunes_to_referenced_columns(spark, sf_dir):
    df = QUERIES["pricing_summary"](spark, sf_dir)
    # needs exactly: returnflag, linestatus, quantity, extendedprice,
    # discount, tax, shipdate = 7 of 11 columns
    assert_plan(
        df,
        pushed=["l_shipdate"],
        max_read_cols={"lineitem": 7},
        name="pricing_summary",
    )


def test_join_broadcast_is_broadcast_and_fact_side_not_shuffled(spark, sf_dir):
    df = QUERIES["join_broadcast"](spark, sf_dir)
    assert_plan(
        df,
        pushed=["p_size"],
        min_broadcast_joins=1,
        max_read_cols={"lineitem": 2, "part": 3},
        name="join_broadcast",
    )
    # lineitem joins by broadcast -> the only exchange is the final agg's
    assert shuffle_count(df) <= 1, formatted_plan(df)


def test_join_inner_broadcasts_dim_chain(spark, sf_dir):
    df = QUERIES["join_inner"](spark, sf_dir)
    assert broadcast_join_count(df) >= 1, formatted_plan(df)


def test_semi_join_planned_not_cartesian(spark, sf_dir):
    df = QUERIES["join_semi"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_asof_join_is_single_shuffle_window_not_range_join(spark, sf_dir):
    """The union-merge as-of must NOT plan a per-key nested loop; its cost
    shape is one hash exchange + in-partition sort (plus tiny agg-side
    exchanges), like a sort-merge join."""
    df = QUERIES["asof_join"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_topk_uses_window_group_limit(spark, sf_dir):
    """Per-group top-k must push the rank filter below the shuffle
    (WindowGroupLimit): partial top-k per map partition."""
    df = QUERIES["window_topk_per_group"](spark, sf_dir)
    assert "WindowGroupLimit" in formatted_plan(df), formatted_plan(df)


def test_queries_keep_wholestage_codegen(spark, sf_dir):
    """AQE's formatted plan hides codegen markers before execution, so the
    audit builds these plans with AQE off (runtime behavior is identical —
    AQE re-optimizes stages, it doesn't remove codegen)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("pricing_summary", "join_inner", "text_token_stats"):
            df = QUERIES[name](spark, sf_dir)
            assert wholestage_codegen_spans(df) >= 1, f"{name} lost codegen"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_similarity_broadcasts_query_set(spark, sf_dir):
    """Brute-force scoring joins on a non-equi condition (cand != query), so
    the correct plan is a Broadcast NESTED LOOP join building the tiny query
    side — the candidate table streams, nothing shuffles until top-k."""
    plan = formatted_plan(QUERIES["similarity_topk_cosine"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan and "BuildRight" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_metadata_stats_never_reads_payload(spark, sf_dir):
    """Multimodal metadata query must scan only the columns feeding the
    metadata struct — the payload/text bytes stay unread... at least as far
    as pruning can go (text feeds n_bytes here, so the real assertion is: a
    single narrow column, not the full table)."""
    df = QUERIES["multimodal_metadata_stats"](spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas and all(len(cols) <= 1 for cols in schemas), schemas


def test_unpivot_is_single_expand_one_scan(spark, sf_dir):
    """unpivot must plan ONE parquet scan + a single Expand (4x row fan-out
    in-memory), not the oracle's 4-scan UNION ALL — at 100 TB that is a 4x
    read-amplification difference."""
    df = QUERIES["unpivot_measures"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan
    assert len(read_schemas(df)) == 1, plan


def test_range_join_uses_equi_key_not_cartesian(spark, sf_dir):
    df = QUERIES["join_range_interval"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_composite_queries_push_selective_filters(spark, sf_dir):
    """Q3/Q5/Q10 shapes: every selective predicate (segment, dates,
    returnflag, region) must reach its parquet scan — the shuffled volume
    is the selected subset, never the table."""
    expects = {
        "composite_shipping_priority": ("c_mktsegment,BUILDING", "o_orderdate", "l_shipdate"),
        "composite_local_supplier_volume": ("r_name,ASIA", "o_orderdate"),
        "composite_returned_items": ("l_returnflag,R", "o_orderdate"),
    }
    for name, frags in expects.items():
        pushed = " | ".join(pushed_filters(QUERIES[name](spark, sf_dir)))
        for frag in frags:
            assert frag in pushed, f"{name}: {frag!r} not pushed ({pushed})"


def test_composite_topk_avoids_global_sort(spark, sf_dir):
    """The LIMIT-k over an aggregated measure must plan as
    TakeOrderedAndProject (per-partition heaps), not a full Sort."""
    for name in ("composite_shipping_priority", "composite_returned_items"):
        plan = formatted_plan(QUERIES[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, f"{name}: {plan}"


def test_composite_q5_broadcasts_region_nation(spark, sf_dir):
    """region⋈nation must broadcast into the customer side — the fact
    tables never shuffle for dimension joins."""
    df = QUERIES["composite_local_supplier_volume"](spark, sf_dir)
    assert broadcast_join_count(df) >= 2, formatted_plan(df)


def test_tfidf_construction_launches_no_jobs(spark, sf_dir):
    """The corpus size N must enter the plan as a 1-row broadcast cross-join,
    not a driver-side .count(): constructing the DataFrame may launch ZERO
    Spark jobs (an eager action at plan-build time is a scale-killer when
    query construction sits in a hot loop or a planner)."""
    import __spark_entry__ as entrymod

    from broadway_kinesis_spark.session import load

    load(spark, sf_dir, "documents")  # warm the one-time schema inference
    sc = spark.sparkContext
    group = "tfidf-construction-probe"
    sc.setJobGroup(group, "probe", interruptOnCancel=False)
    try:
        df = entrymod.queries()["text_tfidf_topk"](spark, sf_dir)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs == [], f"construction launched jobs: {jobs}"
    assert df.columns == ["doc_id", "token", "score"]


def test_stream_stream_join_twin_is_hash_join_not_cartesian(spark, sf_dir):
    """The interval predicate must ride an equi hash/sort-merge join on
    user_id, never a nested-loop cartesian."""
    plan = formatted_plan(QUERIES["stream_stream_join_twin"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan
    assert pushed_filters(QUERIES["stream_stream_join_twin"](spark, sf_dir)), (
        "event_type filters should push to the scans"
    )


def test_kmeans_broadcasts_centroids(spark, sf_dir):
    """Both Lloyd iterations must broadcast the k x dim centroid table (a
    conditionless crossJoin plans as BroadcastNestedLoopJoin-Cross building
    the tiny centroid side); the vector side itself never shuffles for the
    assign step, and nothing plans a CartesianProduct."""
    plan = formatted_plan(QUERIES["similarity_kmeans"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_pipeline_clean_corpus_pushes_quality_gate(spark, sf_dir):
    """The n_chars quality floor is a plain column predicate — it must reach
    the parquet scan so unqualified docs are never materialized."""
    df = QUERIES["pipeline_clean_corpus"](spark, sf_dir)
    assert any("n_chars" in f for f in pushed_filters(df)), pushed_filters(df)


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The held-out benchmark gram set is tiny vs the corpus; the
    contamination probe must be a broadcast join on gram (never a shuffled
    join of two exploded gram tables), and the doc_id filters that split
    bench from corpus must reach the scans."""
    df = QUERIES["dedup_decontaminate"](spark, sf_dir)
    assert broadcast_join_count(df) >= 1, formatted_plan(df)
    assert pushed_filters(df), "bench/corpus doc_id split not pushed to scan"


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    """Packing shuffles once on the (lang, shard) window key; the chunk agg
    is keyed by a superset (lang, shard, chunk_id) of the window key, so the
    exchange is reused — 1 shuffle total, not 2."""
    df = QUERIES["pack_sequences"](spark, sf_dir)
    assert shuffle_count(df) <= 1, formatted_plan(df)


def test_quantize_int8_is_shuffle_free_projection(spark, sf_dir):
    """int8 quantization is a pure per-row projection: zero exchanges, and
    the scan reads only (vec_id, embedding)."""
    df = QUERIES["similarity_quantize_int8"](spark, sf_dir)
    assert shuffle_count(df) == 0, formatted_plan(df)
    assert all(len(cols) <= 2 for cols in read_schemas(df)), read_schemas(df)


def test_histogram_reads_two_columns_only(spark, sf_dir):
    df = QUERIES["agg_histogram"](spark, sf_dir)
    assert all(len(cols) <= 2 for cols in read_schemas(df)), read_schemas(df)
    assert shuffle_count(df) <= 1, formatted_plan(df)


def test_pii_scrub_is_pushed_shuffle_free_projection(spark, sf_dir):
    """Pseudonymization + redaction is pure per-row work: the event_id
    bound reaches the scan, only the three referenced columns are read,
    and nothing exchanges."""
    df = QUERIES["pii_scrub"](spark, sf_dir)
    assert any("event_id" in f for f in pushed_filters(df)), pushed_filters(df)
    assert all(len(cols) <= 3 for cols in read_schemas(df)), read_schemas(df)
    assert shuffle_count(df) == 0, formatted_plan(df)


def test_epoch_shuffle_is_sharded_not_single_partition(spark, sf_dir):
    """The training-order shuffle must hash-partition on shard_id and sort
    within shards — exactly one exchange, and NEVER the single-partition
    exchange a global row_number() would plan (the 100 TB non-starter)."""
    df = QUERIES["sample_epoch_shuffle"](spark, sf_dir)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_data_mix_broadcasts_weights_no_cartesian(spark, sf_dir):
    """The 4-row weight dim must broadcast onto the corpus scan (the fact
    side never shuffles for it); the single-pass audit (VERDICT r3 #7)
    leaves exactly ONE exchange — the per-source aggregation — and nothing
    plans a cartesian."""
    df = QUERIES["data_mix_weighted"](spark, sf_dir)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) >= 1, plan
    assert "CartesianProduct" not in plan, plan
    assert shuffle_count(df) <= 1, plan


def test_epoch_build_is_one_exchange_pipeline(spark, sf_dir):
    """Curate -> shuffle -> pack composes into ONE plan whose only
    exchange is the shard hash: the gate is pushed into the scan side, the
    packing window and the chunk aggregation ride the shuffle's
    partitioning, and nothing plans a single-partition global sort."""
    df = QUERIES["pipeline_epoch_build"](spark, sf_dir)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_bucketed_join_query_is_exchange_free_smj(spark, sf_dir):
    """The registered join_bucketed query must actually run from bucketed
    storage: with broadcast disabled, the lineitem ⋈ orders join plans a
    sort-merge join with NO exchange on either input — the only shuffle in
    the whole plan is the final status aggregation."""
    from broadway_kinesis_spark.plans import formatted_plan, shuffle_count

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_bucketed"](spark, sf_dir)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan, plan
        assert shuffle_count(df) <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_vocab_coverage_topk_is_bounded_and_vocab_broadcasts(spark, sf_dir):
    """The global vocabulary top-K must plan as TakeOrderedAndProject
    (limit pushed through the rank window: partitions forward at most K
    rows, so the rank window runs over K rows total, never the whole
    vocabulary), and the K-row vocabulary must broadcast onto the token
    stream rather than shuffling it."""
    df = QUERIES["text_vocab_coverage"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert broadcast_join_count(df) >= 1, plan
    assert shuffle_count(df) <= 3, plan


def test_quality_funnel_is_single_scan_single_shuffle(spark, sf_dir):
    """All four gates must reduce in ONE pass: a shuffle-free flag
    projection, one map-side-combinable aggregation (the only exchange),
    and a stack unpivot of the single survivor row — adding gates must
    never add scans or shuffles."""
    df = QUERIES["pipeline_quality_funnel"](spark, sf_dir)
    plan = formatted_plan(df)
    assert shuffle_count(df) <= 1, plan
    assert len(read_schemas(df)) == 1, plan


def test_semantic_dedup_assignment_broadcasts_pairs_stay_equi(spark, sf_dir):
    """Centroid assignment must be a broadcast nested-loop over the K seed
    rows (a projection of the vector stream, not a shuffle of it), and the
    within-cluster pair generation must remain an equi-join on the cluster
    id — a CartesianProduct would mean the learned blocking key was lost
    and pair work went corpus-wide."""
    df = QUERIES["dedup_semantic"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_unigram_logprob_scalar_broadcasts_and_no_cartesian(spark, sf_dir):
    """The corpus-total scalar must ride in as a broadcast nested-loop
    cross join (one row), never a CartesianProduct; the scoring join and
    the two aggregation passes bound the shuffle count."""
    df = QUERIES["text_unigram_logprob"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert shuffle_count(df) <= 5, plan


def test_salted_join_is_shuffled_on_salt_not_broadcast(spark, sf_dir):
    """The salting demo must run in the regime it exists for: a shuffled
    sort-merge join whose key includes the salt (spreading any hot suppkey
    across SALTS tasks). A broadcast would make the salt meaningless and a
    cartesian would mean the equi-key was lost."""
    df = QUERIES["join_salted_skew"](spark, sf_dir)
    plan = formatted_plan(df)
    assert broadcast_join_count(df) == 0, plan
    assert "SortMergeJoin" in plan, plan
    assert "_salt" in plan, plan
    assert "CartesianProduct" not in plan


def test_correlated_subquery_is_decorrelated(spark, sf_dir):
    """Catalyst must rewrite the two correlated scalar subqueries into
    grouped aggregates joined back on o_custkey — never a per-row
    re-execution (no nested cartesian / loop join in the plan)."""
    df = QUERIES["subquery_correlated_avg"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert broadcast_join_count(df) + plan.count("SortMergeJoin") >= 1, plan


def test_boilerplate_applies_via_broadcast_set_not_per_doc_join(
    spark, sf_dir, monkeypatch
):
    """The boilerplate EDIT must be a projection: the small repeated-segment
    set rides a broadcast single-row cross join onto each document (a
    BroadcastNestedLoopJoin over one row), never a per-segment equi-join +
    per-doc re-aggregation; both scans prune documents to (doc_id, text).
    The exchange budget is the at-scale plan: ``scan_is_small`` is forced
    to its big-corpus branch, so the fixture-only ``spread_small_scan``
    repartitions (one per document scan) stay out of the count."""
    from broadway_kinesis_spark import session

    monkeypatch.setattr(session, "scan_is_small", lambda *args: False)
    df = QUERIES["dedup_boilerplate"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert all(len(cols) <= 2 for cols in read_schemas(df)), read_schemas(df)
    # ONE map-side-combinable freq exchange (per-doc array_distinct before
    # the explode — not a two-exchange count-distinct) + the 1-row collect
    assert shuffle_count(df) <= 2, plan


def test_sketch_merge_is_two_level_and_raw_keys_stop_at_level_one(spark, sf_dir):
    """Both HLL levels must plan as aggregates (partial sketches map-side,
    union reduce-side); only the orders scan feeds them (no extra scan per
    level) and the exact-branch join broadcasts."""
    df = QUERIES["agg_sketch_merge"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("hll_sketch_agg") + plan.count("hll_union_agg") >= 2, plan
    assert broadcast_join_count(df) >= 1, plan
    assert all(len(cols) <= 3 for cols in read_schemas(df)), read_schemas(df)


def test_cdc_merge_is_one_scan_window_then_key_agg(spark, sf_dir):
    """MERGE classification: one events scan, the latest-per-(key, side)
    window exchange, then the side-pivot aggregation on the key — after the
    window only ONE ROW PER (key, side) moves. No join anywhere: the
    base-vs-batch full-outer merge dissolves into conditional aggregation."""
    df = QUERIES["cdc_merge_upsert"](spark, sf_dir)
    plan = formatted_plan(df)
    assert len(read_schemas(df)) == 1, read_schemas(df)
    assert shuffle_count(df) == 2, plan
    assert "Join" not in plan, plan


def test_interpolation_is_single_scan_no_spine_join(spark, sf_dir):
    """Densification must not re-scan events for the spine: one scan, the
    cell aggregation, and the per-type series row — spine generation and
    neighbor windows reuse the series partitioning (no join in the plan)."""
    df = QUERIES["window_interpolate_linear"](spark, sf_dir)
    plan = formatted_plan(df)
    assert len(read_schemas(df)) == 1, read_schemas(df)
    assert "Join" not in plan, plan
    assert shuffle_count(df) <= 2, plan


def test_hard_negatives_matmul_tier_corpus_never_shuffles(spark, sf_dir):
    """Tier 1 must be the Arrow matmul scan (MapInPandas over the corpus —
    a map-side partial top-k, no corpus shuffle); tier 2's rerank must
    broadcast the EXPLICITLY-HINTED candidate-pair side (two longs per
    row) so the corpus vector side streams — the hint, not the 10 MB
    auto-broadcast threshold, is what carries the invariant past fixture
    scale. The only exchange is the per-anchor top-k window."""
    df = QUERIES["mine_hard_negatives"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert broadcast_join_count(df) >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert shuffle_count(df) == 1, plan


def test_pagerank_iterations_are_joins_plus_aggs_no_cartesian(spark, sf_dir):
    """Each unrolled PageRank round must plan as an equi-join of edges
    against the rank vector plus a map-side-combinable aggregation on the
    destination — never a cartesian; the whole recurrence stays one lazy
    plan (no driver-side actions between rounds, so building the DataFrame
    launches no jobs)."""
    from broadway_kinesis_spark.operators.graph import ITERS

    df = QUERIES["graph_pagerank"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= ITERS, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-k never global-sorts


def test_pagerank_edge_list_shuffles_once_not_per_round(spark, sf_dir):
    """The static edge/degree subtrees repeat across the unrolled rounds;
    ReuseExchange must dedupe them so the edge list pays its shuffle ONCE —
    built with AQE off (the bench config; under AQE the same reuse happens
    at runtime stage materialization instead of in the static plan)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES["graph_pagerank"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_rolling_distinct_sketch_path_scans_events_once(spark, sf_dir):
    """The sketch path must collapse raw events in ONE pass to per-day HLL
    blobs and roll the window over the day-sketch table only. The exact
    branch (assertion grounding) is the sole W-way re-touch of events —
    so the plan reads events at most twice, never once per window day."""
    df = QUERIES["window_rolling_distinct"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("hll_sketch_agg") >= 1 and plan.count("hll_union_agg") >= 1, plan
    # sketch pass + exact grounding branch + two day-anchor derivations:
    # every scan prunes to <=2 of events' 6 columns, and the scan count is
    # a constant 4 — NOT a function of the window width (the naive plan
    # re-reads events once per window day).
    schemas = read_schemas(df)
    assert len(schemas) <= 4, schemas
    assert all(len(cols) <= 2 for cols in schemas), schemas
    assert "CartesianProduct" not in plan, plan
