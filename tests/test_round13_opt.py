"""Round-13 OPTIMIZATION fences.

The round's rule: an optimization that changes an operator's internals
gets a focused test. Three internals changed:

1. ``session.spread_small_scan`` — the guarded cores-wide redistribution
   for CPU-heavy per-row pipelines. Fences: (a) it spreads a small scan
   (RepartitionByExpression present, heavy projection ABOVE it);
   (b) the guard makes it a NO-OP when the bytes estimate says the scan
   already has >= cores splits (the 100 TB case, simulated by shrinking
   ``maxPartitionBytes``); (c) unknown source size -> no-op.
2. ``session.size_shuffle_partitions`` — the CPU floor.
   Fence: result >= defaultParallelism while the bytes rule still
   dominates for large corpora (monotonicity unchanged).
3. ``dedup_ngram_jaccard``'s candidate+verify rewrite (broadcast
   anti-join df-cap, in-place pair explode, hot/uncapped intersection
   split). Fence: on a synthetic corpus BUILT to exercise the split — a
   genuinely hot shingle block (df > DF_CAP) whose members also share
   uncapped shingles — the query's (d1, d2, jaccard) rows equal a
   pure-python mirror of the ORIGINAL semantics (window df-cap on
   candidates, full-set exact Jaccard including hot shingles).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from broadway_kinesis_spark.session import (
    size_shuffle_partitions,
    spread_small_scan,
)

QUERIES = entrymod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_small_scan_spreads_small_input(spark, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    out = spread_small_scan(df, sf_dir, ("documents",), "doc_id")
    plan = _plan(out.select(F.md5("text").alias("h")))
    assert "REPARTITION_BY_NUM" in plan or "RepartitionByExpression" in plan, plan
    # the heavy projection must sit ABOVE the exchange (the whole point):
    # md5 appears before (higher than) the repartition exchange in the tree
    assert plan.index("md5") < plan.index("REPARTITION_BY_NUM"), plan


def test_spread_small_scan_noop_at_scale_estimate(spark, sf_dir):
    """Simulate the at-scale geometry: with maxPartitionBytes tiny, the
    bytes estimate says the scan already has >= cores splits, so the
    helper must leave the plan alone (no exchange added)."""
    df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    base = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        out = spread_small_scan(df, sf_dir, ("documents",), "doc_id")
        assert out is df  # identity: no node added at all
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", base)


def test_spread_small_scan_noop_on_unknown_source(spark, sf_dir):
    df = spark.range(10)
    out = spread_small_scan(df, sf_dir, ("no_such_table",), "id")
    assert out is df


def test_cpu_floor_sizes_to_cores(spark, sf_dir, monkeypatch):
    from broadway_kinesis_spark import session
    from broadway_kinesis_spark.session import reset_shuffle_partitions

    cores = spark.sparkContext.defaultParallelism
    try:
        parts = size_shuffle_partitions(spark, sf_dir)
        assert parts >= cores
        # and the bytes rule still dominates when it asks for more: a
        # fake huge expansion must exceed the floor
        monkeypatch.setattr(session, "INDEX_SHUFFLE_EXPANSION", 1 << 24)
        parts_big = size_shuffle_partitions(spark, sf_dir)
        assert parts_big > parts
    finally:
        reset_shuffle_partitions(spark)


def test_ngram_jaccard_hot_split_matches_bruteforce(spark):
    """Synthetic corpus exercising the round-13 intersection split: one
    shingle block hotter than DF_CAP shared by docs that ALSO share
    uncapped shingles, so n_common = uncapped_count + hot_overlap on the
    surviving pairs. Mirror = original semantics, brute force."""
    from broadway_kinesis_spark.operators.dedup import DF_CAP, JACCARD_T

    hot_core = "alpha beta gamma"  # one 3-gram block shared corpus-wide
    docs = []
    # DF_CAP + 5 docs all carry the hot core -> its shingles are capped
    for i in range(DF_CAP + 5):
        docs.append((i, f"{hot_core} filler{i} x{i} y{i} z{i}"))
    # two near-dup pairs that overlap on hot AND uncapped shingles
    docs.append((500, f"{hot_core} shared tail of words one two"))
    docs.append((501, f"{hot_core} shared tail of words one three"))
    docs.append((600, "totally different text with no overlap at all"))

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(
            os.path.join(td, "documents.parquet")
        )
        got = {
            (r.d1, r.d2, round(r.jaccard, 12))
            for r in QUERIES["dedup_ngram_jaccard"](spark, td).collect()
        }

    # pure-python mirror of the ORIGINAL plan's semantics
    def shingles(text):
        w = text.lower().split(" ")
        return {
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()

    sets = {d: shingles(t) for d, t in docs}
    df_count: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    expect = set()
    ids = sorted(sets)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            shared_uncapped = {
                g
                for g in sets[d1] & sets[d2]
                if df_count[g] <= DF_CAP
            }
            if not shared_uncapped:
                continue  # not a candidate (cap semantics)
            inter = len(sets[d1] & sets[d2])
            jac = inter / (len(sets[d1]) + len(sets[d2]) - inter)
            if jac >= JACCARD_T:
                expect.add((d1, d2, round(jac, 12)))
    assert got == expect
    assert expect, "fixture must produce at least one surviving pair"
