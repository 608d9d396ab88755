#!/usr/bin/env python
"""Capture .explain("formatted") for registered queries into
<out_dir>/<query>_<tag>.txt, using the same session geometry as bench.py so
plan shapes match what the bench actually runs. With no query names, every
headline bench query is captured.

Usage: python tools/capture_plans.py <out_dir> <tag> [query ...]

The corpus is ``$SPARK_GRAFT_SF_DIR`` (required; the bench's sf0.1 fixture
for bench-geometry plans). Two captures of the same corpus from two
checkouts diff directly: ``diff -r`` on the two out_dirs
after renaming the tags, or per-file ``diff a/<q>_before.txt b/<q>_after.txt``.
Ids that count what the process built before a query (expression ids,
pyspark lambda-variable counters, RDD ids, exchange plan ids) and the
checkout's warehouse directory are normalised before writing, so neither
query order, earlier builds in the same process nor the checkout's path
show up as a diff.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402
from broadway_kinesis_spark import registry as _registry  # noqa: E402
from broadway_kinesis_spark.plans.audit import formatted_plan  # noqa: E402
from broadway_kinesis_spark.session import build_session  # noqa: E402

_PROCESS_IDS = (
    (re.compile(r"#\d+"), "#N"),  # expression ids: name#123, name#123L
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),  # F.transform(lambda x: ...) vars
    # RDD ids and JVM call sites: "MapPartitionsRDD[49] at localCheckpoint at
    # NativeMethodAccessorImpl.java:0" reads "<unknown>:0" once the JVM has
    # replaced its reflective accessor
    (re.compile(r"RDD\[\d+\]( at \w+)?( at [^\s,]+:\d+)?"), r"RDD[N]\1"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),  # exchange ids
)


def normalise(plan: str, warehouse: str) -> str:
    for pattern, repl in _PROCESS_IDS:
        plan = pattern.sub(repl, plan)
    return plan.replace(warehouse, "<warehouse>")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 3 or not sf_dir:
        sys.exit(__doc__)
    out_dir, tag = sys.argv[1], sys.argv[2]
    only = list(dict.fromkeys(sys.argv[3:]))
    os.makedirs(out_dir, exist_ok=True)

    queries = _registry.queries()
    if only:
        missing = sorted(set(only) - set(queries))
        if missing:
            sys.exit(f"unknown queries: {missing}")
        names = only  # in command-line order
    else:
        names = [n for n in HEADLINE if n in queries]

    spark = build_session("plan-capture", shuffle_partitions=8, adaptive=False)
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = normalise(formatted_plan(df), warehouse)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange lines -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
