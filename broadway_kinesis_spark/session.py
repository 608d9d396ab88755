"""SparkSession factory and table loading.

The driver harness passes its own ``SparkSession`` into each query; we never
assume we built it. ``tune()`` applies the runtime-settable knobs every query
needs for deterministic, scale-ready plans; ``build_session()`` is for local
tests / bench runs.

Scale posture: AQE on (runtime join re-selection, skew splitting, partition
coalescing), UTC session time so timestamp semantics match the naive-UTC
parquet fixtures, and Arrow enabled for any pandas-UDF path. Shuffle
partitions are left to AQE coalescing rather than hand-tuned per scale
factor — at 100 TB the initial number comes from cluster config, and AQE
right-sizes each exchange at runtime.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Weak so a stopped session's entry dies with it — an id()-keyed set let a
# new session recycling a collected one's id SKIP tuning entirely (the same
# stale-identity class as _BASE_SHUFFLE, ADVICE r8, but here the wrong
# outcome is an untuned session: non-UTC timestamps, AQE off).
_TUNED_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session conf a query relies on (idempotent).

    Only confs settable after session start are touched, so this is safe on
    a session the driver owns.
    """
    if spark in _TUNED_SESSIONS:
        return spark
    conf = {
        # Naive-UTC timestamps end-to-end: parquet fixtures are written
        # timezone-less, the DuckDB oracle is timezone-less, so the session
        # must not re-interpret walls-clock values.
        "spark.sql.session.timeZone": "UTC",
        # AQE: runtime re-planning (join strategy switch, skew-join split,
        # shuffle-partition coalescing). Core of the 100 TB posture.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Let AQE re-plan (coalesce) stages under cached subtrees too —
        # otherwise one .cache() pins the static 200-partition layout for
        # everything feeding it.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # Right-sized for the harness host (local[32], sf <= 0.1); on a real
        # cluster this comes from cluster config and AQE coalesces per stage.
        "spark.sql.shuffle.partitions": "32",
        # Arrow batches for any pandas UDF / toPandas path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events.parquet stores TIMESTAMP(NANOS) which Spark rejects by
        # default; read as raw nanos and convert in load() (ns → µs floor,
        # matching DuckDB's truncation).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf locked by the driver's session is non-fatal.
            pass
    _TUNED_SESSIONS.add(spark)
    return spark


def build_session(
    app_name: str = "broadway-kinesis-spark",
    shuffle_partitions: int | None = None,
    adaptive: bool = True,
) -> SparkSession:
    """Local session for tests/bench: ``local[$SPARK_GRAFT_CPUS]`` (default all cores).

    ``adaptive=False`` is for sub-GB bench runs only: AQE materializes each
    shuffle stage to re-plan, adding 1-2 extra scheduling round-trips per
    query — measured ~30% of wall-clock at sf0.1 where every stage is tiny
    and nothing needs re-planning. At real scale AQE pays for itself
    (skew-join splitting, runtime broadcast switch) and stays on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true" if adaptive else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # Local fixture files are 10-100 MB; the 128 MB default would scan
        # each as ONE split. 8 MB keeps a ~100 MB table at ~cores/2-way scan
        # parallelism. Cluster deployments size this from executor memory /
        # target split count instead (BASELINE.md contract note).
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _TUNED_SESSIONS.add(spark)
    return spark


# NOTE: an earlier revision carried rebalance_small_scan() here — an
# O(1)-guarded round-robin exchange for CPU-heavy stages over unsplittable
# single-row-group files. The scaled-long sum rewrite (functions/numeric.py)
# made every former call site faster WITHOUT the exchange (primitive long
# sums don't need cores-wide parallelism at fixture scale, and the exchange
# cost more than it saved), so the helper was removed. Round 13 brings the
# idea back as :func:`spread_small_scan` for the per-row-EXPENSIVE
# projections (regex canonicalization, salted-hash signatures) where the
# compute, not the sum, is the bottleneck: those pipelines measured 3-8x
# the exchange cost running single-task over single-row-group fixtures.


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    try:
        raw = spark.conf.get(key)
    except Exception:
        return default
    if not raw:
        return default
    units = {"k": 10, "m": 20, "g": 30, "t": 40}
    raw = raw.strip().lower().removesuffix("b")
    try:
        if raw[-1] in units:
            # float math BEFORE the shift: "1.5g" is 1.5 GiB, not 1
            # (ADVICE r7 — int(float(...)) << unit truncated "0.5g" to 0)
            return int(float(raw[:-1]) * (1 << units[raw[-1]]))
        return int(raw)
    except (ValueError, IndexError):
        return default


def _table_bytes(sf_dir: str, table: str) -> int | None:
    """On-disk bytes of one parquet source, or ``None`` when it is missing.
    A source may be a single file (the fixtures) or a directory-layout
    table (standard Spark output) — for a directory, ``st_size`` is the
    ~4 KB inode size, which silently under-estimated scan parallelism to 1
    (ADVICE r13), so directories sum their data files instead."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if not os.path.isdir(path):
            return os.stat(path).st_size
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.stat(os.path.join(root, f)).st_size
        return total
    except OSError:
        return None


def _source_bytes(sf_dir: str, tables: tuple[str, ...]) -> int | None:
    """Total on-disk bytes of the named parquet sources, or ``None`` when
    any is missing."""
    sizes = [_table_bytes(sf_dir, t) for t in tables]
    return None if None in sizes else sum(sizes)


def scan_is_small(spark: SparkSession, sf_dir: str, tables: tuple[str, ...]) -> bool:
    """True when the named sources are estimated to scan with FEWER splits
    than the session has cores — the O(1) bytes ÷ ``maxPartitionBytes``
    test ``spread_small_scan`` guards its exchange with, exposed so other
    scale-adaptive decisions (e.g. keeping a broadcast hint only while the
    corpus is provably tiny) share the same estimate. Unknown sources
    return False: at unknown scale, assume big and leave plans alone."""
    total = _source_bytes(sf_dir, tables)
    if total is None:
        return False
    cores = max(spark.sparkContext.defaultParallelism, 1)
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    est_tasks = -(-total // max(max_pb, 1))
    return est_tasks < cores


def spread_small_scan(
    df: DataFrame, sf_dir: str, tables: tuple[str, ...], *key_cols: str
) -> DataFrame:
    """Hash-redistribute a scan across the session's full parallelism BEFORE
    a CPU-heavy per-row pipeline (regex canonicalization, salted-hash
    signature passes, banded edit distance) — guarded so it is a NO-OP at
    scale (guide §2: scale-adaptive partitioning, never a local constant).

    Why: parquet splits at row-group boundaries, so a small or compacted
    input (one row group, or fewer splits than cores) runs its entire scan
    stage — and every projection fused into it — on a handful of tasks
    while the rest of the cluster idles. A 100 TB scan has thousands of
    splits and never needs this; the guard estimates scan parallelism from
    the source bytes and only pays the (input-sized, narrow — callers
    select first) exchange when the estimate falls below the session's
    ``defaultParallelism``. Deterministic hash keys (never rand/round-robin)
    so task retries reproduce the same placement (guide §2.5), and Catalyst
    keeps heavy projections ABOVE a RepartitionByExpression (verified in
    plans/r13), so the spread genuinely moves the compute off the scan task.
    """
    spark = df.sparkSession
    if not scan_is_small(spark, sf_dir, tables):
        return df  # enough splits already (or unknown size): leave it alone
    cores = max(spark.sparkContext.defaultParallelism, 1)
    from pyspark.sql import functions as _F

    return df.repartition(cores, *[_F.col(c) for c in key_cols])


#: measured in-memory expansion of the inverted-index family's shuffles
#: relative to the PARQUET bytes of its input tables: shingle/candidate
#: rows blow a compressed text corpus up ~two orders of magnitude (round-6
#: forensics: the 69 MB fresh-x100 documents corpus needed ~128 partitions
#: or the candidate self-join died spilling at default memory).
INDEX_SHUFFLE_EXPANSION = 128

#: per-partition shuffle-data target. Small enough that a partition's
#: build side fits execution memory with the default per-core budget;
#: AQE coalesces upward when partitions come out tiny, so the cost of
#: over-partitioning is scheduling overhead only.
TARGET_PARTITION_BYTES = 64 << 20


def _mem_bytes(spark: SparkSession) -> int:
    for key in ("spark.executor.memory", "spark.driver.memory"):
        mem = _conf_bytes(spark, key, 0)
        if mem:
            return mem
    return 1 << 30  # Spark's own driver default


def size_shuffle_partitions(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = ("documents",),
) -> int:
    """Size ``spark.sql.shuffle.partitions`` from corpus bytes and executor
    memory for shuffle-EXPANDING operators (the inverted-index dedup
    family), replacing the hand-tuned per-run env var the round-6 x100
    runs needed (VERDICT r6 #10/#7).

    The rule: expanded shuffle bytes = parquet bytes x
    ``INDEX_SHUFFLE_EXPANSION``; each partition should hold at most
    ``min(TARGET_PARTITION_BYTES, 30% of per-core memory)`` of that, never
    fewer partitions than the session already has nor than it has cores.
    At fixture scale (<= a few MB) the floor wins, so correctness-harness
    sessions keep their own setting; at the fresh-x100 tier it lands at
    the ~128-plus-partition layout the measured runs required. On a real
    cluster the same rule runs against executor memory; AQE still
    coalesces any stage that comes out finer than needed.

    The cores floor (round 13) is the parallelism guard next to the bytes
    rule's memory guard: every caller's post-shuffle stages are
    CPU-dominated (salted-md5 signature passes, banded Levenshtein,
    per-pair array intersection), and would otherwise serialize onto
    however few partitions the BYTES rule says the shuffle needs. At
    cluster scale the bytes rule dominates (corpus >> cores x target) and
    the floor is inert.
    """
    # sum the tables that ARE present: one missing table must not size the
    # whole set as 0 bytes (the all-or-None rule is scan_is_small's, where
    # unknown means big)
    total = sum(_table_bytes(sf_dir, t) or 0 for t in tables)
    cores = max(spark.sparkContext.defaultParallelism, 1)
    per_task = max(int(0.3 * _mem_bytes(spark)) // cores, 8 << 20)
    target = min(TARGET_PARTITION_BYTES, per_task)
    # The floor is the session's BASE setting, recorded at this session's
    # FIRST sizing call — not the current conf value, which may carry a
    # previous large-corpus query's inflation. Sizing from the base (and
    # always re-setting) means each sized query gets ITS corpus's number:
    # a small corpus after a big one sizes back DOWN instead of ratcheting
    # (ADVICE r7); queries that never call this helper are restored by the
    # registry wrapper via reset_shuffle_partitions().
    base = None
    try:
        if spark not in _BASE_SHUFFLE:
            _BASE_SHUFFLE[spark] = spark.conf.get("spark.sql.shuffle.partitions")
        base = _BASE_SHUFFLE[spark]
        floor = int(base)
    except Exception:
        floor = cores
    # The cores floor was measured both ways before it was kept: sf0.1
    # n-gram Jaccard pays ~0.5 s of task overhead for it (0.89 s without,
    # 1.40 s with), but at x10 text parquet compresses so hard (2.5 MB)
    # that the bytes rule says 8 partitions for ~30 s of shingle CPU, and
    # the x10 n-gram key went 32.5 -> 98.5 s without the floor.
    parts = max(floor, cores, -(-total * INDEX_SHUFFLE_EXPANSION // target))
    # The helpers are the only writers of this conf between the registry
    # wrapper's per-query resets, so the inflated FLAG (not a conf.get
    # round-trip) decides whether anything needs restoring — that keeps
    # reset_shuffle_partitions at zero Py4J traffic for the overwhelming
    # majority of queries that never size (VERDICT r8 #6, per-query floor).
    try:
        if parts != floor:
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            _INFLATED[spark] = True
        elif _INFLATED.get(spark) and base is not None:
            spark.conf.set("spark.sql.shuffle.partitions", base)
            _INFLATED[spark] = False
    except Exception:
        pass  # a locked conf falls back to the session's own sizing
    return parts


#: Keyed WEAKLY by the session object (ADVICE r8): an id()-keyed map let a
#: stopped-and-collected session's recorded base leak into an unrelated new
#: session that recycled the same id, actively applying a stale partition
#: count. Weak keys die with the session; SparkSession uses identity
#: hash/eq, so no JVM traffic is involved in the lookup.
_BASE_SHUFFLE: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)
_INFLATED: "weakref.WeakKeyDictionary[SparkSession, bool]" = (
    weakref.WeakKeyDictionary()
)


def reset_shuffle_partitions(spark: SparkSession) -> None:
    """Restore the session's base ``spark.sql.shuffle.partitions`` if a
    previous :func:`size_shuffle_partitions` call inflated it — called by
    the registry wrapper before every query plans, so one large-corpus
    dedup query cannot leak its partition count into every subsequent
    unrelated query in the session (ADVICE r7). No-op (zero Py4J
    round-trips) until a sizing call actually inflates the conf."""
    if not _INFLATED.get(spark):
        return
    base = _BASE_SHUFFLE.get(spark)
    try:
        if base is None:
            # size_shuffle_partitions inflated the conf but its initial
            # conf.get of the base threw, so no base was recorded (ADVICE
            # r9): returning here would leave _INFLATED set with the
            # inflated count leaking into every subsequent query. Restore
            # the same cores floor the sizing call fell back to instead.
            # The defaultParallelism lookup sits INSIDE the try (ADVICE
            # r10): on a stopped/broken session this rare path degrades to
            # a no-op like every other path in the sizing helpers instead
            # of raising out of the registry wrapper.
            base = str(max(spark.sparkContext.defaultParallelism, 1))
        spark.conf.set("spark.sql.shuffle.partitions", base)
        _INFLATED[spark] = False
    except Exception:
        pass


# Both memo layers are keyed by (session, path) with the file's stat
# signature stored NEXT TO the value: a rewritten file REPLACES its entry
# rather than accreting a new key (ADVICE r3: the old
# (session, path, mtime, size) keying never evicted, so rewritten fixtures
# and sequential sessions pinned dead DataFrame/JVM handles for process
# lifetime). Size is now bounded by live-sessions x TABLES.
_SCHEMA_CACHE: dict[tuple[int, str], tuple[tuple[int, int], object]] = {}
_DF_CACHE: dict[tuple[int, str], tuple[tuple[int, int], DataFrame]] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (parquet scan; schema from footer).

    Declarative scan so Catalyst keeps predicate pushdown / column pruning /
    partition pruning available to whatever plan consumes it.

    Two memoization layers, keyed per (session, path) and invalidated on
    file mtime+size change (an id()-recycled session can only collide with
    a STOPPED session's id, and the first lookup under a changed file
    signature replaces the entry):

    - the inferred schema: schema inference runs a 1-task footer-reading
      Spark job on EVERY ``read.parquet`` call — pure fixed overhead when
      the same table is loaded by many queries;
    - the table ``DataFrame`` handle itself: constructing the relation (and
      the events ts normalization below) costs a handful of Py4J
      round-trips per call, which at bench scale is a measurable slice of
      the per-query floor. DataFrames are immutable, so handing the same
      object to every consumer is safe — each query builds its own plan on
      top and Catalyst treats the shared scan as an ordinary leaf.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        sig = (0, 0)
    key = (id(spark), path)
    cached = _DF_CACHE.get(key)
    if cached is not None and cached[0] == sig:
        return cached[1]
    schema_entry = _SCHEMA_CACHE.get(key)
    if schema_entry is None or schema_entry[0] != sig:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = (sig, df.schema)
    else:
        df = spark.read.schema(schema_entry[1]).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        # Fixture events.parquet stores TIMESTAMP(NANOS), which nanosAsLong
        # surfaces as raw INT64 — truncate to µs with integer division
        # (exact; double division loses precision at 1.7e18) to match
        # DuckDB's ns→µs truncation. Files already written at µs (e.g. the
        # scale-test corpus) arrive as a timestamp type and pass through.
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            # NTZ → session-tz timestamp is a wall-clock no-op under the
            # engine's UTC session; event-time functions (unix_micros,
            # window) require the TIMESTAMP type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _DF_CACHE[key] = (sig, df)
    return df
