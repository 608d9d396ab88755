"""size_shuffle_partitions (session.py): the corpus-scaled shuffle rule
the round-6 x100 inverted-index runs discovered by hand (VERDICT r6 #7),
now a helper — fixture scale must be a NO-OP, big corpora must land at
the measured ~128-partition tier, and the conf must actually move."""

from __future__ import annotations

import os
import tempfile

from broadway_kinesis_spark.session import (
    INDEX_SHUFFLE_EXPANSION,
    TARGET_PARTITION_BYTES,
    size_shuffle_partitions,
)


def _sparse_docs_dir(td: str, nbytes: int) -> str:
    # st_size is all the helper reads; a sparse file costs no disk.
    path = os.path.join(td, "documents.parquet")
    with open(path, "wb") as f:
        f.truncate(nbytes)
    return td


def test_noop_at_fixture_scale(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    parts = size_shuffle_partitions(spark, "/root/testdata/sf0.01")
    assert parts == int(before)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_scales_with_corpus_and_sets_conf(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with tempfile.TemporaryDirectory() as td:
            nbytes = 69 << 20  # the fresh-x100 documents.parquet size
            parts = size_shuffle_partitions(spark, _sparse_docs_dir(td, nbytes))
            # the measured tier: ~128+ partitions for the 69 MB corpus
            assert parts >= 100
            expanded = nbytes * INDEX_SHUFFLE_EXPANSION
            assert parts <= max(expanded // (8 << 20), int(before))
            assert int(spark.conf.get("spark.sql.shuffle.partitions")) == parts
            # per-partition expanded bytes within the target
            assert expanded / parts <= TARGET_PARTITION_BYTES + 1
            # a partially missing table set sizes from the tables present
            # (ADVICE r14), never as an empty corpus
            docs_and_missing = ("documents", "embeddings")
            assert size_shuffle_partitions(spark, td, docs_and_missing) == parts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_missing_table_is_empty_corpus(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with tempfile.TemporaryDirectory() as td:
        parts = size_shuffle_partitions(spark, td)
    assert parts == int(before)


def test_sizing_does_not_ratchet_and_reset_restores(spark):
    """ADVICE r7: a large-corpus sizing must not inflate every later query
    — the floor is the session BASE, so a later small-corpus sizing sets
    back DOWN, and reset_shuffle_partitions (the registry wrapper's
    per-query hook) restores the base outright."""
    from broadway_kinesis_spark.session import reset_shuffle_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with tempfile.TemporaryDirectory() as td:
            big = size_shuffle_partitions(spark, _sparse_docs_dir(td, 69 << 20))
            assert big > int(before)
            assert int(spark.conf.get("spark.sql.shuffle.partitions")) == big
        with tempfile.TemporaryDirectory() as td2:
            small = size_shuffle_partitions(spark, _sparse_docs_dir(td2, 1 << 20))
            assert small == int(before)  # base floor, NOT the ratcheted value
            assert spark.conf.get("spark.sql.shuffle.partitions") == before
        with tempfile.TemporaryDirectory() as td3:
            size_shuffle_partitions(spark, _sparse_docs_dir(td3, 69 << 20))
        reset_shuffle_partitions(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_shuffle_base_dies_with_its_session():
    """ADVICE r8: the recorded base must be keyed WEAKLY by the session
    object — an id()-keyed map let a collected session's base leak into a
    new session recycling the same id, actively applying a stale partition
    count. A collected key must evict its entry."""
    import gc
    import weakref

    from broadway_kinesis_spark import session as s

    class FakeSession:  # stands in for a stopped-and-collected session
        pass

    fake = FakeSession()
    s._BASE_SHUFFLE[fake] = "7"
    s._INFLATED[fake] = True
    ref = weakref.ref(fake)
    del fake
    gc.collect()
    assert ref() is None
    assert not any(isinstance(k, FakeSession) for k in s._BASE_SHUFFLE)
    assert not any(isinstance(k, FakeSession) for k in s._INFLATED)


def test_reset_restores_cores_floor_when_base_was_never_recorded(spark):
    """ADVICE r9 (low): when a sizing call inflated the conf but its
    initial conf.get of the base threw (no base recorded), reset must
    restore the cores floor — the same fallback sizing used — and clear
    the flag, not return early with the inflated count leaking into every
    subsequent query."""
    from broadway_kinesis_spark import session as s

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # simulate the failed-base inflation state directly
        s._BASE_SHUFFLE.pop(spark, None)
        s._INFLATED[spark] = True
        spark.conf.set("spark.sql.shuffle.partitions", "4096")
        s.reset_shuffle_partitions(spark)
        cores = max(spark.sparkContext.defaultParallelism, 1)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)
        assert not s._INFLATED.get(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        s._INFLATED.pop(spark, None)
        s._BASE_SHUFFLE.pop(spark, None)


def test_reset_without_inflation_never_touches_the_conf():
    """VERDICT r8 #6 (per-query floor): the registry wrapper calls reset
    before EVERY query — when nothing is inflated it must cost zero Py4J
    round-trips, i.e. never touch the conf at all."""
    from broadway_kinesis_spark.session import reset_shuffle_partitions

    class Tripwire:
        @property
        def conf(self):
            raise AssertionError("reset touched the conf without inflation")

    reset_shuffle_partitions(Tripwire())  # must not raise


def test_mem_bytes_parses_fractional_settings():
    """ADVICE r7: '1.5g' must read as 1.5 GiB (int(float) << shift
    truncated it to 1 GiB, and '0.5g' to zero). Memory confs are static,
    so the parse is probed through a conf stub."""
    from broadway_kinesis_spark.session import _mem_bytes

    class _Stub:
        def __init__(self, val):
            self.conf = self
            self._val = val

        def get(self, key):
            if key == "spark.executor.memory":
                return self._val
            raise KeyError(key)

    assert _mem_bytes(_Stub("1.5g")) == int(1.5 * (1 << 30))
    assert _mem_bytes(_Stub("0.5g")) == 1 << 29
    assert _mem_bytes(_Stub("8g")) == 8 << 30
    assert _mem_bytes(_Stub("512m")) == 512 << 20
    assert _mem_bytes(_Stub("1073741824")) == 1 << 30
