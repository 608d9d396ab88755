"""Unit fences for round-5 infrastructure: table_build and the fake-client
parse cache.

Both are cross-cutting (three layout operators ride table_build; every
source e2e rides the lazy fake client), and both have behavior that only
shows under specific sequences — an orphaned warehouse directory from a
dead session, a fixture file rewritten in place — that the operator-level
tests hit rarely or never.
"""

from __future__ import annotations

import json
import os

import pandas as pd

from broadway_kinesis_spark.functions.table_build import corpus_sig, ensure_table


def test_ensure_table_is_idempotent_and_heals_orphan_location(spark, tmp_path):
    name = "_bks_test_tbl_infra"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    builds = []

    def build():
        builds.append(1)
        return spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3]}))

    # orphan: a warehouse dir with no catalog entry (dead session leftover)
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    loc = os.path.join(wh, name)
    os.makedirs(loc, exist_ok=True)
    open(os.path.join(loc, "junk.parquet"), "w").close()

    try:
        assert ensure_table(spark, name, build, bucket_by=(4, "k")) == name
        assert len(builds) == 1  # built once, orphan cleared first
        assert spark.table(name).count() == 3
        ensure_table(spark, name, build, bucket_by=(4, "k"))
        assert len(builds) == 1  # catalog hit: no rebuild
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _spawn_live_pid():
    """A process that stays alive for the test's duration."""
    import subprocess

    return subprocess.Popen(["sleep", "60"])


def _dead_pid() -> int:
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_build_lock_diverts_around_a_live_sibling(spark, monkeypatch):
    """Two LIVE sessions racing one ensure_table (VERDICT r7 #3): while a
    sibling holds the build lock, this session must neither wait forever
    nor touch the sibling's in-progress location — it diverts to a
    pid-scoped name, exactly like the live-owner marker path."""
    from broadway_kinesis_spark.functions import table_build

    name = "_bks_test_lock_live"
    pidname = f"{name}_p{os.getpid()}"
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    loc = os.path.join(wh, name)
    os.makedirs(loc, exist_ok=True)
    in_progress = os.path.join(loc, "part-00000.parquet")  # marker-less build
    open(in_progress, "w").close()
    sibling = _spawn_live_pid()
    lock = loc + table_build._LOCK_SUFFIX
    with open(lock, "w", encoding="ascii") as f:
        f.write(str(sibling.pid))
    monkeypatch.setattr(table_build, "_LOCK_WAIT_S", 1.0)
    spark.sql(f"DROP TABLE IF EXISTS {pidname}")
    try:
        got = ensure_table(
            spark,
            name,
            lambda: spark.createDataFrame(pd.DataFrame({"k": [1]})),
        )
        assert got == pidname  # diverted, not stolen
        assert os.path.exists(in_progress)  # sibling's build untouched
        assert os.path.exists(lock)  # sibling still owns its lock
        assert spark.table(got).count() == 1
    finally:
        sibling.kill()
        sibling.wait()
        os.unlink(lock)
        import shutil

        shutil.rmtree(loc, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {pidname}")


def test_build_lock_breaks_a_dead_builders_lock_and_releases_its_own(spark):
    """A lock whose holder died mid-build is stale: it must be broken, the
    half-written location cleared, the table built under the ORIGINAL
    name, and the lock released afterwards."""
    from broadway_kinesis_spark.functions import table_build

    name = "_bks_test_lock_stale"
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    loc = os.path.join(wh, name)
    os.makedirs(loc, exist_ok=True)
    open(os.path.join(loc, "junk.parquet"), "w").close()
    lock = loc + table_build._LOCK_SUFFIX
    with open(lock, "w", encoding="ascii") as f:
        f.write(str(_dead_pid()))
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        got = ensure_table(
            spark,
            name,
            lambda: spark.createDataFrame(pd.DataFrame({"k": [1, 2]})),
        )
        assert got == name
        assert spark.table(name).count() == 2
        assert not os.path.exists(lock)  # released after the build
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_lock_claim_is_atomic_with_its_content(spark, tmp_path):
    """ADVICE r8 (medium): the lock file must never be observable without
    its pid content — _try_claim writes the pid to a temp sibling and
    hard-links it into place, so a reader sees either no lock or a full
    one, and a second claim on an existing lock fails cleanly."""
    from broadway_kinesis_spark.functions import table_build

    lock = os.path.join(str(tmp_path), "t.building")
    assert table_build._try_claim(lock)
    assert table_build._lock_holder(lock) == os.getpid()  # content atomic
    assert not table_build._try_claim(lock)  # exclusive
    assert table_build._lock_holder(lock) == os.getpid()  # not clobbered
    assert not any(f.endswith(".tmp") for f in os.listdir(str(tmp_path)))
    os.unlink(lock)


def test_claim_falls_back_when_hard_links_unsupported(tmp_path, monkeypatch):
    """ADVICE r9 (low): on filesystems without hard-link support (FUSE /
    overlay / object-store mounts) os.link raises EPERM/ENOTSUP — the
    claim must fall back to the O_CREAT|O_EXCL protocol instead of
    crashing ensure_table, and keep exclusivity."""
    import errno

    from broadway_kinesis_spark.functions import table_build

    def no_links(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(os, "link", no_links)
    lock = os.path.join(str(tmp_path), "t.building")
    assert table_build._try_claim(lock)
    assert table_build._lock_holder(lock) == os.getpid()
    assert not table_build._try_claim(lock)  # still exclusive
    assert table_build._lock_holder(lock) == os.getpid()
    assert not any(f.endswith(".tmp") for f in os.listdir(str(tmp_path)))
    os.unlink(lock)


def test_unreadable_lock_is_polled_not_broken_immediately(spark, monkeypatch):
    """ADVICE r8 (medium): an EMPTY lock file (an out-of-protocol writer
    mid-write, or a crashed old-protocol creator) is not proof of
    staleness — the acquirer must poll until the deadline and break it
    only if still unreadable then, not unlink a possibly-live builder's
    claim on first sight."""
    import time as _time

    from broadway_kinesis_spark.functions import table_build

    name = "_bks_test_lock_empty"
    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    loc = os.path.join(wh, name)
    os.makedirs(loc, exist_ok=True)
    lock = loc + table_build._LOCK_SUFFIX
    open(lock, "w").close()  # empty: holder unreadable
    monkeypatch.setattr(table_build, "_LOCK_WAIT_S", 1.5)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        t0 = _time.monotonic()
        got = ensure_table(
            spark,
            name,
            lambda: spark.createDataFrame(pd.DataFrame({"k": [1]})),
        )
        waited = _time.monotonic() - t0
        # broken only AT the deadline: build under the original name,
        # but not before the bounded wait elapsed
        assert got == name
        assert waited >= 1.5
        assert not os.path.exists(lock)  # released after the build
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_same_process_threads_serialize_and_build_once(spark):
    """ADVICE r8 (low): two threads of ONE process racing ensure_table for
    the same name must not break each other's lock and run concurrent
    saveAsTable — the per-path thread lock serializes them, and the
    double-checked catalog read makes the loser serve the winner's table
    instead of rebuilding it."""
    import threading

    name = "_bks_test_lock_threads"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    builds = []
    build_gate = threading.Event()

    def build():
        builds.append(threading.get_ident())
        build_gate.set()
        return spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))

    results: list[str] = []
    errors: list[BaseException] = []

    def run():
        try:
            results.append(ensure_table(spark, name, build))
        except BaseException as e:  # surface into the main thread
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not errors, errors
        assert len(builds) == 1  # exactly one thread built
        assert results == [name, name]  # both serve the ORIGINAL name
        assert spark.table(name).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_corpus_sig_tracks_file_identity_and_version(tmp_path):
    d = str(tmp_path)
    p = os.path.join(d, "events.parquet")
    with open(p, "w") as f:
        f.write("v1")
    s1 = corpus_sig(d, ("events",))
    assert s1 == corpus_sig(d, ("events",))  # stable
    with open(p, "w") as f:
        f.write("v2-longer")  # size changes
    assert corpus_sig(d, ("events",)) != s1  # new version -> new table name
    assert corpus_sig(d, ("events", "missing")) != corpus_sig(d, ("events",))


def test_fake_client_cache_invalidates_on_rewrite(tmp_path):
    from broadway_kinesis_spark.sources.replay import ReplayKinesisClient

    d = str(tmp_path)

    def write(n):
        with open(os.path.join(d, "shard-0001.jsonl"), "w", encoding="utf-8") as f:
            for i in range(n):
                rec = {
                    "SequenceNumber": str(i),
                    "PartitionKey": "k",
                    "Data": "aGk=",  # "hi"
                    "ApproximateArrivalTimestamp": 1000.0 + i,
                }
                f.write(json.dumps({"ContinuationSequenceNumber": str(i), "Records": [rec]}) + "\n")

    write(2)
    c1 = ReplayKinesisClient(d)
    assert len(c1.shard("shard-0001").events) == 2
    # second client in the same process: served from the parse cache
    c2 = ReplayKinesisClient(d)
    assert c2.shard("shard-0001") is c1.shard("shard-0001")
    # rewritten fixture (different size) must invalidate
    write(5)
    c3 = ReplayKinesisClient(d)
    events = c3.shard("shard-0001").events
    assert len(events) == 5
    assert events[0]["Records"][0]["Data"] == b"hi"  # decode still applied on fresh parse
    # a shard file that appears AFTER construction is visible
    open(os.path.join(d, "shard-0002.jsonl"), "w").close()
    assert "shard-0002" in [s["ShardId"] for s in c3.list_shards()["Shards"]]


# --------------------------------------------------- warehouse retention
def _mk_table(spark, name):
    return ensure_table(
        spark, name, lambda: spark.createDataFrame(pd.DataFrame({"k": [1]}))
    )


def test_vacuum_drops_unretained_and_dead_diverts_only(spark):
    """Retention semantics of vacuum_warehouse (round 11): stale-token
    tables and dead-pid diverted copies drop; pinned names, live-lock
    builds, and live-sibling-owned locations survive; dry_run previews
    without dropping."""
    import shutil

    from broadway_kinesis_spark.functions.table_build import (
        _OWNER_MARKER,
        vacuum_warehouse,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
    keep_sig, old_sig = "a" * 10, "b" * 10
    kept = _mk_table(spark, f"_bks_vact_keep_{keep_sig}")
    stale = _mk_table(spark, f"_bks_vact_old_{old_sig}")
    pinned = _mk_table(spark, f"_bks_vact_pin_{old_sig}")
    # dead-pid diverted copy: directory only (its catalog died with it)
    divert = f"_bks_vact_div_{keep_sig}_p{_dead_pid()}"
    os.makedirs(os.path.join(wh, divert), exist_ok=True)
    # live sibling's finished table, stale token: must survive
    live = _spawn_live_pid()
    sib = f"_bks_vact_sib_{old_sig}"
    os.makedirs(os.path.join(wh, sib), exist_ok=True)
    with open(os.path.join(wh, sib, _OWNER_MARKER), "w") as f:
        f.write(str(live.pid))
    # in-progress build (live lock), stale token: must survive
    building = f"_bks_vact_bld_{old_sig}"
    os.makedirs(os.path.join(wh, building), exist_ok=True)
    with open(os.path.join(wh, building) + ".building", "w") as f:
        f.write(str(os.getpid()))
    try:
        expected = {stale, divert}
        dry = vacuum_warehouse(
            spark,
            retain_tokens={keep_sig},
            retain_names=(pinned,),
            prefix="_bks_vact",
            dry_run=True,
        )
        assert set(dry) == expected
        assert spark.catalog.tableExists(stale)  # dry_run dropped nothing
        dropped = vacuum_warehouse(
            spark,
            retain_tokens={keep_sig},
            retain_names=(pinned,),
            prefix="_bks_vact",
        )
        assert set(dropped) == expected
        assert not spark.catalog.tableExists(stale)
        assert not os.path.isdir(os.path.join(wh, stale))
        assert not os.path.isdir(os.path.join(wh, divert))
        for surviving in (kept, pinned, sib, building):
            assert os.path.isdir(os.path.join(wh, surviving)), surviving
        assert spark.table(kept).count() == 1  # still servable
        # without retain_tokens only dead diverts are candidates -> none left
        assert vacuum_warehouse(spark, prefix="_bks_vact") == []
    finally:
        live.kill()
        live.wait()
        for n in (kept, stale, pinned):
            spark.sql(f"DROP TABLE IF EXISTS {n}")
        for d in (kept, pinned, sib, building, divert):
            shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
        try:
            os.unlink(os.path.join(wh, building) + ".building")
        except OSError:
            pass


def test_vacuum_is_the_roll_forward_retention_step(spark, sf_dir):
    """The daily-loop idiom: after rolling version N's digest artifact to
    N+1, a family-scoped vacuum with exact-name pins drops version N-1
    and keeps exactly {N, N+1}; the survivors still serve."""
    from broadway_kinesis_spark.functions.table_build import vacuum_warehouse
    from broadway_kinesis_spark.operators.incremental_batch import (
        ensure_corpus_digests,
        incremental_digest_dedup,
        roll_forward_digests,
    )

    v_prev = ensure_corpus_digests(spark, sf_dir, 350)  # version N-1
    v_n = ensure_corpus_digests(spark, sf_dir, 400)
    v_n1 = roll_forward_digests(spark, sf_dir, 400, 450)
    dropped = vacuum_warehouse(
        spark,
        prefix="_bks_digests_",
        retain_tokens=set(),
        retain_names=(v_n, v_n1),
    )
    assert v_prev in dropped and v_n not in dropped and v_n1 not in dropped
    assert not spark.catalog.tableExists(v_prev)
    # the retained artifacts still serve the probe
    got = {
        tuple(r)
        for r in incremental_digest_dedup(
            spark, sf_dir, 450, digests_tbl=v_n1
        ).collect()
    }
    assert got == {
        tuple(r)
        for r in incremental_digest_dedup(spark, sf_dir, 450).collect()
    }
