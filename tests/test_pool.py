"""The materialization pool (operators/pool.py): persist mode keeps
statistics (broadcast-friendly) and is recorded in the pool,
checkpoint mode cuts lineage to a LogicalRDD leaf and is not recorded,
values never change, and eviction past the global cap takes the oldest
entries of closed scopes only."""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql import functions as F

from fairy_spark.operators import pool as pool_mod
from fairy_spark.operators.pool import clear_pool, park_persisted, pool_scope


def _vals(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(autouse=True)
def _empty_pool():
    clear_pool()
    yield
    clear_pool()


@pytest.fixture
def cap2(monkeypatch):
    monkeypatch.setattr(pool_mod, "_GLOBAL_CAP", 2)


def test_persist_mode_preserves_values_and_is_cached(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    parked = park_persisted(df)
    assert _vals(parked) == _vals(df)
    assert parked.storageLevel.useMemory  # really persisted
    assert len(pool_mod._PARKED) == 1


def test_checkpoint_mode_cuts_lineage_and_preserves_values(spark):
    df = spark.range(50).withColumn("v", F.col("id") + 7)
    parked = park_persisted(df, checkpoint=True)
    assert _vals(parked) == _vals(df)
    # lineage is cut: the logical plan is a scan of materialized
    # partitions, not the original Range + Project chain
    assert "LogicalRDD" in parked._jdf.queryExecution().logical().toString()
    # nothing to unpersist later, so nothing is recorded
    assert pool_mod._PARKED == {}


def test_pool_eviction_is_bounded_and_fifo(spark, cap2):
    # unscoped parks: each is evictable as soon as a later park needs room
    frames = [park_persisted(spark.range(10 + i)) for i in range(4)]
    assert len(pool_mod._PARKED) == 2
    # oldest two evicted and unpersisted; newest two still cached
    assert not frames[0].storageLevel.useMemory
    assert not frames[1].storageLevel.useMemory
    assert frames[2].storageLevel.useMemory
    assert frames[3].storageLevel.useMemory
    # evicted frames still produce correct values (recompute path)
    assert _vals(frames[0]) == [(i,) for i in range(10)]


def test_clear_pool_all(spark):
    a = park_persisted(spark.range(5))
    park_persisted(spark.range(5), checkpoint=True)
    clear_pool()
    assert pool_mod._PARKED == {}
    assert not a.storageLevel.useMemory


def test_interleaved_scopes_keep_all_parked_frames_live(spark, cap2):
    """Two nested 'query invocations' park past the cap: while both
    scopes are open, neither loses a frame."""
    frames = []
    with pool_scope():
        for i in range(3):
            frames.append(park_persisted(spark.range(10 + i)))
        with pool_scope():
            for i in range(4):
                frames.append(park_persisted(spark.range(50 + i)))
            assert all(f.storageLevel.useMemory for f in frames)
        # back in the outer scope after the inner one closed
        frames.append(park_persisted(spark.range(99)))
        assert all(f.storageLevel.useMemory for f in frames[:3])
        assert frames[-1].storageLevel.useMemory


def test_clear_pool_clears_scoped_variants(spark):
    with pool_scope():
        a = park_persisted(spark.range(5))
    clear_pool()
    assert pool_mod._PARKED == {}
    assert not a.storageLevel.useMemory


def test_global_cap_evicts_oldest_other_pool_first(spark, cap2):
    """Past the cap, the oldest closed scope's frame goes; the open
    scope keeps every frame it parked."""
    with pool_scope():
        old = park_persisted(spark.range(5))
    with pool_scope():
        cur = [park_persisted(spark.range(20 + i)) for i in range(3)]
        assert not old.storageLevel.useMemory
        assert all(f.storageLevel.useMemory for f in cur)


def test_identical_plans_parked_from_successive_scopes_stay_cached(spark, cap2):
    """Identical plans share one CacheManager entry: evicting the frame
    an older scope parked must not uncache the frames parked after it
    on that same entry."""
    frames = []
    for _ in range(3):
        with pool_scope():
            frames.append(park_persisted(spark.range(100).withColumn("v", F.col("id") * 3)))
    assert [f.storageLevel.useMemory for f in frames] == [True, True, True]
    assert _vals(frames[0]) == [(i, 3 * i) for i in range(100)]


def test_open_scope_frames_survive_parks_from_other_threads(spark, cap2):
    """Thread A parks inside a scope it keeps open; meanwhile another
    thread parks past the cap in its own scopes. A's frame is never an
    eviction victim."""
    parked, release = threading.Event(), threading.Event()
    seen = {}

    def thread_a():
        with pool_scope():
            frame = park_persisted(spark.range(7).withColumn("t", F.lit("a")))
            parked.set()
            release.wait(300)
            seen["cached"] = frame.storageLevel.useMemory

    a = threading.Thread(target=thread_a)
    a.start()
    try:
        assert parked.wait(300)
        for i in range(4):
            with pool_scope():
                park_persisted(spark.range(30 + i))
    finally:
        release.set()
        a.join(300)
    assert seen == {"cached": True}


def test_concurrent_scopes_never_lose_open_frames(spark, cap2):
    """More threads than cores each hold a scope open with two parked
    frames, all at once and far past the cap: no thread loses a frame
    while its scope is open, and once every scope has closed the next
    park shrinks the pool back to the cap."""
    n = 6
    barrier = threading.Barrier(n, timeout=300)
    cached = []

    def worker(i):
        with pool_scope():
            mine = [park_persisted(spark.range(200 + 10 * i + j)) for j in range(2)]
            barrier.wait()
            cached.append(all(f.storageLevel.useMemory for f in mine))
            barrier.wait()

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in threads)
    assert cached == [True] * n
    assert len(pool_mod._PARKED) == 2 * n and pool_mod._OPEN == set()
    park_persisted(spark.range(3))
    assert len(pool_mod._PARKED) == 2
