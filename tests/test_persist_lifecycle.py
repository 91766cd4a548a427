"""Persisted-intermediate lifecycle: registered queries must not leak
CacheManager entries into later invocations.

Why this matters for measurement, not just memory: CacheManager matches
plans by CANONICALIZED form, so a persisted frame leaked by invocation 1
is silently substituted (InMemoryTableScan) into invocation 2's physical
plan — invocation 2 then reads invocation 1's result instead of
computing. That is cross-invocation result caching, which the bench's
median-of-reps methodology must never do (r12 optimization round fix:
``artifacts.persist_tracked`` + the ``harness.register`` drain).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aci_export_spark import artifacts
from aci_export_spark import harness


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from aci_export_spark.session import get_spark

    s = get_spark("test-persist-lifecycle", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_persist_tracked_releases_on_drain(spark):
    df = artifacts.persist_tracked(spark.range(100).withColumn("x", F.col("id") * 2))
    df.count()
    assert df.storageLevel.useMemory, "persist_tracked must actually persist"
    assert df in artifacts._PERSIST_POOL
    artifacts.release_tracked()
    assert artifacts._PERSIST_POOL == []
    assert not df.storageLevel.useMemory, "drain must unpersist the frame"


def test_registered_query_does_not_reuse_prior_invocation_cache(spark):
    """Invoke a persist-using registered query twice: at invocation-2
    entry the pool must have been drained (invocation 1's frame
    unpersisted), so invocation 2 can only read its OWN fresh persist —
    never invocation 1's materialized blocks."""
    harness._ensure_all_registered()
    artifacts.release_tracked()
    fn = harness.REGISTRY["rec_item_item_cosine"].fn
    fn(spark, SF).collect()  # invocation 1 persists its `bounded` frame
    assert artifacts._PERSIST_POOL, "item_item_cosine should track a persist"
    first = list(artifacts._PERSIST_POOL)
    df2 = fn(spark, SF)  # invocation 2 drains at entry, then re-persists
    # pool now holds exactly invocation 2's own fresh persist — NOT (by
    # identity) invocation 1's frame, which the drain unpersisted.
    # (storageLevel cannot be asserted here: it answers by canonicalized-
    # plan lookup, so invocation 2's fresh entry makes invocation 1's
    # handle *report* persisted even though its blocks are gone.)
    assert len(artifacts._PERSIST_POOL) == 1
    assert all(p is not f for p in artifacts._PERSIST_POOL for f in first)
    df2.collect()
    artifacts.release_tracked()


def test_second_invocation_recomputes_not_rereads(spark):
    """Directly: after invocation 1 completes, invoking any OTHER
    registered query drains the pool, so invocation 1's persisted frame
    is no longer cached anywhere a third invocation could hit."""
    harness._ensure_all_registered()
    artifacts.release_tracked()
    fn = harness.REGISTRY["rec_item_item_cosine"].fn
    fn(spark, SF).collect()
    leaked = list(artifacts._PERSIST_POOL)
    assert leaked
    # a different registered query's invocation performs the drain
    harness.REGISTRY["flagship_scoped_members"].fn(spark, SF).collect()
    for df in leaked:
        assert not df.storageLevel.useMemory


def test_persisted_keeps_a_plan_equal_cache_it_did_not_make(spark):
    """CacheManager shares one entry between plan-equal frames: a
    `session.persisted` block over a frame whose twin is already cached
    must not release the twin's cache at exit, and must still release a
    cache it made itself."""
    from pyspark import StorageLevel

    from aci_export_spark.session import persisted

    def frame():
        return spark.range(200).withColumn("k", F.col("id") % 7)

    owner = frame().persist()
    owner.count()
    with persisted(frame()) as twin:
        assert twin.count() == 200
    assert owner.storageLevel != StorageLevel.NONE
    assert "InMemoryTableScan" in owner._jdf.queryExecution().executedPlan().toString()
    owner.unpersist()

    with persisted(frame()) as own:
        own.count()
        assert own.storageLevel != StorageLevel.NONE
    assert frame().storageLevel == StorageLevel.NONE
