"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert "q1_pricing_summary" in qs
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_all_queries_run_on_smoke_sf(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, entrymod.SMOKE_SF_DIR)
        assert df.columns, name


def test_persist_scoped_frames_die_with_their_query(spark):
    """r19 persist hygiene (guide §5): a registry-dispatched query's
    internal persist() frames must unpersist when the caller drops its
    reference to the returned DataFrame — NOT linger until the next
    dispatch's clearCache janitor (or forever, in direct-call probe
    sessions). x3v persists two frames (cells, truth); after forcing
    the query and dropping the result, the CacheManager must be empty
    again."""
    import gc

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    qs = entrymod.queries()
    df = qs["x3v_knn_graph_recall"](spark, entrymod.SMOKE_SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    assert not cm.isEmpty()  # the multi-consumer persists were live
    del df
    gc.collect()
    assert cm.isEmpty(), "persist_scoped frames outlived the query result"


def test_persist_scoped_frames_released_when_the_build_raises(spark):
    """A registry query that persists a frame and then raises has no
    result to tie the frame's lifetime to: the scope must unpersist it on
    the error path, not leave it cached until the next dispatch."""
    import pytest

    from ssn_college_software_architecture_assignments__spark import registry
    from ssn_college_software_architecture_assignments__spark.scratch import (
        persist_scoped,
    )

    def failing(spark, sf_dir):
        persist_scoped(spark.range(10)).count()
        raise RuntimeError("build failed")

    name = "zz_test_persist_then_raise"
    registry.register(name)(failing)
    try:
        cm = spark._jsparkSession.sharedState().cacheManager()
        with pytest.raises(RuntimeError, match="build failed"):
            registry._REGISTRY[name].fn(spark, entrymod.SMOKE_SF_DIR)
        assert cm.isEmpty(), "persist_scoped frame outlived the failed build"
    finally:
        del registry._REGISTRY[name]
