"""Structural boundedness guards: a collect/broadcast side input must
fail loudly over its declared cap, and the collect path must never
transfer more than cap+1 rows (it goes through limit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from martian_moments_spark.guards import (
    BoundedSideError,
    assert_bounded,
    collect_bounded,
)


def test_collect_bounded_under_cap(spark):
    df = spark.range(10).select(F.col("id"))
    rows = collect_bounded(df, cap=10, what="test side")
    assert len(rows) == 10


def test_collect_bounded_over_cap_raises(spark):
    df = spark.range(100)
    with pytest.raises(BoundedSideError, match="test side"):
        collect_bounded(df, cap=99, what="test side")


def test_assert_bounded_passes_through(spark):
    df = spark.range(5)
    out = assert_bounded(df, cap=5, what="side")
    assert out is df
    assert out.count() == 5


def test_assert_bounded_over_cap_raises(spark):
    with pytest.raises(BoundedSideError, match="declared bound of 3"):
        assert_bounded(spark.range(10), cap=3, what="side")


def test_assert_bounded_once_key_memoizes_passing_checks(spark):
    from martian_moments_spark import guards

    df = spark.range(4)
    assert_bounded(df, cap=10, what="memo side", once_key="ds1")
    assert ("memo side", "ds1", 10) in guards._VERIFIED
    # over-cap with a DIFFERENT key still fails — memo is per-dataset
    with pytest.raises(BoundedSideError):
        assert_bounded(spark.range(20), cap=10, what="memo side", once_key="ds2")


def test_pagerank_checks_vocabulary_bound_before_any_collect(spark, monkeypatch):
    """The driver-side fold's vocabulary bound is checked on a scalar
    count, before the transition or node collect can run."""
    from martian_moments_spark.plans import queries_events
    from tests.conftest import SF_DIR_SMALL

    DataFrame = type(spark.range(1))  # the concrete class (classic or connect)
    calls = []
    real = DataFrame.collect

    def spy(self):
        calls.append(self)
        return real(self)

    monkeypatch.setattr(queries_events, "_PR_MAX_NODES", 1)
    monkeypatch.setattr(DataFrame, "collect", spy)
    with pytest.raises(ValueError, match="vocabulary bound 1"):
        queries_events.pagerank_event_graph(spark, SF_DIR_SMALL)
    assert calls == []
