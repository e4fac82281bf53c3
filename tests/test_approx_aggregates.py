"""Approximate aggregates (the sketches a 100 TB pipeline uses when
exact is too expensive): approx_count_distinct (HyperLogLog++) and
approx_percentile (Greenwald-Khanna) verified against exact answers
within their configured error bounds on real testdata.

These are deliberately NOT oracle queries — sketch internals differ
across engines, so cross-engine hash-matching is meaningless; the
correct contract is an error bound against the exact computation,
which is what these tests pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from farmrpg_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events")


def test_hll_distinct_users_within_rsd(spark, events):
    exact = events.select("user_id").distinct().count()
    approx = events.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n")
    ).first().n
    assert abs(approx - exact) <= max(3 * 0.02 * exact, 1)


def test_hll_distinct_per_type_within_rsd(spark, events):
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.05).alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(3 * 0.05 * n, 1)


def test_approx_percentile_rank_error(spark, events):
    """approx_percentile(accuracy=a) guarantees rank error <= n/a: the
    returned value's true rank must be within that many positions of
    the target rank."""
    acc = 1000
    n = events.count()
    got = events.agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], acc).alias("p")
    ).first().p
    vals = [r.value for r in events.select("value").collect()]
    vals.sort()
    for q, v in zip([0.5, 0.9, 0.99], got):
        import bisect

        lo = bisect.bisect_left(vals, v)
        hi = bisect.bisect_right(vals, v)
        target = q * n
        slack = n / acc + 1
        assert lo - slack <= target <= hi + slack, (q, v, lo, hi, target)


def test_sketches_are_partial_aggregatable(spark, events):
    """The sketch result must be invariant to partitioning — the
    property that makes it shuffle exactly one sketch per partition
    instead of raw rows."""
    a = events.repartition(1).agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n")
    ).first().n
    b = events.repartition(17, "event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n")
    ).first().n
    assert a == b
