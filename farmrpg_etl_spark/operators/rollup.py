"""Grouped aggregation / window / set-op surface.

The reference computes no grouped aggregations (SURVEY.md §2.6) —
Spark ships them built-in and our engine exposes them as first-class
query shapes (they're also the bench headliners). Everything here is
partial-aggregatable (map-side combine) and AQE-friendly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def running_total(
    df: DataFrame, keys: Sequence[str], order_col: str, value_col: str, out_col: str
) -> DataFrame:
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(F.col(value_col)).over(w))


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, F.Column]) -> DataFrame:
    """ROLLUP over keys (subtotals + grand total)."""
    return df.rollup(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def hierarchical_time_rollup(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    fine: str = "minute",
    coarse: str = "hour",
) -> DataFrame:
    """Hypertable-style two-level time-bucket rollup: aggregate into
    fine buckets, then RE-AGGREGATE the coarse level from the fine
    partials (count/sum/min/max compose exactly; avg derives from
    sum÷count at read time).

    This is the continuous-aggregate pattern at 100 TB: the fine rollup
    is the only pass over raw data — every coarser resolution reads the
    (minutes-per-key-sized) partial table instead of the events fact.
    Sums run in DECIMAL so regrouping partials is bit-exact equal to
    aggregating the raw rows directly (the oracle checks exactly that).
    """
    fine_b = F.date_trunc(fine, F.col(ts_col)).alias("__fine")
    partial = df.groupBy(fine_b, *keys).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__sum"),
        F.min(value_col).alias("__min"),
        F.max(value_col).alias("__max"),
    )
    coarse_b = F.date_trunc(coarse, F.col("__fine")).alias("bucket")
    return partial.groupBy(coarse_b, *keys).agg(
        F.sum("__n").alias("n_rows"),
        F.round(F.sum("__sum"), 2).cast("double").alias("total_value"),
        F.min("__min").alias("min_value"),
        F.max("__max").alias("max_value"),
    )


def salted_sum(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str,
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase salted aggregation for skewed low-cardinality keys.

    A plain ``groupBy(key).sum`` on a key with few distinct values
    funnels each key's rows through one reducer. Salting splits every
    key into ``salt_buckets`` sub-keys for the first (parallel) phase,
    then combines the per-salt partials in a second, tiny shuffle —
    the classic skew mitigation when AQE's skew-join splitting doesn't
    apply (aggregation, not join). Result is identical to the direct
    aggregation; the value is summed in DECIMAL so the two-phase
    regrouping cannot change the result (exact, order-independent).
    """
    salt = (F.rand(seed=7) * salt_buckets).cast("int")
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__partial"))
    )
    return (
        phase1.groupBy(*keys)
        .agg(F.round(F.sum("__partial"), 2).cast("double").alias(out_col))
    )


def histogram_sketch(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    grain: str = "hour",
    width: float = 10.0,
) -> DataFrame:
    """Fixed-width-bucket value histogram per time bucket — the
    mergeable quantile sketch: ``(bucket_ts, bucket, n)`` where
    ``bucket = floor(value / width)``. Counts compose exactly under
    addition, so coarser resolutions merge stored partials
    (:func:`merge_histograms`) instead of rescanning raw data —
    the continuous-aggregate pattern for quantiles; the
    representation is portable integers, so the whole path is
    oracle-checkable.

    At 100 TB the sketch per (time bucket) is ≤ value_range/width
    rows of two longs — the rollup table is bounded by bucket count,
    not row count, and the groupBy is partial-aggregatable (map-side
    combine collapses each partition to ≤ n_buckets rows before the
    shuffle)."""
    return (
        df.groupBy(
            F.date_trunc(grain, F.col(ts_col)).alias("bucket_ts"),
            F.floor(F.col(value_col) / F.lit(width)).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_histograms(hist: DataFrame, coarse: str = "day") -> DataFrame:
    """Re-aggregate fine histograms to a coarser grain by summing
    bucket counts — exact (addition is associative), no raw-data
    rescan."""
    return (
        hist.groupBy(
            F.date_trunc(coarse, F.col("bucket_ts")).alias("bucket_ts"),
            F.col("bucket"),
        )
        .agg(F.sum("n").alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame, width: float = 10.0
) -> DataFrame:
    """Quantile estimates from a bucket histogram: per time bucket,
    the p50/p90 lower bound is the smallest bucket whose cumulative
    count reaches the quantile of the total. Integer-only threshold
    arithmetic (``2·cum ≥ total``, ``10·cum ≥ 9·total``) — no float
    rounding to diverge across engines; the estimate is exact to
    ±width by construction. One window pass over the (tiny) sketch,
    never over raw data."""
    w = Window.partitionBy("bucket_ts").orderBy(F.col("bucket").asc())
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy("bucket_ts"))
    )
    return cum.groupBy("bucket_ts").agg(
        F.max("total").alias("n_rows"),
        (
            F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("bucket")))
            * F.lit(width)
        ).alias("p50_lo"),
        (
            F.min(F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("bucket")))
            * F.lit(width)
        ).alias("p90_lo"),
    )


def key_skew_profile(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Key-distribution diagnostics — the measurement you SALT against:
    per-key row counts collapsed into power-of-two buckets
    (``bucket = floor(log2(count))`` via integer bit-length, no
    transcendental), emitting ``(bucket, n_keys, n_rows)``. A uniform
    key reads as one narrow band; a hot key shows as a lonely
    high-bucket row whose ``n_rows`` share tells you the shuffle's
    straggler factor before you pay for it. Sized for 100 TB: one
    map-side-combined count per key, then a bucket-count aggregation
    over the (key-cardinality-sized, fixed-width) count relation —
    never a global sort, never a quantile pass over raw rows.

    The exact-top-k complement (WHICH keys are hot) is
    ``operators.heavyhitters.heavy_hitters``; this profile is the
    cheap always-on gauge."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__cnt"))
    bucket = (F.length(F.bin(F.col("__cnt"))) - F.lit(1)).alias("bucket")
    return (
        counts.select(bucket, "__cnt")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("__cnt").alias("n_rows"),
        )
    )


def gap_fill_hourly(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Dense hourly time series per key with gap filling — the
    resample step every metrics pipeline needs before joins or
    charting: hours with no events appear with ``n_events = 0`` and a
    FORWARD-FILLED ``value_ffill_micros`` (last known hourly total),
    so downstream window math never sees holes.

    The hour grid spans the GLOBAL [min, max] event hour and is built
    with ``sequence()`` per key — grid size = keys × hours, dimension
    data next to the event log, generated where it is joined rather
    than shuffled in. Values are floor-quantized to micros per event
    and summed as exact integers (order-independent, oracle-exact);
    the forward fill is a per-key ``last(ignorenulls)`` window over
    the dense grid — bounded by hours-per-key, not by event count.
    """
    from pyspark.sql import Window

    hour = F.date_trunc("hour", F.col(ts_col))
    per = df.select(
        F.col(key_col).alias("key"),
        hour.alias("hour"),
        F.floor(F.col(value_col) * F.lit(1000000.0)).cast("long").alias("__vm"),
    ).groupBy("key", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("__vm").alias("__sm"),
    )
    span = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("h0"),
        F.date_trunc("hour", F.max(ts_col)).alias("h1"),
    )
    grid = (
        df.select(F.col(key_col).alias("key"))
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "key",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per, ["key", "hour"], "left")
        .withColumn(
            "value_ffill_micros",
            F.coalesce(F.last("__sm", ignorenulls=True).over(w), F.lit(0)),
        )
        .select(
            F.col("key").alias(key_col),
            "hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("__sm", F.lit(0)).alias("value_micros"),
            "value_ffill_micros",
        )
    )


def zscore_anomalies(
    hourly: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value_micros",
    threshold: int = 3,
) -> DataFrame:
    """Z-score anomaly flags over a (dense) per-key hourly series —
    the alerting step after :func:`gap_fill_hourly`. The test
    ``|v − μ| ≥ t·σ`` is evaluated as the EXACT integer inequality
    ``(n·v − Σv)² ≥ t²·(n·Σv² − (Σv)²)`` over decimal(38) arithmetic
    (population variance, cleared of the n² denominator), so no
    floating-point stddev enters — Spark's and an oracle engine's
    stddev kernels sum in different orders and can differ in the last
    ulp, while integer sums cannot. Two partial-agg shuffles: per-key
    moments, then a broadcast join-back of the (keys-sized) moment
    table."""
    v = F.col(value_col).cast("decimal(38,0)")
    moments = hourly.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(v).alias("__s1"),
        F.sum(v * v).alias("__s2"),
    )
    lhs_root = F.col("__n") * v - F.col("__s1")
    rhs = (
        F.lit(threshold * threshold).cast("decimal(38,0)")
        * (F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1"))
    )
    return hourly.join(F.broadcast(moments), key_col).select(
        key_col,
        "hour",
        value_col,
        F.when(lhs_root * lhs_root >= rhs, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_anomaly"),
    )
