"""Batch table sources.

Parquet scans are the engine's primary batch source. We rely on
Catalyst for predicate pushdown / column pruning — callers `select`
and `filter` on the returned DataFrame and the scan narrows
accordingly (verify with ``df.explain('formatted')`` →
``PushedFilters`` / ``ReadSchema``). At cluster scale, big fact
tables (lineitem/orders/events) should be written partitioned by
date and bucketed by join key; see ``farmrpg_etl_spark.sinks``.

Nanosecond timestamps: Spark rejects parquet TIMESTAMP(NANOS)
columns outright ([PARQUET_TYPE_ILLEGAL]). We read them as raw int64
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to
microsecond timestamps with exact integer arithmetic (``DIV 1000``
— never float division, which loses ulps above 2^53 and can flip
the floor at boundaries). Detection is schema-driven via pyarrow,
so any table with nano columns is normalized, not just `events`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from farmrpg_etl_spark.schemas import TESTDATA_TABLES


def _nano_timestamp_cols(path: str) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    first = path
    if os.path.isdir(path):
        members = [m for m in sorted(os.listdir(path)) if m.endswith(".parquet")]
        if not members:
            return []
        first = os.path.join(path, members[0])
    schema = pq.read_schema(first)
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    nano_cols = _nano_timestamp_cols(path)
    if nano_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # Guard on the ACTUAL Spark-side dtype: pyarrow reports parquet
    # INT96 timestamps as timestamp[ns] too, but Spark reads INT96 as a
    # real TIMESTAMP (nanosAsLong only affects TIMESTAMP(NANOS)-
    # annotated int64 columns), so only a column that truly arrived as
    # bigint needs the integer-nanos → micros conversion.
    dtypes = dict(df.dtypes)
    for c in nano_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    # Parquet micros with isAdjustedToUTC=false arrive as TIMESTAMP_NTZ;
    # the engine's timestamp semantics (and every time-window / range
    # expression, e.g. unix_micros) are defined over TIMESTAMP_LTZ with
    # a UTC session zone. Normalize schema-driven so the same query
    # runs against either encoding of the testdata.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
