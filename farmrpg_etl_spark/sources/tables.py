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

Schema memo: inferring a table's schema reads its footer twice (once
through pyarrow for the nano columns, once through a schema-inferring
``spark.read.parquet``, which runs a small Spark job), and query plans
load the same few tables over and over. :func:`table_schema` therefore
infers once per Spark session and file identity — the path plus every
member file's ``st_mtime_ns`` and ``st_size`` — so rewriting a table in
place is a miss that replaces the path's entry. The memo holds the schema, never a DataFrame: each
load builds a fresh relation with ``spark.read.schema(raw)``. Plans
that load one table twice for a self-join (q7/q8's n1/n2 nations) need
two relations with distinct attribute ids; one shared DataFrame would
make ``n1.n_regionkey == n2.n_regionkey`` trivially true and silently
turn the join into a cross product.
"""

from __future__ import annotations

import os
import weakref
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from farmrpg_etl_spark.schemas import TESTDATA_TABLES


class TableSchema(NamedTuple):
    """What a table's files tell Spark. ``raw`` is the schema Spark
    infers for them (TIMESTAMP(NANOS) columns as bigint); ``nano_cols``
    are the bigint columns holding integer nanoseconds and ``ntz_cols``
    the TIMESTAMP_NTZ columns, both normalized by
    :func:`normalize_timestamps`."""

    raw: StructType
    nano_cols: tuple[str, ...]
    ntz_cols: tuple[str, ...]


# session → {path → (file identity, TableSchema)}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


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


def _file_identity(path: str) -> tuple:
    """``((file, mtime_ns, size), ...)`` over the files Spark reads at
    ``path`` (hidden ``_``/``.`` entries excluded)."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((path, st.st_mtime_ns, st.st_size),)
    members = []
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(d, f))
                members.append((os.path.join(d, f), st.st_mtime_ns, st.st_size))
    return tuple(members)


def _infer(spark: SparkSession, path: str) -> TableSchema:
    nano = _nano_timestamp_cols(path)
    if nano:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(path).schema
    # Guard on the ACTUAL Spark-side dtype: pyarrow reports parquet
    # INT96 timestamps as timestamp[ns] too, but Spark reads INT96 as a
    # real TIMESTAMP (nanosAsLong only affects TIMESTAMP(NANOS)-
    # annotated int64 columns), so only a column that truly arrived as
    # bigint needs the integer-nanos → micros conversion.
    return TableSchema(
        raw,
        tuple(c for c in nano if isinstance(raw[c].dataType, LongType)),
        tuple(f.name for f in raw if isinstance(f.dataType, TimestampNTZType)),
    )


def table_schema(spark: SparkSession, path: str) -> TableSchema:
    """The table's :class:`TableSchema`, inferred once per session and
    file identity (see the module docstring)."""
    try:
        ident = _file_identity(path)
    except FileNotFoundError:
        spark.read.parquet(path)  # Spark's own [PATH_NOT_FOUND] error
        raise
    # one entry per path: a rewritten table replaces its stale entry
    memo = _SCHEMAS.setdefault(spark, {})
    hit = memo.get(path)
    if hit is None or hit[0] != ident:
        hit = memo[path] = (ident, _infer(spark, path))
    return hit[1]


def normalize_timestamps(df: DataFrame, ts: TableSchema) -> DataFrame:
    """Integer nanos → micros timestamps, and NTZ → LTZ.

    Parquet micros with isAdjustedToUTC=false arrive as TIMESTAMP_NTZ;
    the engine's timestamp semantics (and every time-window / range
    expression, e.g. unix_micros) are defined over TIMESTAMP_LTZ with
    a UTC session zone. Normalizing schema-driven lets the same query
    run against either encoding of the testdata, batch or streaming."""
    for c in ts.nano_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    for c in ts.ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    ts = table_schema(spark, path)
    return normalize_timestamps(spark.read.schema(ts.raw).parquet(path), ts)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}
