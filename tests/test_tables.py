"""The per-session table-schema memo in ``sources/tables.py``: every
load is a fresh relation, a rewritten file is a miss, nano and NTZ
timestamps normalize the same on a miss and on a hit, and a missing
table raises Spark's own error."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from farmrpg_etl_spark.sources import tables
from farmrpg_etl_spark.sources.tables import load_table


def _memo_paths(spark) -> set[str]:
    return set(tables._SCHEMAS.get(spark, {}))


def test_each_load_is_a_fresh_relation(spark, tmp_path):
    # 25 nations over 5 regions: the self-join on the region key is
    # 5 × 25 = 125 rows; one shared relation would make the condition
    # trivially true and return the 625-row cross product
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int64()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64()),
        }),
        tmp_path / "nation.parquet",
    )
    n1 = load_table(spark, str(tmp_path), "nation")
    n2 = load_table(spark, str(tmp_path), "nation")
    assert n1.join(n2, n1.n_regionkey == n2.n_regionkey).count() == 125


def test_rewritten_file_is_a_miss(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "b": pa.array(["x"])}), path
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(1, "x")]


@pytest.mark.parametrize(
    "unit, write_opts",
    [
        ("ns", {"version": "2.6", "coerce_timestamps": None}),
        ("us", {}),  # tz-naive micros: isAdjustedToUTC=false → NTZ
    ],
)
def test_timestamps_normalize_on_miss_and_hit(spark, tmp_path, unit, write_opts):
    want = [dt.datetime(2024, 1, 2, 3, 4, 5, 123456), dt.datetime(1999, 12, 31)]
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()),
                  "ts": pa.array(want, pa.timestamp(unit))}),
        tmp_path / "events.parquet",
        **write_opts,
    )
    path = os.path.join(str(tmp_path), "events.parquet")
    assert path not in _memo_paths(spark)
    miss = load_table(spark, str(tmp_path), "events")
    raw = tables.table_schema(spark, path)
    assert raw.nano_cols == (("ts",) if unit == "ns" else ())
    assert raw.ntz_cols == (() if unit == "ns" else ("ts",))
    hit = load_table(spark, str(tmp_path), "events")
    assert tables.table_schema(spark, path) is raw
    for df in (miss, hit):
        assert dict(df.dtypes)["ts"] == "timestamp"
    # the naive instants written, read as UTC (the session zone)
    micros = [
        (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
        for t in want
    ]
    got = [
        [r.m for r in df.orderBy("id").select(F.unix_micros("ts").alias("m")).collect()]
        for df in (miss, hit)
    ]
    assert got == [micros, micros]


def test_missing_table_raises_and_memoizes_nothing(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "absent")
    assert str(tmp_path / "absent.parquet") not in _memo_paths(spark)
