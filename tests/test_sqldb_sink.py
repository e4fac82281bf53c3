"""Live-SQL-database sink tests (`sinks/sqldb.py`) — K1-K4 executed
against a real sqlite engine (an engine the reference itself supports,
db/chat.py:17-19) through per-partition connections, then read back
through the partitioned parallel reader.
"""

from __future__ import annotations

from datetime import datetime

from farmrpg_etl_spark.sinks import sqldb


def _spec(tmp_path, **kw):
    defaults = dict(
        db_path=str(tmp_path / "sink.db"),
        table="message",
        schema="id bigint, room string, username string, ts timestamp, flags int",
        key=("id",),
    )
    defaults.update(kw)
    return sqldb.SqlTableSpec(**defaults)


def _messages(spark, n=50, flags=0):
    return spark.range(0, n).selectExpr(
        "id",
        "concat('room', id % 3) as room",
        "concat('u', id % 7) as username",
        "timestamp'2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id) as ts",
        f"{flags} as flags",
    ).repartition(4)


def test_insert_absent_roundtrip_and_replay(spark, tmp_path):
    spec = _spec(tmp_path)
    df = _messages(spark)
    sqldb.insert_absent(df, spec)
    back = sqldb.read_table(spark, spec)
    assert back.count() == 50
    row = back.filter("id = 7").first()
    assert (row["room"], row["username"]) == ("room1", "u0")
    assert row["ts"] == datetime(2024, 6, 1, 12, 0, 7)
    # replay (Spark task retry / reference duplicate poll): no dupes
    sqldb.insert_absent(df, spec)
    assert sqldb.read_table(spark, spec).count() == 50
    # overlapping second wave inserts only the new ids (D3 semantics)
    sqldb.insert_absent(_messages(spark, n=80), spec)
    assert sqldb.read_table(spark, spec).count() == 80


def test_insert_absent_first_writer_wins(spark, tmp_path):
    spec = _spec(tmp_path)
    sqldb.insert_absent(_messages(spark, flags=1), spec)
    sqldb.insert_absent(_messages(spark, flags=2), spec)  # ignored
    flags = {r["flags"] for r in sqldb.read_table(spark, spec).collect()}
    assert flags == {1}


def test_correlated_update(spark, tmp_path):
    """db/chat.py:22-26 — the flags pipeline updates flags on the
    matching message row; unmatched updates are no-ops."""
    spec = _spec(tmp_path, key=("room", "username", "ts"))
    sqldb.insert_absent(_messages(spark), spec)
    upd = _messages(spark, n=10, flags=9)  # ids 0-9 get flags=9
    sqldb.correlated_update(upd, spec, set_cols=("flags",))
    back = sqldb.read_table(spark, spec)
    assert back.filter("flags = 9").count() == 10
    assert back.filter("flags = 0").count() == 40
    # unmatched key: nothing changes
    ghost = spark.createDataFrame(
        [(99, "nowhere", "ghost", datetime(2000, 1, 1), 5)], spec.schema
    )
    sqldb.correlated_update(ghost, spec, set_cols=("flags",))
    assert sqldb.read_table(spark, spec).count() == 50


def test_upsert(spark, tmp_path):
    spec = _spec(tmp_path)
    sqldb.upsert(_messages(spark, n=30, flags=1), spec)
    sqldb.upsert(_messages(spark, n=50, flags=2), spec)  # 0-29 update, 30-49 insert
    back = sqldb.read_table(spark, spec)
    assert back.count() == 50
    assert back.filter("flags = 2").count() == 50  # last write wins


def test_partitioned_read_matches_driver_read(spark, tmp_path):
    spec = _spec(tmp_path)
    sqldb.insert_absent(_messages(spark, n=200), spec)
    for n_parts in (1, 3, 8):
        got = sorted(
            (r["id"], r["room"], r["ts"]) for r in
            sqldb.read_table(spark, spec, num_partitions=n_parts).collect()
        )
        assert len(got) == 200
        assert got[0] == (0, "room0", datetime(2024, 6, 1, 12, 0, 0))
        assert got[199][0] == 199
    # the read genuinely fans out over >1 partition
    assert sqldb.read_table(spark, spec, num_partitions=3).rdd.getNumPartitions() == 3


def test_empty_table_read(spark, tmp_path):
    spec = _spec(tmp_path)
    sqldb.ensure_table(spec)
    assert sqldb.read_table(spark, spec).count() == 0


def test_concurrent_partition_writers(spark, tmp_path):
    """Many partitions write the same sqlite file concurrently; WAL +
    busy-timeout serialize them without error or loss."""
    spec = _spec(tmp_path)
    big = _messages(spark, n=5000).repartition(16)
    sqldb.insert_absent(big, spec)
    assert sqldb.read_table(spark, spec, num_partitions=8).count() == 5000


def test_ddl_parse_parameterized_and_malformed(tmp_path):
    import pytest

    spec = _spec(tmp_path, schema="id bigint, amount decimal(10,2), note string")
    assert spec.columns == ("id", "amount", "note")
    assert spec.types["amount"] == "decimal(10,2)"
    sqldb.ensure_table(spec)  # NUMERIC affinity, no KeyError
    with pytest.raises(ValueError, match="malformed"):
        _spec(tmp_path, schema="id bigint, oops").columns
    with pytest.raises(ValueError, match="unsupported"):
        _spec(tmp_path, schema="id bigint, v map<string,int>").columns
