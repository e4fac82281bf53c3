"""Streaming operator tests: stateful chat CDC transitions, the
watermarked flags↔chat join, and batch/stream agreement — driven by
deterministic file-source micro-batches (availableNow)."""

from __future__ import annotations

from datetime import datetime

import pytest

from farmrpg_etl_spark.operators import cdc
from farmrpg_etl_spark.streaming.chat_cdc import chat_cdc_stream
from farmrpg_etl_spark.streaming.flags_join import flags_resolution_join
from farmrpg_etl_spark.streaming.ops import run_available_now

OBS_SCHEMA = (
    "room string, id string, obs_ts timestamp, pos int, ts timestamp,"
    " username string, content string, flags int, deleted boolean,"
    " deleted_ts timestamp"
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def obs(room, id_, obs_ts, pos, content, deleted=False, flags=0):
    return (room, id_, ts(obs_ts), pos, ts("2024-01-01 00:00:00"), "u", content,
            flags, deleted, None)


OBSERVATIONS = [
    # poll 1: two messages
    obs("help", "1", "2024-01-01 10:00:00", 0, "hello"),
    obs("help", "2", "2024-01-01 10:00:00", 1, "world"),
    # poll 2: m1 unchanged (suppressed), m2 edited (emitted)
    obs("help", "1", "2024-01-01 10:00:01", 0, "hello"),
    obs("help", "2", "2024-01-01 10:00:01", 1, "world!"),
    # poll 3: m1 deleted (emitted, deleted_ts stamped = obs time)
    obs("help", "1", "2024-01-01 10:00:02", 0, "hello", deleted=True),
    obs("help", "2", "2024-01-01 10:00:02", 1, "world!"),
    # poll 4: m1 still deleted, unchanged (suppressed, carry-forward)
    obs("help", "1", "2024-01-01 10:00:03", 0, "hello", deleted=True),
    # poll 5: m1 deleted with a flags bump (emitted, deleted_ts carried)
    obs("help", "1", "2024-01-01 10:00:04", 0, "hello", deleted=True, flags=2),
]

EXPECTED = {
    # (id, obs_ts) → (content, deleted, deleted_ts)
    ("1", ts("2024-01-01 10:00:00")): ("hello", False, None),
    ("2", ts("2024-01-01 10:00:00")): ("world", False, None),
    ("2", ts("2024-01-01 10:00:01")): ("world!", False, None),
    ("1", ts("2024-01-01 10:00:02")): ("hello", True, ts("2024-01-01 10:00:02")),
    ("1", ts("2024-01-01 10:00:04")): ("hello", True, ts("2024-01-01 10:00:02")),
}


def test_message_cdc_batch(spark):
    df = spark.createDataFrame(OBSERVATIONS, OBS_SCHEMA).drop("deleted_ts")
    got = {
        (r["id"], r["obs_ts"]): (r["content"], r["deleted"], r["deleted_ts"])
        for r in cdc.message_cdc(df, ["room", "id"], "obs_ts").collect()
    }
    assert got == EXPECTED


def test_message_cdc_streaming_matches_batch(spark, tmp_path):
    src = str(tmp_path / "obs")
    spark.createDataFrame(OBSERVATIONS, OBS_SCHEMA).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).parquet(src)
    out = run_available_now(chat_cdc_stream(sdf), "append")
    got = {
        (r["id"], r["obs_ts"]): (r["content"], r["deleted"], r["deleted_ts"])
        for r in out.collect()
    }
    assert got == EXPECTED


class _FakeValueState:
    """In-memory stand-in for the TWS ValueState API surface the
    processor uses (exists/get/update), so the TWS glue is exercised
    in containers without the protobuf state protocol."""

    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v


class _FakeHandle:
    def __init__(self):
        self.states = {}
        self.ttls = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        self.ttls[name] = ttlDurationMs
        return self.states.setdefault(name, _FakeValueState())


def test_chat_cdc_tws_processor_glue_matches_expected():
    """Drive ChatCdcProcessor.handleInputRows directly through a fake
    state handle, one call per poll per key (micro-batch order): the
    TWS backend's marshalling around the shared _cdc_core must
    reproduce the pinned CDC transitions. (The true-TWS streaming
    equivalence test below runs where protobuf exists.)"""
    import pandas as pd

    from farmrpg_etl_spark.streaming.chat_cdc import ChatCdcProcessor

    cols = [
        "room", "id", "obs_ts", "pos", "ts", "username", "content",
        "flags", "deleted", "deleted_ts",
    ]
    proc = ChatCdcProcessor(state_ttl_ms=3_600_000)
    handles = {}
    out_rows = []
    # one handleInputRows call per (poll, key), in obs_ts order — the
    # per-key state must persist across calls like the state store does
    by_poll: dict = {}
    for row in OBSERVATIONS:
        by_poll.setdefault(row[2], []).append(row)
    for poll_ts in sorted(by_poll):
        by_key: dict = {}
        for row in by_poll[poll_ts]:
            by_key.setdefault((row[0], row[1]), []).append(row)
        for key, rows in by_key.items():
            if key not in handles:
                handles[key] = _FakeHandle()
            proc_key = ChatCdcProcessor(state_ttl_ms=3_600_000)
            proc_key.init(handles[key])
            pdf = pd.DataFrame(rows, columns=cols)
            for out_pdf in proc_key.handleInputRows(key, iter([pdf]), None):
                out_rows.extend(out_pdf.to_dict("records"))
    assert handles[("help", "1")].ttls == {"chat_state": 3_600_000}
    got = {
        (r["id"], r["obs_ts"].to_pydatetime()): (
            r["content"],
            r["deleted"],
            None if r["deleted_ts"] is None else r["deleted_ts"].to_pydatetime(),
        )
        for r in out_rows
    }
    assert got == EXPECTED


def test_chat_cdc_tws_streaming_matches_batch(spark, tmp_path):
    """True transformWithStateInPandas run — both backends must
    hash-identically reproduce EXPECTED. Skipped where the TWS state
    protocol (protobuf) is unavailable; the glue test above still
    covers the processor in that case."""
    from farmrpg_etl_spark.streaming.chat_cdc import (
        chat_cdc_stream_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("protobuf absent: TWS state protocol unavailable")
    src = str(tmp_path / "obs_tws")
    spark.createDataFrame(OBSERVATIONS, OBS_SCHEMA).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).parquet(src)
    out = run_available_now(chat_cdc_stream_tws(sdf), "append")
    got = {
        (r["id"], r["obs_ts"]): (r["content"], r["deleted"], r["deleted_ts"])
        for r in out.collect()
    }
    assert got == EXPECTED


def test_flags_resolution_join_streaming(spark, tmp_path):
    chat_rows = [
        ("help", "10", ts("2024-01-01 10:00:00"), "alice"),
        ("help", "11", ts("2024-01-01 10:01:00"), "bob"),
    ]
    flags_rows = [
        ("help", ts("2024-01-01 10:00:00"), "alice", 3),
        ("help", ts("2024-01-01 10:59:00"), "nobody", 9),  # unresolved → dropped
    ]
    chat_path, flags_path = str(tmp_path / "chat"), str(tmp_path / "flags")
    spark.createDataFrame(
        chat_rows, "room string, id string, ts timestamp, username string"
    ).write.parquet(chat_path)
    spark.createDataFrame(
        flags_rows, "room string, ts timestamp, username string, flags int"
    ).write.parquet(flags_path)
    chat_sdf = spark.readStream.schema(
        spark.read.parquet(chat_path).schema
    ).parquet(chat_path)
    flags_sdf = spark.readStream.schema(
        spark.read.parquet(flags_path).schema
    ).parquet(flags_path)
    out = run_available_now(
        flags_resolution_join(chat_sdf, flags_sdf), "append"
    ).collect()
    assert [(r["id"], r["flags"]) for r in out] == [("10", 3)]


def test_flags_resolution_join_streaming_unmatched_channel(spark, tmp_path):
    """keep_unmatched=True: the drop-with-log rows become observable —
    they emit with id IS NULL once the watermark passes (reference
    firestore/chat.py:72-78 logs then drops; we quarantine)."""
    # the GLOBAL watermark is min over both streams' (max ts − delay):
    # BOTH sides need a late row, or the slower side pins the watermark
    # below the unresolved row's ts and it never expires
    chat_rows = [
        ("help", "10", ts("2024-01-01 10:00:00"), "alice"),
        ("help", "11", ts("2024-01-01 10:01:00"), "bob"),
        ("help", "12", ts("2024-01-01 12:00:00"), "carol"),
    ]
    flags_rows = [
        ("help", ts("2024-01-01 10:00:00"), "alice", 3),
        ("help", ts("2024-01-01 10:59:00"), "nobody", 9),  # unresolved
        ("help", ts("2024-01-01 12:00:00"), "dave", 2),  # late watermark push
    ]
    chat_path, flags_path = str(tmp_path / "chat"), str(tmp_path / "flags")
    spark.createDataFrame(
        chat_rows, "room string, id string, ts timestamp, username string"
    ).write.parquet(chat_path)
    spark.createDataFrame(
        flags_rows, "room string, ts timestamp, username string, flags int"
    ).write.parquet(flags_path)
    chat_sdf = spark.readStream.schema(
        spark.read.parquet(chat_path).schema
    ).parquet(chat_path)
    flags_sdf = spark.readStream.schema(
        spark.read.parquet(flags_path).schema
    ).parquet(flags_path)
    out = run_available_now(
        flags_resolution_join(chat_sdf, flags_sdf, keep_unmatched=True),
        "append",
        empty_batches_to_flush=2,  # outer join: emission lags one batch
    ).collect()
    got = {(r["username"], r["flags"]): r["id"] for r in out}
    assert got[("alice", 3)] == "10"  # resolved keeps its id
    assert ("nobody", 9) in got and got[("nobody", 9)] is None  # quarantined


def test_flags_resolution_join_batch_unmatched(spark):
    chat = spark.createDataFrame(
        [("help", "10", ts("2024-01-01 10:00:00"), "alice")],
        "room string, id string, ts timestamp, username string",
    )
    flags = spark.createDataFrame(
        [
            ("help", ts("2024-01-01 10:00:00"), "alice", 3),
            ("help", ts("2024-01-01 10:05:00"), "eve", 7),
        ],
        "room string, ts timestamp, username string, flags int",
    )
    out = flags_resolution_join(chat, flags, keep_unmatched=True).collect()
    got = {(r["username"], r["flags"]): r["id"] for r in out}
    assert got == {("alice", 3): "10", ("eve", 7): None}


def test_flags_resolution_join_batch(spark):
    chat = spark.createDataFrame(
        [("help", "10", ts("2024-01-01 10:00:00"), "alice")],
        "room string, id string, ts timestamp, username string",
    )
    flags = spark.createDataFrame(
        [("help", ts("2024-01-01 10:00:00"), "alice", 3)],
        "room string, ts timestamp, username string, flags int",
    )
    out = flags_resolution_join(chat, flags).collect()
    assert [(r["id"], r["flags"]) for r in out] == [("10", 3)]


def test_streaming_windowed_counts_watermark_boundary(spark, tmp_path):
    """A window whose end equals the final watermark (max_ts − delay)
    IS emitted; later windows are withheld. Pins the `<=` boundary the
    oracle relies on."""
    import pandas as pd

    from farmrpg_etl_spark.streaming import ops

    t = lambda h, m=0: datetime(2024, 1, 1, h, m)
    pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [t(10), t(10, 30), t(11, 30), t(12)],
            "user_id": [1, 1, 2, 2],
            "event_type": ["a", "a", "b", "b"],
            "value": [1.0, 2.0, 3.0, 4.0],
            "props": ["{}"] * 4,
        }
    ).to_parquet(str(tmp_path / "events.parquet"))
    rows = ops.streaming_windowed_counts(spark, str(tmp_path)).collect()
    # wm = 12:00 − 1h = 11:00 → only the [10:00, 11:00) window closed
    assert [(r.window_start, r.n_events, r.total_value) for r in rows] == [
        (t(10), 2, 3.0)
    ]


def test_streaming_enriched_counts_matches_batch(spark, tmp_path):
    import pandas as pd

    from farmrpg_etl_spark.streaming import ops

    pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [datetime(2024, 1, 1, 10)] * 3,
            "user_id": [0, 0, 1],
            "event_type": ["a", "b", "a"],
            "value": [1.0] * 3,
            "props": ["{}"] * 3,
        }
    ).to_parquet(str(tmp_path / "events.parquet"))
    pd.DataFrame(
        {
            "c_custkey": [0, 1],
            "c_name": ["x", "y"],
            "c_nationkey": [0, 0],
            "c_acctbal": [0.0, 0.0],
            "c_mktsegment": ["BUILDING", "AUTOMOBILE"],
        }
    ).to_parquet(str(tmp_path / "customer.parquet"))
    got = {
        (r.c_mktsegment, r.event_type): r.n_events
        for r in ops.streaming_enriched_counts(spark, str(tmp_path)).collect()
    }
    assert got == {
        ("BUILDING", "a"): 1,
        ("BUILDING", "b"): 1,
        ("AUTOMOBILE", "a"): 1,
    }


def test_chat_cdc_state_ttl_evicts_and_reemits(spark, tmp_path):
    """A key idle past the TTL is evicted; its unchanged reappearance
    re-emits as new — the reference's payload-replacement horizon
    (scrapers/chat.py:171), here as ProcessingTimeTimeout eviction."""
    import time

    src = str(tmp_path / "obs_ttl")
    batches = [
        [obs("help", "1", "2024-01-01 10:00:00", 0, "hello")],
        [obs("help", "2", "2024-01-01 10:00:10", 0, "other")],   # key 1 idle → evicted
        [obs("help", "1", "2024-01-01 10:00:20", 0, "hello")],   # unchanged reappearance
    ]
    for b in batches:
        spark.createDataFrame(b, OBS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.05)  # distinct file mtimes → deterministic batch order
    schema = spark.read.parquet(src).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_available_now(chat_cdc_stream(sdf, state_ttl_ms=1), "append")
    got = sorted((r["id"], r["obs_ts"]) for r in out.collect())
    # without eviction the third observation would be suppressed as
    # unchanged; with the TTL it re-emits
    assert got == [
        ("1", ts("2024-01-01 10:00:00")),
        ("1", ts("2024-01-01 10:00:20")),
        ("2", ts("2024-01-01 10:00:10")),
    ]


def test_chat_cdc_long_ttl_suppresses_like_no_timeout(spark, tmp_path):
    """With a TTL far beyond the run, results match the NoTimeout path
    bit-for-bit (the oracle-equivalence guarantee)."""
    src = str(tmp_path / "obs_long_ttl")
    spark.createDataFrame(OBSERVATIONS, OBS_SCHEMA).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).parquet(src)
    out = run_available_now(chat_cdc_stream(sdf, state_ttl_ms=3_600_000), "append")
    got = {
        (r["id"], r["obs_ts"]): (r["content"], r["deleted"], r["deleted_ts"])
        for r in out.collect()
    }
    assert got == EXPECTED


def test_chained_stateful_complete_at_one_and_two_flushes(spark):
    sf_dir = "/root/testdata/sf0.001"
    """Two chained stateful ops (dedup over a self-unioned stream →
    watermarked window agg): output equals the batch oracle at BOTH
    empty_batches_to_flush=1 and 2 — Spark 4's no-data batch flushes
    the whole chain in one hop (refutes the r3 truncation prediction;
    the dedup is load-bearing, counts would double without it)."""
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.sources.tables import load_table
    from farmrpg_etl_spark.streaming.ops import streaming_chained_dedup_counts

    ev = load_table(spark, sf_dir, "events")
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("wm")
    ).collect()[0]["wm"]
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in (
            ev.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("window_start"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("total_value"),
            )
            .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(cutoff))
            .collect()
        )
    }
    for flush in (1, 2):
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in streaming_chained_dedup_counts(
                spark, sf_dir, empty_batches_to_flush=flush
            ).collect()
        }
        assert got == batch, f"flush={flush}"


def test_replay_stream_delivers_four_batches_by_split_col(spark):
    """The streaming twins' shared arrival model: four micro-batches,
    batch ``i`` = the rows with ``split_col % 4 == i``, under the
    frame's schema made nullable (what inferring the files would give)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from farmrpg_etl_spark.queries import _replay_stream

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), False),
    ])
    rows = spark.createDataFrame([(i, f"t{i}") for i in range(8)], schema)
    seen, schemas = {}, set()

    def on_batch(batch_df, batch_id):
        seen[batch_id] = sorted(r.doc_id for r in batch_df.collect())
        schemas.add(batch_df.schema.json())

    _replay_stream(spark, rows, "doc_id", "replay_test", on_batch)
    assert seen == {i: [i, i + 4] for i in range(4)}
    assert schemas == {StructType([
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
    ]).json()}


def test_replay_stream_raises_when_a_batch_fails(spark):
    from farmrpg_etl_spark.queries import _replay_stream

    rows = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    seen = []

    def on_batch(batch_df, batch_id):
        seen.append(batch_id)
        if batch_id == 1:
            raise ValueError("batch 1 is bad")

    with pytest.raises(Exception, match="batch 1 is bad"):
        _replay_stream(spark, rows, "doc_id", "replay_test", on_batch)
    assert seen == [0, 1]
