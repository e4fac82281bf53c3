"""End-to-end topology tests (E1-E3): fixture HTML payloads through
parse → CDC → sinks, batch and streaming."""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pytest

from farmrpg_etl_spark.plans.topology import (
    chat_pipeline_batch,
    chat_pipeline_streaming,
    flags_pipeline_batch,
    user_pipeline_batch,
)
from farmrpg_etl_spark.sinks.writers import ParquetTable

FIXTURES = os.environ.get(
    "REFERENCE_FIXTURES", "/root/reference/test/scrapers/fixtures"
)
needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures not available"
)

PAYLOAD_SCHEMA = "source string, key string, fetch_ts timestamp, status int, body binary"
T0 = datetime(2022, 4, 17, 23, 59, 59)

CHAT_DIV = (
    '<div class="chat-txt%(cls)s"><span>%(t)s</span>'
    '<div class="chip"><div class="chip-media">'
    '<img data-username="%(u)s" src="/img/emblems/e.png"></div></div>'
    '<a href="javascript:delChat(%(i)s)">x</a>'
    '<i class="f7-icons">flag</i><span>%(c)s</span></div>'
)


def chat_html(msgs: list[dict]) -> bytes:
    return "".join(CHAT_DIV % m for m in msgs).encode()


def test_chat_pipeline_batch_two_polls(spark, tmp_path):
    messages = ParquetTable(spark, str(tmp_path / "messages"))
    docs = ParquetTable(spark, str(tmp_path / "docs"))
    poll1 = chat_html([
        {"cls": "", "t": "09:00:02 AM", "u": "bob", "i": "2", "c": "hi @alice:"},
        {"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "hello"},
    ])
    p1 = spark.createDataFrame(
        [("chat", "help", T0, 200, poll1)], PAYLOAD_SCHEMA
    )
    ev1 = chat_pipeline_batch(p1, messages, docs, batch_id=0)
    assert ev1.count() == 2
    # poll 2 one second later: m1 unchanged, m2 deleted
    poll2 = chat_html([
        {"cls": " redstripes", "t": "09:00:02 AM", "u": "bob", "i": "2", "c": "hi @alice:"},
        {"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "hello"},
    ])
    p2 = spark.createDataFrame(
        [("chat", "help", T0 + timedelta(seconds=1), 200, poll2)], PAYLOAD_SCHEMA
    )
    # CDC runs over the union of observations (batch analog of state)
    both = p1.unionByName(p2)
    ev2 = chat_pipeline_batch(both, messages, docs, batch_id=1)
    rows = {r["id"]: r for r in ev2.collect()}
    # 2 first observations + 1 deleted transition
    assert len(rows) == 2 and ev2.count() == 3
    mentions = {r["id"]: r["mentions"] for r in ev2.collect()}
    assert mentions["2"] == ["alice"]
    # sinks: messages table has both ids; doc table stamped deleted_ts for m2
    msg_rows = {r["id"]: r for r in messages.read().collect()}
    assert set(msg_rows) == {"1", "2"}
    doc_rows = {r["id"]: r for r in docs.read().collect()}
    assert doc_rows["2"]["deleted"] is True
    assert doc_rows["2"]["deleted_ts"] is not None
    assert doc_rows["1"]["deleted_ts"] is None
    assert doc_rows["2"]["flags"] is None  # K4 never writes flags


def test_flags_pipeline_resolves_and_updates(spark, tmp_path):
    messages = ParquetTable(spark, str(tmp_path / "messages"))
    docs = ParquetTable(spark, str(tmp_path / "docs"))
    poll = chat_html(
        [{"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "spam"}]
    )
    chat_pipeline_batch(
        spark.createDataFrame([("chat", "help", T0, 200, poll)], PAYLOAD_SCHEMA),
        messages, docs, batch_id=0,
    )
    # flags payload at the same (room, wall-time minute, username)
    flags_html = (
        '<li><div class="item-title">Apr 17, 09:00:01 AM<br><b>alice</b>'
        '<br>- spam</div><div class="item-after">2 flags</div></li>'
    )
    resolved = flags_pipeline_batch(
        spark.createDataFrame(
            [("flags", "help", T0, 200, flags_html.encode())], PAYLOAD_SCHEMA
        ),
        messages, batch_id=1,
    )
    assert [(r["id"], r["flags"]) for r in resolved.collect()] == [("1", 2)]
    assert messages.read().filter("id = '1'").first()["flags"] == 2


@needs_fixtures
def test_user_pipeline(spark, tmp_path):
    users = ParquetTable(spark, str(tmp_path / "users"))
    snaps = ParquetTable(spark, str(tmp_path / "snaps"))
    with open(os.path.join(FIXTURES, "profile_ryber.html"), "rb") as f:
        body = f.read()
    payloads = spark.createDataFrame(
        [("profile", "RybeR", T0, 200, body)], PAYLOAD_SCHEMA
    )
    out = user_pipeline_batch(payloads, users, snaps, batch_id=0)
    assert out.count() == 1
    assert users.read().first()["id"] == 4153
    assert snaps.read().first()["is_ranger"] is True
    # replay: no duplicate snapshot (no-op elimination + batch guard)
    user_pipeline_batch(payloads, users, snaps, batch_id=1)
    assert snaps.read().count() == 1


def test_full_service_cycle_from_landing_zone(spark, tmp_path):
    """land a poll sweep (fixture HTML via a fake fetcher) → chat
    streaming pipeline → flags streaming pipeline → user batch
    pipeline; the __main__ composition end-to-end."""
    from farmrpg_etl_spark.plans.topology import (
        chat_pipeline_streaming as chat_stream,
        flags_pipeline_streaming,
    )
    from farmrpg_etl_spark.sources.landing import PollSpec, land_poll_sweep

    landing = str(tmp_path / "landing")
    chat_body = chat_html(
        [{"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "spam"}]
    )
    flags_body = (
        '<li><div class="item-title">Apr 17, 09:00:01 AM<br><b>alice</b>'
        '<br>- spam</div><div class="item-after">4 flags</div></li>'
    ).encode()

    def fetcher(spec: PollSpec):
        if spec.source == "chat" and spec.key == "help":
            return 200, chat_body
        if spec.source == "flags" and spec.key == "help":
            return 200, flags_body
        return 200, b""

    n = land_poll_sweep(spark, landing, fetcher=fetcher, fetch_ts=T0)
    assert n == 17
    messages = ParquetTable(spark, str(tmp_path / "messages"))
    docs = ParquetTable(spark, str(tmp_path / "docs"))
    q = chat_stream(spark, landing, messages, docs)
    q.awaitTermination(120)
    q.stop()
    assert messages.read().count() == 1
    q = flags_pipeline_streaming(spark, landing, messages)
    q.awaitTermination(120)
    q.stop()
    assert messages.read().first()["flags"] == 4


def test_chat_pipeline_streaming(spark, tmp_path):
    landing = str(tmp_path / "landing")
    messages = ParquetTable(spark, str(tmp_path / "messages"))
    docs = ParquetTable(spark, str(tmp_path / "docs"))
    poll = chat_html(
        [{"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "hello"}]
    )
    spark.createDataFrame(
        [("chat", "help", T0, 200, poll)], PAYLOAD_SCHEMA
    ).write.parquet(landing)
    q = chat_pipeline_streaming(spark, landing, messages, docs)
    q.awaitTermination(120)
    q.stop()
    assert messages.read().count() == 1
    assert docs.read().first()["content"] == "hello"


PROFILE_HTML = (
    '<div class="card"><img src="/img/items/admin.png"> <strong>%(role)s</strong></div>'
    '<a href="members.php?type=friended&id=%(id)s">Friends</a>'
)


def test_user_pipeline_shares_one_parse(spark, tmp_path):
    users = ParquetTable(spark, str(tmp_path / "users"))
    snaps = ParquetTable(spark, str(tmp_path / "snaps"))
    body = (PROFILE_HTML % {"role": "Ranger", "id": 42}).encode()
    payloads = spark.createDataFrame(
        [("profile", "alice", T0, 200, body)], PAYLOAD_SCHEMA
    )
    out = user_pipeline_batch(payloads, users, snaps, batch_id=0)
    assert not out.is_cached  # the shared parse is released after the writers
    assert [r["id"] for r in users.read().collect()] == [42]
    assert [(r["user_id"], r["is_ranger"]) for r in snaps.read().collect()] == [(42, True)]
    later = spark.createDataFrame(
        [("profile", "alice", T0 + timedelta(seconds=1), 200, body)], PAYLOAD_SCHEMA
    )
    user_pipeline_batch(later, users, snaps, batch_id=1)
    assert snaps.read().count() == 1  # unchanged snapshot: no-op eliminated


def test_chat_streaming_two_sweeps_leaves_nothing_cached(spark, tmp_path):
    """Two landed sweeps drained by two checkpointed availableNow runs,
    as the service does each cycle: the sinks see both polls' changes,
    and no micro-batch stays cached after its fan-out."""
    from farmrpg_etl_spark.sources.landing import PollSpec, land_poll_sweep

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    messages = ParquetTable(spark, str(tmp_path / "messages"))
    docs = ParquetTable(spark, str(tmp_path / "docs"))
    polls = [
        [{"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "hello"}],
        [{"cls": " redstripes", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "hello"},
         {"cls": "", "t": "09:00:02 AM", "u": "bob", "i": "2", "c": "hi @alice:"}],
    ]
    cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    for n, poll in enumerate(polls):
        land_poll_sweep(
            spark, landing, [PollSpec("chat", "help", 1)],
            lambda spec, body=chat_html(poll): (200, body),
            fetch_ts=T0 + timedelta(seconds=n),
        )
        q = chat_pipeline_streaming(spark, landing, messages, docs, checkpoint_dir=ckpt)
        q.awaitTermination(120)
        q.stop()
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == cached_before
    assert sorted(r["id"] for r in messages.read().collect()) == ["1", "2"]
    doc_rows = {r["id"]: r for r in docs.read().collect()}
    assert doc_rows["1"]["deleted"] is True and doc_rows["1"]["deleted_ts"] is not None
    assert doc_rows["2"]["mentions"] == "alice"
