"""Restart-recovery e2e for the chat streaming pipeline: kill the
query mid-batch (after the K1 insert commits but before the K4
partial-document commit), restart from ``checkpointLocation``, and
prove no loss and no duplication across the foreachBatch fan-out —
the crash-resume semantics the reference gets from Postgres unique
indexes + swallowed violations (db/chat.py:13-19).

Also proves the CDC state store survives restart: a delete observed
only in a post-restart poll must be stamped against the pre-crash
observation's state, not re-derived from nothing.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from farmrpg_etl_spark.plans.topology import (
    chat_pipeline_batch,
    chat_pipeline_streaming,
)
from farmrpg_etl_spark.sinks.writers import ParquetTable
from farmrpg_etl_spark.sources.landing import PAYLOAD_SCHEMA

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


class CrashingTable(ParquetTable):
    """Fault-injection seam: while armed, every ``_commit`` raises
    BEFORE writing, so the crashed batch leaves this table untouched
    (the atomic-commit contract) while the sibling table's commit for
    the same batch already landed. Armed/disarmed is controlled by the
    test between query runs — raising on every in-run attempt keeps
    the injection deterministic even if the stream execution retries
    the batch while terminating."""

    def __init__(self, spark, path, **kw):
        super().__init__(spark, path, **kw)
        self.armed = False

    def _commit(self, df, batch_id, writer="default"):
        if self.armed:
            raise RuntimeError("injected crash before chat_docs commit")
        super()._commit(df, batch_id, writer)


POLL1 = [
    {"cls": "", "t": "09:00:02 AM", "u": "bob", "i": "2", "c": "hi @alice:"},
    {"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "hello"},
]
# poll 2: m1 edited, m2 deleted — both transitions need batch-0 state
POLL2 = [
    {"cls": " redstripes", "t": "09:00:02 AM", "u": "bob", "i": "2", "c": "hi @alice:"},
    {"cls": "", "t": "09:00:01 AM", "u": "alice", "i": "1", "c": "hello again"},
]


def _payload(spark, poll, ts):
    return spark.createDataFrame(
        [("chat", "help", ts, 200, chat_html(poll))], PAYLOAD_SCHEMA
    )


def _snapshot(messages, docs):
    m = sorted(
        (r["id"], r["content"], r["deleted"], r["deleted_ts"])
        for r in messages.read().collect()
    )
    d = sorted(
        (r["id"], r["content"], r["deleted"], r["deleted_ts"], r["mentions"])
        for r in docs.read().collect()
    )
    return m, d


def test_midbatch_crash_then_restart_converges(spark, tmp_path):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    messages = ParquetTable(spark, str(tmp_path / "messages"))
    docs = CrashingTable(spark, str(tmp_path / "docs"))

    _payload(spark, POLL1, T0).write.parquet(landing)

    # run 1: batch 0 commits K1 (messages insert), then crashes before K4
    docs.armed = True
    q = chat_pipeline_streaming(
        spark, landing, messages, docs, checkpoint_dir=ckpt
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    assert messages.read().count() == 2          # K1 landed
    assert messages.last_batch_id("chat_insert") == 0
    assert docs.read() is None                   # K4 did not

    # run 2: same checkpoint → batch 0 redelivered; K1 replay is a
    # no-op (batch-id guard), K4 applies. Exactly-once across the fan-out.
    docs.armed = False
    q = chat_pipeline_streaming(
        spark, landing, messages, docs, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    q.stop()
    assert messages.read().count() == 2          # no duplicates
    assert docs.read().count() == 2
    assert docs.last_batch_id("chat_docs") == 0

    # land poll 2 and restart a third time: the CDC state checkpoint
    # must resurface — the delete flip stamps deleted_ts from the
    # batch-0 observation, and K1 keeps first-observation content.
    _payload(spark, POLL2, T0 + timedelta(seconds=5)).write.mode("append").parquet(
        landing
    )
    q = chat_pipeline_streaming(
        spark, landing, messages, docs, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    q.stop()

    # single-run oracle: both polls through the batch pipeline at once
    ref_messages = ParquetTable(spark, str(tmp_path / "ref_messages"))
    ref_docs = ParquetTable(spark, str(tmp_path / "ref_docs"))
    both = _payload(spark, POLL1, T0).unionByName(
        _payload(spark, POLL2, T0 + timedelta(seconds=5))
    )
    chat_pipeline_batch(both, ref_messages, ref_docs, batch_id=0)

    assert _snapshot(messages, docs) == _snapshot(ref_messages, ref_docs)
    # and the recovered run really saw the transitions
    doc_rows = {r["id"]: r for r in docs.read().collect()}
    assert doc_rows["2"]["deleted"] is True
    assert doc_rows["2"]["deleted_ts"] is not None
    assert doc_rows["1"]["content"] == "hello again"
    msg_rows = {r["id"]: r for r in messages.read().collect()}
    assert msg_rows["1"]["content"] == "hello"   # first observation kept


def test_clean_stop_and_resume_picks_up_only_new_files(spark, tmp_path):
    """Graceful stop → new landing files → resume: the checkpoint's
    source offsets mean the resumed query processes only the new
    payloads (no reprocessing of already-committed batches)."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    messages = ParquetTable(spark, str(tmp_path / "messages"))
    docs = ParquetTable(spark, str(tmp_path / "docs"))

    _payload(spark, POLL1, T0).write.parquet(landing)
    q = chat_pipeline_streaming(
        spark, landing, messages, docs, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    q.stop()
    first_batch = messages.last_batch_id("chat_insert")
    assert first_batch == 0

    _payload(spark, POLL2, T0 + timedelta(seconds=5)).write.mode("append").parquet(
        landing
    )
    q = chat_pipeline_streaming(
        spark, landing, messages, docs, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    q.stop()
    # resumed query continued the batch sequence instead of restarting it
    assert messages.last_batch_id("chat_insert") == 1
    assert messages.read().count() == 2
