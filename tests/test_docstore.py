"""Live JSON document-store sink tests (`sinks/docstore.py`) — the
Firestore semantics of reference firestore/chat.py on sqlite json1:
merge-set preserves absent keys, payload key-deletion means
"don't touch", full-overwrite subdoc set, replay idempotency, and the
subtree prefix read."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from farmrpg_etl_spark.sinks.docstore import DocStoreSpec, read_docs, set_docs

SCHEMA = "collection string, doc_id string, doc string"


def _spec(tmp_path) -> DocStoreSpec:
    return DocStoreSpec(str(tmp_path / "store.db"))


def _docs(spark, spec, prefix=None) -> dict:
    return {
        (r["collection"], r["doc_id"]): json.loads(r["doc"])
        for r in read_docs(spark, spec, prefix).collect()
    }


def test_merge_set_preserves_absent_keys(spark, tmp_path):
    """set(merge=True): fields in the payload overwrite, absent fields
    survive — the del-data['flags'] contract."""
    spec = _spec(tmp_path)
    seed = spark.createDataFrame(
        [("rooms/r/chats", "1", '{"content": "hi", "flags": 3, "deleted": false}')],
        SCHEMA,
    )
    set_docs(seed, spec, merge=True)
    patch = spark.createDataFrame(
        [("rooms/r/chats", "1", '{"content": "hi edit", "deleted": true}')],
        SCHEMA,
    )
    set_docs(patch, spec, merge=True)
    got = _docs(spark, spec)[("rooms/r/chats", "1")]
    assert got == {"content": "hi edit", "flags": 3, "deleted": True}


def test_merge_set_inserts_when_absent(spark, tmp_path):
    spec = _spec(tmp_path)
    set_docs(
        spark.createDataFrame([("c", "9", '{"a": 1}')], SCHEMA),
        spec,
        merge=True,
    )
    assert _docs(spark, spec)[("c", "9")] == {"a": 1}


def test_null_dropped_by_to_json_means_untouched(spark, tmp_path):
    """The Spark-side payload builder (to_json) drops null fields, so a
    conditional column (deleted_ts only when deleted) leaves the old
    value in place via json_patch."""
    spec = _spec(tmp_path)
    set_docs(
        spark.createDataFrame(
            [("c", "1", '{"content": "x", "deleted_ts": "2024-01-01 00:00:00"}')],
            SCHEMA,
        ),
        spec,
        merge=True,
    )
    rows = spark.createDataFrame(
        [("c", "1", "y", False)],
        "collection string, doc_id string, content string, deleted boolean",
    ).select(
        "collection",
        "doc_id",
        F.to_json(
            F.struct(
                "content",
                "deleted",
                F.when(F.col("deleted"), F.lit("never")).alias("deleted_ts"),
            )
        ).alias("doc"),
    )
    assert "deleted_ts" not in json.loads(rows.first()["doc"])
    set_docs(rows, spec, merge=True)
    got = _docs(spark, spec)[("c", "1")]
    assert got == {
        "content": "y",
        "deleted": False,
        "deleted_ts": "2024-01-01 00:00:00",
    }


def test_overwrite_set_replaces_whole_doc(spark, tmp_path):
    """set() without merge (the mod/flags subdoc write): last write
    wins, stale keys vanish."""
    spec = _spec(tmp_path)
    set_docs(
        spark.createDataFrame([("c/1/mod", "flags", '{"flags": 2, "old": 1}')], SCHEMA),
        spec,
        merge=False,
    )
    set_docs(
        spark.createDataFrame([("c/1/mod", "flags", '{"flags": 5}')], SCHEMA),
        spec,
        merge=False,
    )
    assert _docs(spark, spec)[("c/1/mod", "flags")] == {"flags": 5}


def test_replay_is_noop_both_modes(spark, tmp_path):
    spec = _spec(tmp_path)
    batch = spark.createDataFrame([("c", "1", '{"a": 1, "b": 2}')], SCHEMA)
    set_docs(batch, spec, merge=True)
    before = _docs(spark, spec)
    set_docs(batch, spec, merge=True)  # task/batch redelivery
    set_docs(batch, spec, merge=False)
    assert _docs(spark, spec) == before


def test_prefix_read_selects_subtree(spark, tmp_path):
    spec = _spec(tmp_path)
    set_docs(
        spark.createDataFrame(
            [
                ("rooms/r/chats/1/mod", "flags", '{"flags": 1}'),
                ("rooms/r/chats/2/mod", "flags", '{"flags": 2}'),
                ("rooms/r/chats", "1", '{"content": "hi"}'),
            ],
            SCHEMA,
        ),
        spec,
        merge=False,
    )
    subdocs = _docs(spark, spec, prefix="rooms/r/chats/")
    assert set(subdocs) == {
        ("rooms/r/chats/1/mod", "flags"),
        ("rooms/r/chats/2/mod", "flags"),
    }
    assert len(_docs(spark, spec)) == 3
