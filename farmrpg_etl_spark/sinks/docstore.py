"""Live JSON document-store sink (K4/K5 on a real engine).

The reference's chat sink is Firestore (``firestore/chat.py:40-78``):
``doc_ref.set(data, merge=True)`` for partial message updates — fields
present in the payload overwrite, absent fields are preserved, and the
scraper implements "don't touch" by DELETING keys from the payload
(``del data["flags"]`` always; ``del data["deleted_ts"]`` when the
message isn't deleted) — plus a full-overwrite ``set`` of the
``mod/flags`` SUBDOC per flags event, addressed by a document path
(``rooms/{room}/chats/{id}/mod/flags``).

This module is those semantics on a live local engine: sqlite with the
json1 extension, documents stored as one JSON text per (collection
path, doc id) with a composite primary key. The mapping is exact:

- merge=True  → ``ON CONFLICT DO UPDATE SET doc = json_patch(old, new)``
  (RFC 7386: keys present in the patch overwrite, absent keys are
  untouched — and the Spark side builds payloads with ``to_json``,
  which drops null fields, reproducing the reference's key deletion).
- merge=False → ``DO UPDATE SET doc = excluded.doc`` (full overwrite,
  the subdoc write).
- subcollections → the collection PATH string, exactly Firestore's
  addressing model.

Write shape is the same scale-correct pattern as ``sinks/sqldb.py``:
``foreachPartition``, one connection + one transaction per partition,
batched ``executemany``; both shapes are idempotent under Spark task
replay (re-patching the same payload or re-overwriting the same doc is
a no-op), the exactly-once-over-at-least-once argument. Reads are
rowid-range partitioned like the JDBC source pattern. At 100 TB the
doc store is the curated small side; a real Firestore/Mongo deployment
swaps the connect callable and the two conflict clauses only.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = ["DocStoreSpec", "ensure_store", "set_docs", "read_docs"]

_BATCH = 1000


@dataclass(frozen=True)
class DocStoreSpec:
    db_path: str
    table: str = "documents"


def _connect(db_path: str) -> sqlite3.Connection:
    conn = sqlite3.connect(db_path, timeout=60.0)
    conn.execute("PRAGMA journal_mode=WAL")
    conn.execute("PRAGMA busy_timeout=60000")
    return conn


def ensure_store(spec: DocStoreSpec) -> None:
    conn = _connect(spec.db_path)
    try:
        conn.execute(
            f"CREATE TABLE IF NOT EXISTS {spec.table} ("
            "collection TEXT NOT NULL, doc_id TEXT NOT NULL, "
            "doc TEXT NOT NULL, PRIMARY KEY (collection, doc_id))"
        )
        conn.commit()
    finally:
        conn.close()


def _write_docs(df: DataFrame, db: str, sql: str) -> None:
    """Shared partitioned writer: one connection + one transaction per
    partition, batched executemany."""

    def write_partition(rows) -> None:
        conn = _connect(db)
        try:
            cur = conn.cursor()
            batch = []
            for r in rows:
                batch.append((r["collection"], r["doc_id"], r["doc"]))
                if len(batch) >= _BATCH:
                    cur.executemany(sql, batch)
                    batch.clear()
            if batch:
                cur.executemany(sql, batch)
            conn.commit()
        finally:
            conn.close()

    df.select("collection", "doc_id", "doc").foreachPartition(write_partition)


def set_docs(df: DataFrame, spec: DocStoreSpec, *, merge: bool) -> None:
    """Firestore ``set`` / ``set(merge=True)`` for a DataFrame of
    ``(collection string, doc_id string, doc string)`` rows, where
    ``doc`` is a JSON object (build it with ``F.to_json(F.struct(...))``
    so null fields vanish from the payload — the reference's
    key-deletion contract).

    Multiple rows for the same (collection, doc_id) within one call
    are applied in partition-iteration order; callers that need a
    deterministic end state reduce to one winner per key first (the
    same contract as the sqldb sinks)."""
    ensure_store(spec)
    if merge:
        conflict = (
            f"DO UPDATE SET doc = json_patch({spec.table}.doc, excluded.doc)"
        )
    else:
        conflict = "DO UPDATE SET doc = excluded.doc"
    sql = (
        f"INSERT INTO {spec.table} (collection, doc_id, doc) "
        f"VALUES (?, ?, json(?)) "
        f"ON CONFLICT (collection, doc_id) {conflict}"
    )
    _write_docs(df, spec.db_path, sql)


def read_docs(
    spark: SparkSession,
    spec: DocStoreSpec,
    collection_prefix: str | None = None,
    num_partitions: int = 4,
) -> DataFrame:
    """Rowid-range partitioned read of (collection, doc_id, doc) —
    the JDBC-source pattern; the optional prefix filter is pushed into
    the per-range SQL (collection paths are hierarchical, so a prefix
    selects a subtree, e.g. every ``.../mod`` subdoc)."""
    import pandas as pd

    conn = _connect(spec.db_path)
    try:
        row = conn.execute(
            f"SELECT MIN(rowid), MAX(rowid) FROM {spec.table}"
        ).fetchone()
    finally:
        conn.close()
    lo, hi = row if row and row[0] is not None else (0, -1)
    schema = "collection string, doc_id string, doc string"
    if hi < lo:
        return spark.createDataFrame([], schema)
    step = max(1, (hi - lo + num_partitions) // num_partitions)
    bounds = [
        (lo + i * step, min(hi, lo + (i + 1) * step - 1))
        for i in range(num_partitions)
        if lo + i * step <= hi
    ]
    db, table, prefix = spec.db_path, spec.table, collection_prefix

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                conn = sqlite3.connect(db, timeout=60.0)
                try:
                    sql = (
                        f"SELECT collection, doc_id, doc FROM {table} "
                        f"WHERE rowid BETWEEN ? AND ?"
                    )
                    args: list = [int(a), int(b)]
                    if prefix is not None:
                        sql += " AND collection GLOB ?"
                        args.append(prefix + "*")
                    cur = conn.execute(sql, args)
                    yield pd.DataFrame(
                        cur.fetchall(),
                        columns=["collection", "doc_id", "doc"],
                    )
                finally:
                    conn.close()

    ranges = spark.createDataFrame(bounds, "a long, b long").repartition(
        len(bounds)
    )
    return ranges.mapInPandas(fetch, schema)
