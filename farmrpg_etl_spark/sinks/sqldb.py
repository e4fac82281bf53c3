"""Real external-SQL-database sink/source (SURVEY §2.8, K1-K3 against
a live DB engine).

The reference persists through an ORM over a live SQL database —
``DATABASE_URI`` is engine-agnostic and its duplicate handling
explicitly catches BOTH ``sqlite3.IntegrityError`` and asyncpg's
``UniqueViolationError`` (``db/chat.py:13-19``, ``db/core/conn.py``),
i.e. sqlite is a supported engine of the reference itself. This module
is the Spark-idiomatic version of that connector, using stdlib
``sqlite3`` (the one SQL engine present in this container):

- **Writes** are ``df.foreachPartition``: one connection per
  partition, batched ``executemany``, ONE transaction per partition.
  This is the standard Spark JDBC-sink shape — swap the ``connect``
  callable for psycopg/mysql and nothing else changes.
- **Exactly-once over at-least-once**: Spark may re-run a failed
  task; every write shape here is idempotent under replay — K1 is
  INSERT OR IGNORE on the unique key (re-running inserts nothing),
  K2/K3 set key-determined values (re-running sets the same
  values). Same argument the reference gets from its unique index.
- **Reads** are rowid-range partitioned ``mapInPandas`` — the JDBC
  ``partitionColumn/lowerBound/upperBound/numPartitions`` source
  pattern, so the read side scales out too instead of bottlenecking
  on the driver.

Scale note (100 TB): the DB is the small side — sink tables are the
curated output, orders of magnitude below the scanned corpus. The
per-partition writer bounds connection count at ``numPartitions`` and
the per-partition transaction bounds memory at batch size; sqlite
serializes concurrent writers via WAL + busy timeout, while a real
Postgres deployment takes the same code path with true write
concurrency.

Negative result (r18, measured): rewriting the writers as
``mapInArrow`` (Arrow batches across the boundary, rows rebuilt with
``to_pylist``/zip for ``executemany``) LOST the same-session A/B on
the k_sqldb workload — insert end-to-end 1.21 s -> 1.41 s, and even a
pure drain (no SQLite) 1.23 s -> 1.49 s at 100k × 4 narrow columns.
``executemany`` needs per-row Python tuples either way, so Arrow's
columnar transfer only ADDS a to_pylist/transpose step on top of the
same per-row tuple build, and the dominant cost is the SQLite write
itself. ``foreachPartition`` + pickled rows is the measured-faster
form here; revisit only if a sink ever accepts columnar input
directly.
"""

from __future__ import annotations

import datetime as _dt
import sqlite3
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = ["SqlTableSpec", "ensure_table", "insert_absent", "correlated_update",
           "upsert", "read_table"]

_BATCH = 1000


@dataclass(frozen=True)
class SqlTableSpec:
    """One sink table: sqlite path, name, Spark-DDL column schema, and
    the unique-key columns (the reference's unique index,
    migrations/versions/420ff2a8e514_create_message.py)."""

    db_path: str
    table: str
    schema: str  # Spark DDL, e.g. "id bigint, room string, ts timestamp, flags int"
    key: tuple[str, ...]

    def _fields(self) -> list[tuple[str, str]]:
        """Split the DDL on commas OUTSIDE parens (``decimal(10,2)``
        is one field) and validate each field has a name and a mapped
        type, so a malformed spec fails loudly at spec time rather
        than producing a corrupt CREATE TABLE."""
        fields, depth, cur = [], 0, []
        for ch in self.schema:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                fields.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        fields.append("".join(cur))
        out = []
        for f in fields:
            parts = f.split(None, 1)
            if len(parts) != 2:
                raise ValueError(f"malformed DDL field {f!r} in {self.schema!r}")
            name, typ = parts[0], parts[1].strip().lower()
            base = typ.split("(")[0].strip()
            if base not in _SQLITE_TYPE:
                raise ValueError(
                    f"unsupported column type {typ!r} for {name!r} "
                    f"(supported: {sorted(_SQLITE_TYPE)})"
                )
            out.append((name, typ))
        return out

    @property
    def columns(self) -> tuple[str, ...]:
        return tuple(n for n, _ in self._fields())

    @property
    def types(self) -> dict[str, str]:
        return dict(self._fields())


_SQLITE_TYPE = {
    "bigint": "INTEGER", "int": "INTEGER", "integer": "INTEGER",
    "long": "INTEGER", "smallint": "INTEGER", "boolean": "INTEGER",
    "double": "REAL", "float": "REAL", "decimal": "NUMERIC",
    "string": "TEXT", "timestamp": "TEXT", "date": "TEXT",
    "binary": "BLOB",
}


def _connect(db_path: str) -> sqlite3.Connection:
    conn = sqlite3.connect(db_path, timeout=60.0)
    # WAL lets readers proceed during writes; busy_timeout makes
    # concurrent partition writers queue instead of erroring.
    conn.execute("PRAGMA journal_mode=WAL")
    conn.execute("PRAGMA busy_timeout=60000")
    return conn


def ensure_table(spec: SqlTableSpec) -> None:
    """CREATE TABLE IF NOT EXISTS + the unique index (the reference's
    alembic create_table + UniqueConstraint)."""
    cols = ", ".join(
        f"{c} {_SQLITE_TYPE[t.split('(')[0].strip()]}"
        for c, t in spec.types.items()
    )
    conn = _connect(spec.db_path)
    try:
        conn.execute(f"CREATE TABLE IF NOT EXISTS {spec.table} ({cols})")
        if spec.key:
            conn.execute(
                f"CREATE UNIQUE INDEX IF NOT EXISTS uq_{spec.table} "
                f"ON {spec.table} ({', '.join(spec.key)})"
            )
        conn.commit()
    finally:
        conn.close()


def _to_db(v):
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def _run_partition(db_path: str, sql: str, rows_iter, cols) -> None:
    conn = _connect(db_path)
    try:
        cur = conn.cursor()
        batch = []
        for row in rows_iter:
            batch.append(tuple(_to_db(row[c]) for c in cols))
            if len(batch) >= _BATCH:
                cur.executemany(sql, batch)
                batch.clear()
        if batch:
            cur.executemany(sql, batch)
        conn.commit()  # one transaction per partition
    finally:
        conn.close()


def insert_absent(df: DataFrame, spec: SqlTableSpec) -> None:
    """K1 — insert-if-absent on the unique key (db/chat.py:13-19's
    create + swallow-IntegrityError, expressed as INSERT OR IGNORE so
    the DB engine, not the client, resolves the race)."""
    ensure_table(spec)
    cols = spec.columns
    sql = (
        f"INSERT OR IGNORE INTO {spec.table} ({', '.join(cols)}) "
        f"VALUES ({', '.join('?' * len(cols))})"
    )
    db = spec.db_path
    df.select(*cols).foreachPartition(
        lambda it: _run_partition(db, sql, it, cols)
    )


def correlated_update(df: DataFrame, spec: SqlTableSpec,
                      set_cols: tuple[str, ...]) -> None:
    """K2 — correlated UPDATE of ``set_cols`` keyed by the unique key
    (db/chat.py:22-26's filter(room,username,ts).update(flags=...)).
    Rows with no match update nothing, matching the ORM's behavior."""
    ensure_table(spec)
    sql = (
        f"UPDATE {spec.table} SET "
        + ", ".join(f"{c} = ?" for c in set_cols)
        + " WHERE "
        + " AND ".join(f"{k} = ?" for k in spec.key)
    )
    cols = tuple(set_cols) + spec.key
    db = spec.db_path
    df.select(*cols).foreachPartition(
        lambda it: _run_partition(db, sql, it, cols)
    )


def upsert(df: DataFrame, spec: SqlTableSpec) -> None:
    """K3 — get_or_create-then-update as a single atomic
    INSERT ... ON CONFLICT(key) DO UPDATE (db/user.py:35's
    get_or_create + the snapshot update)."""
    ensure_table(spec)
    cols = spec.columns
    non_key = [c for c in cols if c not in spec.key]
    sql = (
        f"INSERT INTO {spec.table} ({', '.join(cols)}) "
        f"VALUES ({', '.join('?' * len(cols))}) "
        f"ON CONFLICT ({', '.join(spec.key)}) DO UPDATE SET "
        + ", ".join(f"{c} = excluded.{c}" for c in non_key)
    )
    db = spec.db_path
    df.select(*cols).foreachPartition(
        lambda it: _run_partition(db, sql, it, cols)
    )


def read_table(spark: SparkSession, spec: SqlTableSpec,
               num_partitions: int = 4) -> DataFrame:
    """Partitioned parallel read — the JDBC-source pattern
    (partitionColumn=rowid, lower/upper bound from a bounded driver
    query, numPartitions ranges fetched by executors via
    mapInPandas)."""
    import pandas as pd

    conn = _connect(spec.db_path)
    try:
        row = conn.execute(
            f"SELECT MIN(rowid), MAX(rowid) FROM {spec.table}"
        ).fetchone()
    finally:
        conn.close()
    lo, hi = row if row and row[0] is not None else (0, -1)
    if hi < lo:
        return spark.createDataFrame([], spec.schema)
    step = max(1, (hi - lo + num_partitions) // num_partitions)
    bounds = [(lo + i * step, min(hi, lo + (i + 1) * step - 1))
              for i in range(num_partitions) if lo + i * step <= hi]
    db, table, cols, types = spec.db_path, spec.table, spec.columns, spec.types

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for a, b in zip(pdf["a"], pdf["b"]):
                conn = sqlite3.connect(db, timeout=60.0)
                try:
                    cur = conn.execute(
                        f"SELECT {', '.join(cols)} FROM {table} "
                        f"WHERE rowid BETWEEN ? AND ?", (int(a), int(b))
                    )
                    out = pd.DataFrame(cur.fetchall(), columns=list(cols))
                finally:
                    conn.close()
                for c, t in types.items():
                    t = t.split("(")[0].strip()
                    if t == "timestamp":
                        out[c] = pd.to_datetime(out[c])
                    elif t == "boolean":
                        out[c] = out[c].map(
                            lambda v: None if v is None else bool(v)
                        )
                yield out

    ranges = spark.createDataFrame(bounds, "a long, b long").repartition(
        len(bounds)
    )
    return ranges.mapInPandas(fetch, schema=spec.schema)
