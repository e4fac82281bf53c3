"""Correctness gates, run outside the timed region.

* :func:`check_sinks` compares the sink tables' end state with the
  generator's ground truth: live rows exactly, history rows by count
  and an order-insensitive checksum.
* :func:`check_query` hashes a headline row's Spark result against its
  DuckDB oracle with the canonical-row + md5 rule of
  ``scripts/check_correctness.py``, whose ``canon`` it imports.
"""

from __future__ import annotations

import hashlib

from perfbench.gen import LIVE_ID_BASE, Truth
from scripts.check_correctness import canon

MESSAGE_COLS = ["room", "id", "ts", "emblem", "username", "content", "flags", "deleted", "deleted_ts"]
DOC_COLS = ["room", "id", "ts", "username", "mentions", "content", "deleted", "deleted_ts", "flags"]
SNAPSHOT_COLS = ["user_id", "ts", "username", "is_farmhand", "is_ranger"]


def _is_live(col):
    from pyspark.sql import functions as F

    return F.col(col).cast("long") >= LIVE_ID_BASE


def _checksum(df, cols) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()
    return row[0], row[1]


def check_sinks(tables: dict, truth: Truth, history: dict | None = None) -> list[str]:
    """Problems found in ``tables`` (name → ParquetTable) against
    ``truth``; ``history`` maps table name → the frame it was seeded
    with. An empty list means the end state is exactly right."""
    problems: list[str] = []

    def rows(name, cols, live_col=None):
        df = tables[name].read()
        if df is None:
            problems.append(f"{name}: table is empty")
            return None, []
        live = df.filter(_is_live(live_col)) if live_col else df
        return df, [r.asDict() for r in live.select(*cols).collect()]

    expected = {
        "messages": ({r["id"]: r for r in truth.messages.values()}, MESSAGE_COLS),
        "chat_docs": ({r["id"]: r for r in truth.docs.values()}, DOC_COLS),
    }
    for name, (want, cols) in expected.items():
        df, got = rows(name, cols, "id")
        if df is None:
            continue
        got_by_id = {r["id"]: r for r in got}
        if len(got_by_id) != len(got):
            problems.append(f"{name}: duplicate ids")
        if set(got_by_id) != set(want):
            problems.append(
                f"{name}: {len(set(want) - set(got_by_id))} missing, "
                f"{len(set(got_by_id) - set(want))} unexpected ids")
        bad = [i for i in set(want) & set(got_by_id) if got_by_id[i] != want[i]]
        if bad:
            i = sorted(bad)[0]
            problems.append(f"{name}: {len(bad)} rows differ, e.g. {got_by_id[i]} != {want[i]}")
        if history is not None and name in history:
            old = df.filter(~_is_live("id")).select(*cols)
            if _checksum(old, cols) != _checksum(history[name].select(*cols), cols):
                problems.append(f"{name}: history rows changed")
    if "users" in tables:
        df, got = rows("users", ["id"])
        if df is not None and {r["id"] for r in got} != truth.users:
            problems.append("users: id set differs")
        df, got = rows("user_snapshots", SNAPSHOT_COLS)
        key = lambda r: (r["user_id"], r["ts"])  # noqa: E731
        if df is not None and sorted(got, key=key) != sorted(truth.snapshots, key=key):
            problems.append(f"user_snapshots: {len(got)} rows, expected {len(truth.snapshots)}")
    return problems


# -- headline rows vs DuckDB oracles -----------------------------------------


def result_hash(rows, cols) -> str:
    """md5 over the canonical rows, as ``scripts/check_correctness.py``
    hashes them (order-insensitive)."""
    return hashlib.md5("\n".join(canon(rows, cols)).encode()).hexdigest()


def check_query(con, sql: str, s_cols: list[str], s_rows: list[tuple]) -> str | None:
    """None if a row's Spark result (columns, rows) matches its DuckDB
    oracle ``sql`` on ``con``, else the problem."""
    res = con.sql(sql)
    d_cols, d_rows = list(res.columns), res.fetchall()
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} vs {len(d_rows)}"
    if sorted(s_cols) != sorted(d_cols):
        return f"cols {sorted(s_cols)} vs {sorted(d_cols)}"
    if result_hash(s_rows, s_cols) != result_hash(d_rows, d_cols):
        return "value hash differs"
    if not s_rows:
        return "empty result"
    return None
