"""Join operators (SURVEY.md §2.5, J1-J4).

All reference joins are equi-joins on small keys; we add the physical
strategy Spark-side: broadcast for small dimensions (J3), shuffle
hash/sort-merge with AQE for fact-fact (J1), and MERGE-shaped
upserts (J2/J4) expressed as batch joins here and as foreachBatch
writers in ``farmrpg_etl_spark.sinks``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_join(
    facts: DataFrame,
    lookup: DataFrame,
    on: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """J1 batch form — flags↔message id resolution.

    Reference (firestore/chat.py:59-78): flags rows lack the message
    id; resolve via (room, ts, username) against the chat stream;
    unresolved rows are dropped-with-log (inner join). Streaming form
    with watermarks lives in streaming/flags_join.py.
    """
    return facts.join(lookup, on=list(on), how=how)


def resolve_unmatched(
    facts: DataFrame,
    lookup: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """J1's drop-with-log side, observable: the facts rows
    :func:`resolve_join` would silently drop (reference logs each
    before dropping, firestore/chat.py:72-78 ``log.warn("Unable to
    find message ID for flags", ...)``).

    Left-anti join — the complement of the inner resolve on the same
    key, so ``resolve_join(f, l) ∪ resolve_unmatched(f, l) ≡ f`` (up
    to lookup fan-out). Feed it a quarantine sink or an alerting
    count; at scale it shares the resolve join's single shuffle shape.
    """
    return facts.join(lookup, on=list(on), how="left_anti")


def fk_lookup(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """J3 — FK hydrate (select_related): child ⋈ parent on the FK.

    Reference db/core/models.py:115-126. The parent (user table) is
    small → broadcast; Catalyst prunes parent columns not selected
    downstream."""
    p = F.broadcast(parent)
    return child.join(p, child[child_key] == p[parent_key], "inner")


def correlated_update(
    target: DataFrame,
    updates: DataFrame,
    on: Sequence[str],
    set_cols: Sequence[str],
) -> DataFrame:
    """J2 batch form — MERGE WHEN MATCHED THEN UPDATE.

    Reference (db/chat.py:22-26): UPDATE message SET flags=? WHERE
    room=? AND username=? AND ts=?. Returns the post-merge target:
    matched rows take ``set_cols`` from updates, others unchanged.
    ``updates`` must be unique on ``on``.
    """
    upd = updates.select(
        *on, *[F.col(c).alias(f"__new_{c}") for c in set_cols]
    )
    joined = target.join(upd, on=list(on), how="left")
    out = joined
    for c in set_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    return out.select(*target.columns)


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    key: Sequence[str],
    update_cols: Sequence[str] = (),
) -> DataFrame:
    """J4 batch form — get_or_create / MERGE.

    Reference db/user.py:34, bots/firebase.py:17-21. Incoming rows
    matching an existing key update ``update_cols`` (when given) and
    keep other existing columns; unmatched incoming rows are inserted.
    ``incoming`` must be unique on ``key``.
    """
    e = existing.alias("e")
    i = incoming.alias("i")
    cond = [F.col(f"e.{k}") == F.col(f"i.{k}") for k in key]
    joined = e.join(i, cond, "full_outer")
    cols = []
    for c in existing.columns:
        kcol = F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}")) if c in key else None
        if c in key:
            cols.append(kcol.alias(c))
        elif c in update_cols and c in incoming.columns:
            cols.append(F.coalesce(F.col(f"i.{c}"), F.col(f"e.{c}")).alias(c))
        elif c in incoming.columns:
            # insert-only column: existing wins, incoming fills new rows
            cols.append(F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}")).alias(c))
        else:
            cols.append(F.col(f"e.{c}").alias(c))
    return joined.select(*cols)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join for when the key is skewed and neither side
    broadcasts: every left row gets a deterministic salt ∈
    [0, num_salts) (xxhash64 of the whole row — no RNG, so retried
    tasks salt identically), the right side is replicated num_salts×,
    and the join shuffles on (key, salt). A hot key's rows spread over
    num_salts tasks instead of pinning one straggler; the price is
    num_salts× replication of the (smaller) right side.

    AQE's runtime skew split covers plain sort-merge joins; this
    explicit form is for the shapes AQE can't re-split (bucketed or
    stream-stream joins, or a key so hot one key exceeds a single
    split). Result is row-identical to ``left.join(right, on, how)``
    for ``inner`` and ``left`` (each left row carries exactly one
    salt; the salted copies of a right row meet it exactly once).
    Right/full joins would emit unmatched right rows once per salt, so
    they are rejected."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports only inner/left joins")
    l = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(num_salts)),
    )
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return l.join(r, [on, "__salt"], how).drop("__salt")
