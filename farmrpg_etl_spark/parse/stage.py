"""Spark parse stage (SURVEY §2.2): raw payload rows → typed records.

Input is the landing-zone frame (FIXTURES.md §1):
``(source, key, fetch_ts, status, body)`` — one row per HTTP poll.
The stage applies the F1 guard filters, dispatches to the pure-Python
parser for each source, and explodes per-payload record lists into
rows, preserving payload order in ``pos`` (A4) and routing parse
failures to a quarantine side-channel instead of killing the job (P9,
reference tasks.py:28-34).

Scale notes: parsing runs inside ``mapInPandas`` — an Arrow-batched
iterator, so one oversized payload batch never materializes fully;
payloads are independent, so parallelism is row-wise and the stage
needs no shuffle at all. At 100 TB the landing zone is partitioned by
(source, date); the parse stage inherits that partitioning untouched.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from farmrpg_etl_spark.operators.filters import http_guard
from farmrpg_etl_spark.parse import parsers

# output columns per source (dict keys produced by the parser)
SOURCE_FIELDS: dict[str, str] = {
    "chat": (
        "room string, id string, ts timestamp, emblem string, username string,"
        " content string, flags int, deleted boolean, deleted_ts timestamp, pos int"
    ),
    "flags": (
        "room string, id string, ts timestamp, emblem string, username string,"
        " content string, flags int, deleted boolean, deleted_ts timestamp, pos int"
    ),
    "profile": (
        "user_id long, ts timestamp, username string,"
        " is_farmhand boolean, is_ranger boolean"
    ),
    "online": "username string",
    "staff": "username string",
    "mailbox": "id long, unread boolean",
    "message": "id long, username string, ts timestamp, subject string, content string",
}


def _dispatch(source: str) -> Callable[[str, bytes, Any], list[dict]]:
    if source == "chat":
        return parsers.parse_chat
    if source == "flags":
        return parsers.parse_flags
    if source == "profile":
        return parsers.parse_profile
    if source in ("online", "staff"):
        return lambda key, body, fetch_ts: parsers.parse_online(body)
    if source == "mailbox":
        return lambda key, body, fetch_ts: parsers.parse_mailbox(body)
    if source == "message":
        return lambda key, body, fetch_ts: parsers.parse_message(
            int(key), body, fetch_ts
        )
    raise ValueError(f"unknown source: {source}")


def parse_payloads(payloads: DataFrame, source: str) -> DataFrame:
    """Parse all payload rows of one ``source`` into typed rows plus an
    ``_error`` column (NULL on success). Use :func:`parsed_rows` /
    :func:`quarantine` to split the channels."""
    fields = SOURCE_FIELDS[source]
    schema = f"{fields}, _key string, _fetch_ts timestamp, _error string"
    field_names = [f.split()[0] for f in fields.split(",")]
    parse_fn = _dispatch(source)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from zoneinfo import ZoneInfo

        utc = ZoneInfo("UTC")
        for pdf in it:
            out: list[dict] = []
            for row in pdf.itertuples(index=False):
                fetch_ts = row.fetch_ts.to_pydatetime().replace(tzinfo=utc)
                base = {"_key": row.key, "_fetch_ts": row.fetch_ts, "_error": None}
                try:
                    recs = parse_fn(row.key, bytes(row.body), fetch_ts)
                    for rec in recs:
                        r = dict.fromkeys(field_names)
                        r.update(rec)
                        # tz-aware UTC → naive (session tz is UTC)
                        for k, v in r.items():
                            if hasattr(v, "tzinfo") and v is not None and v.tzinfo:
                                r[k] = v.astimezone(utc).replace(tzinfo=None)
                        r.update(base)
                        out.append(r)
                except parsers.ParseError as e:
                    err = dict.fromkeys(field_names)
                    err.update(base)
                    err["_error"] = str(e)[:500]
                    out.append(err)
            yield pd.DataFrame(
                out, columns=field_names + ["_key", "_fetch_ts", "_error"]
            )

    guarded = http_guard(payloads).filter(F.col("source") == F.lit(source))
    return guarded.select("key", "fetch_ts", "body").mapInPandas(
        batches, schema=schema
    )


def parsed_rows(parsed: DataFrame) -> DataFrame:
    """Success channel: typed rows without the bookkeeping columns."""
    return parsed.filter(F.col("_error").isNull()).drop("_error")


def quarantine(parsed: DataFrame) -> DataFrame:
    """P9 error channel: one row per failed payload."""
    return parsed.filter(F.col("_error").isNotNull()).select(
        F.col("_key").alias("key"),
        F.col("_fetch_ts").alias("fetch_ts"),
        F.col("_error").alias("error"),
    )
