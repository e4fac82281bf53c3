"""Source layer (SURVEY §2.1, S1-S8): pollers → payload landing zone.

The reference polls game HTTP endpoints on fixed intervals
(__main__.py:55-69) inside one asyncio process. The Spark-first shape
is two-tier: a thin fetcher lands raw ``(source, key, fetch_ts,
status, body)`` rows into a partitioned landing zone, and the engine
consumes that zone — batch (``read_landing``) or streaming (the
``plans/topology.py`` pipelines open a file stream over it with
``PAYLOAD_SCHEMA``), with the reference's intervals becoming stream
triggers. Executors never call ``datetime.now()``: ``fetch_ts``
is captured once per poll by the fetcher (clock discipline, SURVEY §7).

HTTP itself is STUBBED here (no network in this environment; a real
deployment passes ``fetcher=`` backed by httpx/aiohttp with the
reference's two shared authenticated clients, http.py:6-18). The
landing-zone plumbing, schemas, partitioning, and the demand-driven
fan-out shape (S4/S7) are real and tested.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

PAYLOAD_SCHEMA = (
    "source string, key string, fetch_ts timestamp, status int, body binary"
)

ROOMS = ["help", "global", "spoilers", "trade", "giveaways", "trivia", "staff"]


@dataclass(frozen=True)
class PollSpec:
    """One (source, key, interval) poller — reference __main__.py:55-69."""

    source: str
    key: str | None
    interval_sec: int


# the reference's deployment topology, verbatim intervals
REFERENCE_POLLS: list[PollSpec] = (
    [PollSpec("chat", r, 1) for r in ROOMS]
    + [PollSpec("flags", r, 30) for r in ROOMS]
    + [PollSpec("mailbox", None, 10), PollSpec("online", None, 600),
       PollSpec("staff", None, 3600)]
)

Fetcher = Callable[[PollSpec], tuple[int, bytes]]


def stub_fetcher(spec: PollSpec) -> tuple[int, bytes]:
    """STUB — deterministic empty payloads; replace with a real HTTP
    client in deployment (reference endpoints: worker.php?go=getchat,
    log.php?type=chat&flag=1, messages.php, online.php,
    members.php?type=staff)."""
    return 200, b""


def land_poll_sweep(
    spark: SparkSession,
    landing_dir: str,
    specs: list[PollSpec] | None = None,
    fetcher: Fetcher = stub_fetcher,
    fetch_ts: datetime | None = None,
) -> int:
    """Execute one poll sweep and append payload rows to the landing
    zone (partitioned by source → partition pruning for per-source
    consumers). Returns the number of rows landed.

    The sweep becomes one pandas frame, which Spark converts through
    Arrow into a local relation: the write starts no Python worker."""
    import pandas as pd

    specs = REFERENCE_POLLS if specs is None else specs
    fetch_ts = fetch_ts or datetime.now(timezone.utc)
    naive = fetch_ts.astimezone(timezone.utc).replace(tzinfo=None)
    rows = []
    for spec in specs:
        status, body = fetcher(spec)
        rows.append((spec.source, spec.key, naive, status, body))
    pdf = pd.DataFrame(rows, columns=["source", "key", "fetch_ts", "status", "body"])
    df = spark.createDataFrame(pdf, PAYLOAD_SCHEMA)
    df.write.mode("append").partitionBy("source").parquet(landing_dir)
    return len(rows)


def read_landing(spark: SparkSession, landing_dir: str) -> DataFrame:
    return spark.read.schema(PAYLOAD_SCHEMA).parquet(landing_dir)


def demand_fanout(
    keys_df: DataFrame,
    source: str,
    fetcher: Fetcher = stub_fetcher,
    pacing_sec: float = 0.0,
) -> DataFrame:
    """S4/S7 — demand-driven per-key fetch fan-out.

    The reference spawns one fetch task per discovered key with 0.1 s
    pacing (scrapers/user.py:97-102, mailbox.py:63-72). Spark form: the
    key stream maps through an Arrow-batched per-partition fetch; the
    pacing budget is enforced *per executor partition* (N partitions ×
    1/pacing = cluster-wide rate). Returns a payload frame shaped like
    the landing zone.

    ``keys_df`` must have a single string column ``key``.
    """
    import time

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for key in pdf["key"]:
                status, body = fetcher(PollSpec(source, key, 0))
                out.append(
                    {
                        "source": source,
                        "key": key,
                        "fetch_ts": datetime.now(timezone.utc).replace(tzinfo=None),
                        "status": status,
                        "body": body,
                    }
                )
                if pacing_sec:
                    time.sleep(pacing_sec)
            yield pd.DataFrame(
                out, columns=["source", "key", "fetch_ts", "status", "body"]
            )

    return keys_df.select("key").mapInPandas(batches, schema=PAYLOAD_SCHEMA)
