"""Pipeline topology (SURVEY §3, E1-E3) — composes sources → parse →
CDC → enrich → sinks into runnable dataflows.

The reference wires these with an asyncio event bus
(__main__.py:53-70, events.py:13-50); here each path is a declarative
DataFrame composition. Every pipeline has a batch form (payload frame
in, sink tables out) and the chat path also has the streaming form
(``readStream`` landing zone → stateful CDC → ``foreachBatch``
writers), which is the same composition applied to an unbounded input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from farmrpg_etl_spark.functions import text as T
from farmrpg_etl_spark.operators import cdc, dedup, latest
from farmrpg_etl_spark.parse.stage import parse_payloads, parsed_rows
from farmrpg_etl_spark.sinks.writers import (
    ParquetTable,
    append_snapshots_with_noop_elimination,
    insert_if_absent,
    merge_update,
    partial_document_update,
    upsert,
)
from farmrpg_etl_spark.plans.router import TopicRouter, cached
from farmrpg_etl_spark.sources.landing import PAYLOAD_SCHEMA
from farmrpg_etl_spark.streaming.flags_join import flags_resolution_join


def chat_observations(payloads: DataFrame) -> DataFrame:
    """E1 front half: raw chat payloads → per-poll message observations
    keyed for CDC (obs_ts = the poll's fetch_ts)."""
    parsed = parsed_rows(parse_payloads(payloads, "chat"))
    return parsed.select(
        F.col("room"),
        F.col("id"),
        F.col("_fetch_ts").alias("obs_ts"),
        "pos", "ts", "username", "emblem", "content", "flags", "deleted",
    )


def register_chat_sinks(
    router: "TopicRouter", messages: ParquetTable, chat_docs: ParquetTable
) -> None:
    """Register the E1 sink fan-out under the ``chat`` topic prefix:
    a batch emitted as ``chat.<room>`` (or bare ``chat``) fires K1
    then K4, mirroring the reference's hub listeners on ``"chat"``
    receiving every ``chat.{room}`` emission (events.py:17-25).
    Registration order is commit order — K1 before K4 is what the
    restart-recovery replay guards assume."""

    @router.on("chat")
    def write_messages(enriched: DataFrame, batch_id: int | None) -> None:
        # a CDC batch can carry several observations of one key — the
        # insert sink takes the first (unique-index semantics)
        first_obs = dedup.keep_first_per_key(enriched, ["id"], "obs_ts")
        # K1: Postgres-style insert-if-absent keyed by the message id
        insert_if_absent(
            messages,
            first_obs.select(
                "room", "id", "ts", "emblem", "username", "content",
                "flags", "deleted", "deleted_ts",
            ),
            ["id"],
            batch_id=batch_id,
            writer="chat_insert",
        )

    @router.on("chat")
    def write_docs(enriched: DataFrame, batch_id: int | None) -> None:
        # the document sink takes the latest (set-with-merge semantics)
        latest_obs = latest.latest_per_key(enriched, ["room", "id"], "obs_ts")
        # K4: partial document write — never clobbers flags; deleted_ts
        # only when deleted (firestore/chat.py:40-50)
        partial_document_update(
            chat_docs,
            latest_obs.select(
                "room", "id", "ts", "username",
                F.concat_ws(",", F.col("mentions")).alias("mentions"),
                "content", "deleted", "deleted_ts",
                F.lit(None).cast("int").alias("flags"),
            ),
            ["room", "id"],
            always_cols=["ts", "username", "mentions", "content", "deleted"],
            conditional_cols={"deleted_ts": "deleted"},
            batch_id=batch_id,
            writer="chat_docs",
        )


def chat_pipeline_batch(
    payloads: DataFrame,
    messages: ParquetTable,
    chat_docs: ParquetTable,
    batch_id: int | None = None,
) -> DataFrame:
    """E1: chat payloads → parse → D1 CDC → K1 insert + K4 doc write,
    fanned out through the ``chat`` topic (plans/router.py).

    Returns the CDC change events (with A2 mention enrichment) so
    callers/tests can observe the emitted stream."""
    events = cdc.message_cdc(
        chat_observations(payloads).drop("pos"), ["room", "id"], "obs_ts"
    )
    enriched = events.withColumn("mentions", T.mentions(F.col("content")))
    router = TopicRouter()
    register_chat_sinks(router, messages, chat_docs)
    router.emit("chat.batch", enriched, batch_id)
    return enriched


def flag_rows(payloads: DataFrame) -> DataFrame:
    """E2 front half: raw flags payloads → parsed flag-log rows."""
    return parsed_rows(parse_payloads(payloads, "flags")).select(
        "room", "ts", "username", "flags"
    )


def update_flags(
    messages: ParquetTable, rows: DataFrame, batch_id: int | None
) -> DataFrame | None:
    """E2 back half: J1 resolve each flag row's message id against the
    messages sink state → K2 correlated flags update. Returns the
    resolved rows, or None while the sink is still empty."""
    existing = messages.read()
    if existing is None:
        return None
    resolved = flags_resolution_join(
        existing.select("room", "id", "ts", "username"), rows
    )
    merge_update(messages, resolved, ["id"], ["flags"], batch_id=batch_id,
                 writer="flags_update")
    return resolved


def flags_pipeline_batch(
    payloads: DataFrame,
    messages: ParquetTable,
    batch_id: int | None = None,
) -> DataFrame:
    """E2: flags payloads → parse → J1 resolve id against the messages
    sink state → K2 correlated flags update. Returns resolved rows."""
    rows = flag_rows(payloads)
    resolved = update_flags(messages, rows, batch_id)
    if resolved is None:
        return rows.limit(0).withColumn("id", F.lit(None).cast("string"))
    return resolved


def user_pipeline_batch(
    payloads: DataFrame,
    users: ParquetTable,
    snapshots: ParquetTable,
    batch_id: int | None = None,
) -> DataFrame:
    """E3: profile payloads → parse → J4 user upsert + D4/K3 snapshot
    append with no-op elimination. Returns parsed snapshots. The two
    writers share one parse: the snapshots are cached while they run."""
    snaps = parsed_rows(parse_payloads(payloads, "profile")).select(
        "user_id", "ts", "username", "is_farmhand", "is_ranger"
    )
    with cached(snaps):
        upsert(
            users,
            snaps.select(F.col("user_id").alias("id"), F.lit(None).cast("string").alias("firebase_uid")),
            ["id"],
            batch_id=batch_id,
            writer="users_upsert",
        )
        append_snapshots_with_noop_elimination(
            snapshots, snaps, ["user_id"], "ts", batch_id=batch_id
        )
    return snaps


def chat_pipeline_streaming(
    spark: SparkSession,
    landing_dir: str,
    messages: ParquetTable,
    chat_docs: ParquetTable,
    checkpoint_dir: str | None = None,
):
    """E1 streaming form: payload landing zone (parquet file stream) →
    parse → stateful CDC → foreachBatch MERGE writers. Returns the
    started StreamingQuery; callers own its lifecycle.

    ``checkpoint_dir`` makes the query restartable: source offsets and
    the CDC state store are checkpointed, so a crashed or stopped query
    resumed with the same directory redelivers the in-flight batch
    (the MERGE writers' batch-id guards make the redelivery converge —
    the exactly-once contract the reference gets from Postgres unique
    indexes, db/chat.py:13-19) and restores per-message CDC state
    rather than re-deriving it from scratch.

    The CDC state-eviction TTL (see ``chat_cdc_stream``) follows
    the deployment shape: 1 h eviction for uncheckpointed (continuous)
    runs, none for checkpointed runs — because with a processing-time
    TTL a RESTARTED available-now query inherits registered timers
    from the checkpoint and keeps scheduling timer-check micro-batches
    instead of terminating once the data is drained."""
    from farmrpg_etl_spark.streaming.chat_cdc import chat_cdc_stream

    state_ttl_ms = None if checkpoint_dir is not None else 3_600_000
    payloads = spark.readStream.schema(PAYLOAD_SCHEMA).parquet(landing_dir)
    observations = chat_observations(payloads)
    changes = chat_cdc_stream(observations, state_ttl_ms=state_ttl_ms)
    router = TopicRouter()
    register_chat_sinks(router, messages, chat_docs)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the CDC state schema drops emblem; restore it for the shared
        # chat sink handlers (the batch form carries the real column)
        enriched = batch_df.withColumn(
            "mentions", T.mentions(F.col("content"))
        ).withColumn("emblem", F.lit(""))
        router.emit("chat.stream", enriched, batch_id)

    writer = (
        changes.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def flags_pipeline_streaming(
    spark: SparkSession,
    landing_dir: str,
    messages: ParquetTable,
    checkpoint_dir: str | None = None,
):
    """E2 streaming form: flags payload stream → parse → resolve ids
    against the messages sink state → K2 correlated flags update.

    The reference warms its id-map 30 s before starting flags pollers
    (__main__.py:64-65); here resolution joins the *sink state* inside
    each micro-batch, so ordering needs no warm-up. (The pure
    stream-stream form is ``streaming.flags_join.flags_resolution_join``;
    joining sink state instead matches the reference's Postgres path,
    db/chat.py:22-26.)"""
    payloads = spark.readStream.schema(PAYLOAD_SCHEMA).parquet(landing_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_flags(messages, batch_df, batch_id)

    writer = (
        flag_rows(payloads).writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
