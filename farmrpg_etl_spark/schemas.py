"""Explicit StructType schemas — the engine's data-model foundation.

The reference derives SQL DDL mechanically from ``attrs`` type
annotations (reference ``src/farmrpg_etl/db/core/models.py:57-85``);
canonical DDL lives in its alembic migrations
(``migrations/versions/420ff2a8e514_create_message.py:21-54``,
``52f2a3e57590_add_user_tables.py:21-50``). We keep the same
schema-on-write stance: every table/stream has a fixed, explicitly
declared StructType; nothing is ever inferred.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- core chat message (models/chat.py:9-19 + message migration) --------
MESSAGE = StructType(
    [
        StructField("room", StringType(), False),
        StructField("id", StringType(), False),       # UNIQUE natural key
        StructField("ts", TimestampType(), False),    # UTC
        StructField("emblem", StringType(), False),
        StructField("username", StringType(), False),
        StructField("content", StringType(), False),
        StructField("flags", IntegerType(), False),
        StructField("deleted", BooleanType(), False),
        StructField("deleted_ts", TimestampType(), True),
    ]
)

# flags-log observation; no real message id (scrapers/chat.py:86-115)
FLAG_EVENT = StructType(
    [
        StructField("room", StringType(), False),
        StructField("synthetic_id", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("username", StringType(), False),
        StructField("content", StringType(), False),
        StructField("flags", IntegerType(), False),
    ]
)

# --- user identity + snapshots (models/user.py:11-24) -------------------
USER = StructType(
    [
        StructField("id", LongType(), False),
        StructField("firebase_uid", StringType(), True),  # UNIQUE when present
    ]
)

USER_SNAPSHOT = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("username", StringType(), False),
        StructField("is_farmhand", BooleanType(), False),
        StructField("is_ranger", BooleanType(), False),
    ]
)

# --- mail path (models/mailbox.py:6-11, scrapers/mailbox.py:75-78) ------
MAIL = StructType(
    [
        StructField("id", LongType(), False),
        StructField("username", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("subject", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

MAILBOX_ROW = StructType(
    [
        StructField("id", LongType(), False),
        StructField("unread", BooleanType(), False),
    ]
)

ONLINE_PRESENCE = StructType(
    [
        StructField("username", StringType(), False),
        StructField("sweep_ts", TimestampType(), False),
        StructField("kind", StringType(), False),  # online | staff
    ]
)

# --- multimodal: opaque binary + typed metadata --------------------------
MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),      # image | audio | video
        StructField("data", BinaryType(), False),      # opaque payload
        StructField("meta", StructType([
            StructField("mime", StringType(), True),
            StructField("width", IntegerType(), True),
            StructField("height", IntegerType(), True),
            StructField("duration_ms", IntegerType(), True),
        ]), True),
    ]
)

EMBEDDING = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
        StructField("label", IntegerType(), True),
    ]
)

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
