"""MERGE-shaped, replay-idempotent sink writers (SURVEY §2.8 K1-K5)."""

from farmrpg_etl_spark.sinks.writers import (  # noqa: F401
    ParquetTable,
    append_snapshots_with_noop_elimination,
    insert_if_absent,
    merge_update,
    partial_document_update,
    upsert,
)
