"""Sink writer semantics: MERGE shapes + idempotency under batch replay
(foreachBatch may re-run a batch; every writer must converge)."""

from __future__ import annotations

from datetime import datetime

from farmrpg_etl_spark.sinks.writers import (
    ParquetTable,
    append_snapshots_with_noop_elimination,
    insert_if_absent,
    merge_update,
    partial_document_update,
    upsert,
)


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_insert_if_absent_replay_idempotent(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "messages"))
    b1 = spark.createDataFrame([("m1", "hello"), ("m2", "world")], "id string, content string")
    insert_if_absent(t, b1, ["id"], batch_id=0)
    # replay of batch 0: batch-id guard short-circuits
    insert_if_absent(t, b1, ["id"], batch_id=0)
    # same rows again under a new batch id: MERGE inserts nothing
    insert_if_absent(t, b1, ["id"], batch_id=1)
    b2 = spark.createDataFrame([("m2", "changed"), ("m3", "new")], "id string, content string")
    insert_if_absent(t, b2, ["id"], batch_id=2)
    rows = {r["id"]: r["content"] for r in t.read().collect()}
    assert rows == {"m1": "hello", "m2": "world", "m3": "new"}  # m2 not clobbered


def test_merge_update_correlated(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "messages"))
    base = spark.createDataFrame(
        [("r1", "alice", 0), ("r1", "bob", 0)], "room string, username string, flags int"
    )
    insert_if_absent(t, base, ["room", "username"], batch_id=0)
    upd = spark.createDataFrame(
        [("r1", "alice", 3), ("r1", "nobody", 9)], "room string, username string, flags int"
    )
    merge_update(t, upd, ["room", "username"], ["flags"], batch_id=1)
    rows = {r["username"]: r["flags"] for r in t.read().collect()}
    assert rows == {"alice": 3, "bob": 0}  # unmatched update dropped


def test_upsert_get_or_create(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "users"))
    upsert(t, spark.createDataFrame([(1, None)], "id long, firebase_uid string"), ["id"])
    upsert(
        t,
        spark.createDataFrame([(1, "u" * 28), (2, None)], "id long, firebase_uid string"),
        ["id"],
        update_cols=["firebase_uid"],
    )
    rows = {r["id"]: r["firebase_uid"] for r in t.read().collect()}
    assert rows == {1: "u" * 28, 2: None}


def test_snapshot_noop_elimination(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "snaps"))
    schema = "user_id long, ts timestamp, username string, is_ranger boolean"
    b1 = spark.createDataFrame([(1, ts("2024-01-01 00:00:00"), "alice", False)], schema)
    append_snapshots_with_noop_elimination(t, b1, ["user_id"], "ts", batch_id=0)
    # identical except ts → no-op, skipped (D4, db/user.py:18-33)
    b2 = spark.createDataFrame([(1, ts("2024-01-01 01:00:00"), "alice", False)], schema)
    append_snapshots_with_noop_elimination(t, b2, ["user_id"], "ts", batch_id=1)
    assert t.read().count() == 1
    # role flip → appended
    b3 = spark.createDataFrame([(1, ts("2024-01-01 02:00:00"), "alice", True)], schema)
    append_snapshots_with_noop_elimination(t, b3, ["user_id"], "ts", batch_id=2)
    got = sorted((r["ts"], r["is_ranger"]) for r in t.read().collect())
    assert got == [(ts("2024-01-01 00:00:00"), False), (ts("2024-01-01 02:00:00"), True)]


def test_partial_document_update(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "docs"))
    schema = (
        "room string, id string, content string, deleted boolean,"
        " deleted_ts timestamp, flags int"
    )
    base = spark.createDataFrame(
        [("r", "1", "hi", False, None, 7)], schema
    )
    insert_if_absent(t, base, ["room", "id"], batch_id=0)
    # K4: content/deleted always written, deleted_ts only when deleted,
    # flags NEVER written by this sink (concurrent writer owns it)
    upd = spark.createDataFrame(
        [("r", "1", "hi2", True, ts("2024-01-01 00:00:00"), 99),
         ("r", "2", "new", False, ts("2024-01-01 00:00:00"), 99)],
        schema,
    )
    partial_document_update(
        t, upd, ["room", "id"],
        always_cols=["content", "deleted"],
        conditional_cols={"deleted_ts": "deleted"},
        batch_id=1,
    )
    rows = {r["id"]: r for r in t.read().collect()}
    assert rows["1"]["content"] == "hi2"
    assert rows["1"]["deleted"] is True
    assert rows["1"]["deleted_ts"] == ts("2024-01-01 00:00:00")
    assert rows["1"]["flags"] == 7  # not clobbered
    assert rows["2"]["content"] == "new"
    assert rows["2"]["deleted_ts"] is None  # not deleted → withheld
    assert rows["2"]["flags"] is None  # this sink never writes flags


def test_compact_rewrites_to_target_files_preserving_data(spark, tmp_path):
    import glob

    t = ParquetTable(spark, str(tmp_path / "events"))
    # 8 incremental commits → the version dir accumulates many files
    for b in range(8):
        batch = spark.createDataFrame(
            [(f"e{b}-{i}", b * 100 + i) for i in range(50)], "id string, v int"
        ).repartition(4)
        insert_if_absent(t, batch, ["id"], batch_id=b)
    before = t.read()
    n_files_before = len(
        glob.glob(f"{t.path}/v{t.current_version()}/part-*.parquet")
    )
    rows_before = sorted((r.id, r.v) for r in before.collect())

    t.compact(target_partitions=2, sort_by=["v"])

    vdir = f"{t.path}/v{t.current_version()}"
    n_files_after = len(glob.glob(f"{vdir}/part-*.parquet"))
    assert n_files_after == 2 < n_files_before
    after = t.read()
    assert sorted((r.id, r.v) for r in after.collect()) == rows_before
    # sortWithinPartitions → each file is internally ordered by v
    for f in glob.glob(f"{vdir}/part-*.parquet"):
        vals = [r.v for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)


def test_compact_on_empty_table_is_noop(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "nothing"))
    t.compact(target_partitions=1)
    assert not t.exists()


def test_merge_additive_aggregates_matches_full_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.sinks.writers import merge_additive_aggregates

    t = ParquetTable(spark, str(tmp_path / "rollup"))
    batches = [
        [("a", 1, 10), ("a", 1, 20), ("b", 1, 5)],
        [("a", 1, 1), ("c", 1, 7)],
        [("b", 1, 2), ("c", 1, 3)],
    ]
    schema = "key string, n long, total long"
    for i, rows in enumerate(batches):
        b = spark.createDataFrame(rows, schema)
        merge_additive_aggregates(t, b, ["key"], batch_id=i)
        if i == 1:  # replayed delivery of batch 1: must be a no-op
            merge_additive_aggregates(t, b, ["key"], batch_id=i)
    got = {r["key"]: (r["n"], r["total"]) for r in t.read().collect()}
    full = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    ).groupBy("key").agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    want = {r["key"]: (r["n"], r["total"]) for r in full.collect()}
    assert got == want == {"a": (3, 31), "b": (2, 7), "c": (2, 10)}


def test_streaming_incremental_rollup_foreachbatch(spark, tmp_path):
    """readStream → foreachBatch(merge_additive_aggregates): the
    maintained rollup equals a full batch recompute regardless of how
    the files split into micro-batches."""
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.sinks.writers import merge_additive_aggregates

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("u1", 10), ("u2", 5)], "user string, v long"
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [("u1", 1), ("u3", 2)], "user string, v long"
    ).coalesce(1).write.mode("append").parquet(src)
    t = ParquetTable(spark, str(tmp_path / "rollup"))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def write_batch(b, bid):
        part = b.groupBy("user").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
        )
        merge_additive_aggregates(t, part, ["user"], batch_id=bid, writer="rollup")

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {r["user"]: (r["n"], r["total"]) for r in t.read().collect()}
    assert got == {"u1": (2, 11), "u2": (1, 5), "u3": (1, 2)}


def test_console_sink_prints_rows(spark, capsys):
    from farmrpg_etl_spark.sinks.writers import console_sink

    console_sink(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), n=5)
    out = capsys.readouterr().out
    assert "a" in out and "b" in out  # K8: rows actually reach stdout


def test_read_version_time_travel_and_retention(spark, tmp_path):
    from farmrpg_etl_spark.sinks.writers import ParquetTable, insert_if_absent, merge_update
    import pytest

    t = ParquetTable(spark, str(tmp_path / "tt"))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    insert_if_absent(t, df, ["k"], batch_id=0)
    upd = spark.createDataFrame([(1, 99.0)], "k long, v double")
    merge_update(t, upd, on=["k"], set_cols=["v"], batch_id=1)
    # v0 shows pre-update state, current shows post-update
    v0 = {r.k: r.v for r in t.read_version(0).collect()}
    cur = {r.k: r.v for r in t.read().collect()}
    assert v0 == {1: 10.0, 2: 20.0}
    assert cur == {1: 99.0, 2: 20.0}
    # third commit vacuums v0 (two-version retention)
    merge_update(t, spark.createDataFrame([(2, 77.0)], "k long, v double"),
                 on=["k"], set_cols=["v"], batch_id=2)
    with pytest.raises(ValueError, match="not retained"):
        t.read_version(0)
    assert {r.k: r.v for r in t.read_version(1).collect()} == {1: 99.0, 2: 20.0}


def test_upsert_schema_evolution_additive(spark, tmp_path):
    from farmrpg_etl_spark.sinks.writers import ParquetTable, upsert
    import pytest

    t = ParquetTable(spark, str(tmp_path / "evo"))
    upsert(t, spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string"),
           ["k"], batch_id=0)
    batch2 = spark.createDataFrame(
        [(2, "b2", 0.9), (3, "c", 0.5)], "k long, name string, score double"
    )
    # without the flag: refuse rather than silently drop the new column
    with pytest.raises(ValueError, match="merge_schema"):
        upsert(t, batch2, ["k"], update_cols=["name", "score"], batch_id=1)
    upsert(t, batch2, ["k"], update_cols=["name", "score"], batch_id=1,
           merge_schema=True)
    rows = {r.k: (r.name, r.score) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b2", 0.9), 3: ("c", 0.5)}
    # stored columns absent from a later batch keep their values
    upsert(t, spark.createDataFrame([(3, 0.7)], "k long, score double"),
           ["k"], update_cols=["score"], batch_id=2)
    rows = {r.k: (r.name, r.score) for r in t.read().collect()}
    assert rows[3] == ("c", 0.7) and rows[1] == ("a", None)


def test_upsert_rejects_type_drift(spark, tmp_path):
    """A shared column arriving with a different type must raise, not
    let Spark's implicit coercion silently widen the stored schema
    (r4 ADVICE: writers.py upsert type-safety)."""
    import pytest

    t = ParquetTable(spark, str(tmp_path / "drift"))
    upsert(t, spark.createDataFrame([(1, 10)], "k long, v int"), ["k"], batch_id=0)
    bad = spark.createDataFrame([(2, 1.5)], "k long, v double")
    with pytest.raises(ValueError, match="column types"):
        upsert(t, bad, ["k"], update_cols=["v"], batch_id=1)
    # same applies under merge_schema=True: evolution is additive-only
    with pytest.raises(ValueError, match="column types"):
        upsert(t, bad, ["k"], update_cols=["v"], batch_id=1, merge_schema=True)
    assert {r.k: r.v for r in t.read().collect()} == {1: 10}


def test_incremental_curation_equals_full_recompute(spark, tmp_path):
    """Delta maintenance invariant on a crafted corpus: gate-crossing
    edits in BOTH directions (a doc growing past the gate, a doc
    shrinking below it), a removal, an addition, and an untouched doc
    — the incrementally-maintained sink must equal the batch recompute
    over version 2."""
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.functions import hashing as H
    from farmrpg_etl_spark.operators import curation
    from farmrpg_etl_spark.sinks.writers import delete_where, upsert

    GATE = 4  # tokens

    def curated(df):
        n_tok = F.size(
            F.coalesce(H.words(F.col("text")), F.array().cast("array<string>"))
        ).cast("long")
        return (
            df.withColumn("n_tok", n_tok)
            .filter(F.col("n_tok") >= GATE)
            .select(
                "doc_id",
                F.md5(F.col("text").cast("binary")).alias("content_md5"),
                "n_tok",
            )
        )

    old = spark.createDataFrame(
        [
            (1, "a b c d e"),      # stays, untouched
            (2, "a b c"),          # grows past the gate in v2
            (3, "a b c d e f"),    # shrinks below the gate in v2
            (4, "x y z w"),        # removed in v2
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d"),        # 3 -> 4 tokens: newly passes
            (3, "a b"),            # 6 -> 2 tokens: newly fails
            (5, "p q r s t"),      # added, passes
            (6, "p q"),            # added, fails
        ],
        "doc_id long, text string",
    )

    t = ParquetTable(spark, str(tmp_path / "incr"))
    upsert(t, curated(old), ["doc_id"], batch_id=0)
    diff = curation.corpus_diff(old, new, "doc_id", "text")
    touched = diff.filter(F.col("status").isin("added", "changed")).select("doc_id")
    incoming = curated(new.join(touched, "doc_id"))
    upsert(t, incoming, ["doc_id"], update_cols=["content_md5", "n_tok"], batch_id=1)
    gone = diff.filter(F.col("status") == "removed").select("doc_id")
    failed = (
        new.join(touched, "doc_id")
        .join(incoming.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id")
    )
    delete_where(t, gone.unionByName(failed), ["doc_id"], batch_id=2)

    got = {r["doc_id"]: (r["content_md5"], r["n_tok"]) for r in t.read().collect()}
    want = {
        r["doc_id"]: (r["content_md5"], r["n_tok"]) for r in curated(new).collect()
    }
    assert got == want
    assert set(got) == {1, 2, 5}  # 3 deleted (gate), 4 deleted (removed), 6 never in


def test_version_changes_cdf_semantics(spark, tmp_path):
    """Change feed between versions: inserts/deletes/update pre+post
    images, unchanged keys suppressed, update-then-delete collapses to
    one delete with the FROM-version values, retention honors
    keep_versions."""
    from farmrpg_etl_spark.sinks import writers

    t = writers.ParquetTable(spark, str(tmp_path / "cdf"), keep_versions=4)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, s string, v double",
    )
    writers.insert_if_absent(t, base, ["k"], batch_id=0)               # v0
    writers.merge_update(
        t,
        spark.createDataFrame([(2, 20.0), (3, 30.0)], "k long, v double"),
        on=["k"], set_cols=["v"], batch_id=1,
    )                                                                   # v1
    writers.delete_where(
        t, spark.createDataFrame([(3,)], "k long"), ["k"], batch_id=2
    )                                                                   # v2
    writers.upsert(
        t, spark.createDataFrame([(4, "d", 4.0)], "k long, s string, v double"),
        ["k"], update_cols=["v"], batch_id=3,
    )                                                                   # v3
    feed = {
        (r["_change_type"], r["k"]): (r["s"], r["v"])
        for r in writers.version_changes(t, 0, 3, ["k"]).collect()
    }
    assert feed == {
        ("update_preimage", 2): ("b", 2.0),
        ("update_postimage", 2): ("b", 20.0),
        ("delete", 3): ("c", 3.0),      # updated THEN deleted -> one delete, v0 values
        ("insert", 4): ("d", 4.0),
    }                                    # k=1 unchanged: absent
    # adjacent-version feed sees the intermediate update
    mid = {(r["_change_type"], r["k"]) for r in
           writers.version_changes(t, 0, 1, ["k"]).collect()}
    assert mid == {("update_preimage", 2), ("update_postimage", 2),
                   ("update_preimage", 3), ("update_postimage", 3)}
    # retention: keep_versions=4 at v3 means v0 is still readable
    assert t.read_version(0).count() == 3


def test_scd2_upsert_versions_and_noop(spark, tmp_path):
    """SCD2 writer: change versions with contiguous [from, to) ranges,
    latest open, unchanged observations suppressed, replayed batch a
    no-op, and an observation equal to the stored OPEN version (first
    row of the next batch) suppressed across the batch boundary."""
    from datetime import datetime

    from farmrpg_etl_spark.sinks import writers

    def ts(d):
        return datetime(2024, 1, d)

    t = writers.ParquetTable(spark, str(tmp_path / "scd2"))
    b1 = spark.createDataFrame(
        [(1, ts(1), "a"), (1, ts(2), "a"), (1, ts(3), "b"), (2, ts(1), "x")],
        "k long, ts timestamp, attr string",
    )
    writers.scd2_upsert(t, b1, ["k"], "ts", ["attr"], batch_id=0)
    b2 = spark.createDataFrame(
        [(1, ts(4), "b"), (1, ts(5), "c"), (2, ts(6), "y")],
        "k long, ts timestamp, attr string",
    )
    writers.scd2_upsert(t, b2, ["k"], "ts", ["attr"], batch_id=1)
    writers.scd2_upsert(t, b2, ["k"], "ts", ["attr"], batch_id=1)  # replay
    rows = {(r["k"], r["valid_from"]): (r["attr"], r["valid_to"])
            for r in t.read().collect()}
    assert rows == {
        (1, ts(1)): ("a", ts(3)),   # ts(2) "a" suppressed (no-op)
        (1, ts(3)): ("b", ts(5)),   # ts(4) "b" suppressed ACROSS batches
        (1, ts(5)): ("c", None),    # latest open
        (2, ts(1)): ("x", ts(6)),
        (2, ts(6)): ("y", None),
    }


def test_dynamic_partition_overwrite_touches_only_target(spark, tmp_path):
    """partitionOverwriteMode=dynamic: rewriting one day's partition
    must leave the other partitions' FILES untouched (not merely
    content-equal — the backfill contract at 100 TB is that 1/N of
    the table is rewritten, not all of it)."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "id long, day string, v double",
    )
    df.write.mode("overwrite").partitionBy("day").parquet(path)

    def files(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    before_b = files("b")
    upd = spark.createDataFrame([(9, "a", 100.0)], "id long, day string, v double")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        upd.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert files("b") == before_b  # same files, same mtimes
    back = spark.read.parquet(path)
    rows = {(r.id, r.day) for r in back.collect()}
    assert rows == {(9, "a"), (3, "b")}  # day=a replaced, not appended


def test_evolve_adds_column_with_backfill(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "users"))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    insert_if_absent(t, v1, ["id"], batch_id=0)
    t.evolve({"score": ("long", -1), "tag": ("string", None)})
    # post-evolve batches carry the new columns and merge normally
    v2 = spark.createDataFrame(
        [(3, "c", 7, "x")], "id long, name string, score long, tag string"
    )
    insert_if_absent(t, v2, ["id"], batch_id=1)
    got = {r["id"]: (r["score"], r["tag"]) for r in t.read().collect()}
    assert got == {1: (-1, None), 2: (-1, None), 3: (7, "x")}
    assert t.current_version() == 2  # insert=0, evolve=1, insert=2
    assert [f.dataType.simpleString() for f in t.read().schema.fields] == [
        "bigint", "string", "bigint", "string",
    ]


def test_evolve_rejects_existing_column_and_empty_table(spark, tmp_path):
    import pytest as _pytest

    t = ParquetTable(spark, str(tmp_path / "t"))
    with _pytest.raises(ValueError, match="empty"):
        t.evolve({"x": ("long", 0)})
    insert_if_absent(
        t, spark.createDataFrame([(1,)], "id long"), ["id"], batch_id=0
    )
    with _pytest.raises(ValueError, match="already exist"):
        t.evolve({"id": ("long", 0)})
    # failed evolve must not have committed a version
    assert t.current_version() == 0


# ------------------------------------------------------- evolve_v2


def _user_table(spark, tmp_path, name="u2"):
    t = ParquetTable(spark, str(tmp_path / name))
    insert_if_absent(
        t,
        spark.createDataFrame(
            [(1, "alice", "UID1"), (2, "bob", "UID2")],
            "user_id long, username string, firebase_uid string",
        ),
        ["user_id"],
        batch_id=0,
    )
    return t


def test_not_null_enforced_in_write_plan(spark, tmp_path):
    import pytest as _pytest

    t = _user_table(spark, tmp_path)
    t.declare_not_null(["firebase_uid"])
    bad = spark.createDataFrame(
        [(3, "carol", None)],
        "user_id long, username string, firebase_uid string",
    )
    with _pytest.raises(Exception, match="NOT NULL constraint violated"):
        insert_if_absent(t, bad, ["user_id"], batch_id=1)
    # failed commit leaves the old version current
    assert t.current_version() == 0
    assert t.read().count() == 2


def test_declare_not_null_validates_existing_rows(spark, tmp_path):
    import pytest as _pytest

    t = ParquetTable(spark, str(tmp_path / "v"))
    insert_if_absent(
        t,
        spark.createDataFrame([(1, None)], "id long, uid string"),
        ["id"],
        batch_id=0,
    )
    with _pytest.raises(ValueError, match="violate NOT NULL"):
        t.declare_not_null(["uid"])
    with _pytest.raises(ValueError, match="do not exist"):
        t.declare_not_null(["nope"])


def test_evolve_v2_relax_is_metadata_only(spark, tmp_path):
    t = _user_table(spark, tmp_path)
    t.declare_not_null(["firebase_uid"])
    v_before = t.current_version()
    t.evolve_v2(relax_nullable=["firebase_uid"])
    assert t.current_version() == v_before  # no data rewrite
    assert "firebase_uid" not in t.not_null_columns()
    # nulls now merge cleanly
    insert_if_absent(
        t,
        spark.createDataFrame(
            [(3, "carol", None)],
            "user_id long, username string, firebase_uid string",
        ),
        ["user_id"],
        batch_id=1,
    )
    assert t.read().filter("firebase_uid IS NULL").count() == 1


def test_evolve_v2_rename_and_apply_renames(spark, tmp_path):
    t = _user_table(spark, tmp_path)
    t.evolve_v2(renames={"username": "user_name"})
    assert set(t.read().columns) == {"user_id", "user_name", "firebase_uid"}
    assert t.rename_map() == {"username": "user_name"}
    old_batch = spark.createDataFrame(
        [(3, "carol", "UID3")],
        "user_id long, username string, firebase_uid string",
    )
    upgraded = t.apply_renames(old_batch)
    assert "user_name" in upgraded.columns
    insert_if_absent(t, upgraded, ["user_id"], batch_id=1)
    assert t.read().filter("user_name = 'carol'").count() == 1


def test_evolve_v2_rename_follows_constraint(spark, tmp_path):
    """A NOT NULL column that is renamed keeps its constraint under
    the new name."""
    import pytest as _pytest

    t = _user_table(spark, tmp_path)
    t.declare_not_null(["firebase_uid"])
    t.evolve_v2(renames={"firebase_uid": "fb_uid"})
    assert t.not_null_columns() == frozenset({"fb_uid"})
    bad = spark.createDataFrame(
        [(3, "carol", None)], "user_id long, username string, fb_uid string"
    )
    with _pytest.raises(Exception, match="NOT NULL constraint violated"):
        insert_if_absent(t, bad, ["user_id"], batch_id=1)


def test_evolve_v2_rejections(spark, tmp_path):
    import pytest as _pytest

    t = _user_table(spark, tmp_path)
    with _pytest.raises(ValueError, match="do not exist"):
        t.evolve_v2(renames={"nope": "x"})
    with _pytest.raises(ValueError, match="already exist"):
        t.evolve_v2(renames={"username": "firebase_uid"})
    with _pytest.raises(ValueError, match="duplicate rename targets"):
        t.evolve_v2(renames={"username": "x", "firebase_uid": "x"})
    with _pytest.raises(ValueError, match="already nullable"):
        t.evolve_v2(relax_nullable=["username"])  # never constrained
    assert t.current_version() == 0  # nothing committed


def test_evolve_v2_resume_after_crash_between_map_and_rewrite(spark, tmp_path):
    """Simulate a crash after the rename map published but before the
    data rewrite: re-running with the same arguments repairs."""
    import json as _json
    import os as _os

    t = _user_table(spark, tmp_path)
    # stage the crash state by hand: map present, data un-renamed
    with open(_os.path.join(t.path, "_RENAMES"), "w") as f:
        _json.dump({"username": "user_name"}, f)
    t.evolve_v2(renames={"username": "user_name"})
    assert set(t.read().columns) == {"user_id", "user_name", "firebase_uid"}
    assert t.rename_map() == {"username": "user_name"}


def test_evolve_v2_full_replay_fails_loudly(spark, tmp_path):
    """A FULL replay of a COMPLETED migration (map recorded AND data
    already renamed) is not the crash window — it must raise, not
    commit a no-op rewrite as a new version (r12 advice #3)."""
    import pytest as _pytest

    t = _user_table(spark, tmp_path)
    t.declare_not_null(["firebase_uid"])
    t.evolve_v2(
        relax_nullable=["firebase_uid"], renames={"username": "user_name"}
    )
    v_done = t.current_version()
    with _pytest.raises(ValueError, match="do not exist"):
        t.evolve_v2(
            relax_nullable=["firebase_uid"], renames={"username": "user_name"}
        )
    assert t.current_version() == v_done  # no phantom version
    # rename-only replay fails the same way
    with _pytest.raises(ValueError, match="do not exist"):
        t.evolve_v2(renames={"username": "user_name"})
    # relax-only replay keeps its own loud failure
    with _pytest.raises(ValueError, match="already nullable"):
        t.evolve_v2(relax_nullable=["firebase_uid"])


# -- shared-file commits and declared read schemas ---------------------------


def _vdir(t: ParquetTable, v: int) -> str:
    import os

    return os.path.join(t.path, f"v{v}")


def _data_files(vdir: str) -> dict[str, int]:
    """part file name → inode"""
    import os

    return {
        f: os.stat(os.path.join(vdir, f)).st_ino
        for f in os.listdir(vdir) if f.startswith("part-")
    }


def test_insert_carries_files_by_hard_link_and_writes_only_new_rows(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "m"))
    schema = "id string, content string"
    insert_if_absent(
        t, spark.createDataFrame([(f"m{i}", "old") for i in range(20)], schema),
        ["id"], batch_id=0,
    )
    v0_files = _data_files(_vdir(t, 0))
    # m0 is already stored: only m100 and m101 are new
    insert_if_absent(
        t, spark.createDataFrame([("m0", "dup"), ("m100", "a"), ("m101", "b")], schema),
        ["id"], batch_id=1,
    )
    v1_files = _data_files(_vdir(t, 1))
    carried = {f: ino for f, ino in v1_files.items() if f in v0_files}
    assert carried == v0_files  # same inodes: linked, not copied
    new = [f for f in v1_files if f not in v0_files]
    assert len(new) == 1  # the new rows are one file
    got = spark.read.parquet(f"{_vdir(t, 1)}/{new[0]}").collect()
    assert sorted((r.id, r.content) for r in got) == [("m100", "a"), ("m101", "b")]
    assert t.read().count() == 22


def test_read_version_survives_vacuum_of_linked_versions(spark, tmp_path):
    import pytest

    t = ParquetTable(spark, str(tmp_path / "m"))
    schema = "id string, content string"
    for b in range(3):
        insert_if_absent(
            t, spark.createDataFrame([(f"m{b}", f"c{b}")], schema), ["id"], batch_id=b
        )
    # v2's commit vacuumed v0, whose file v1 and v2 still link
    with pytest.raises(ValueError, match="not retained"):
        t.read_version(0)
    assert sorted(r.id for r in t.read_version(1).collect()) == ["m0", "m1"]
    assert sorted(r.id for r in t.read().collect()) == ["m0", "m1", "m2"]


def test_replayed_batch_id_writes_nothing(spark, tmp_path):
    import os

    t = ParquetTable(spark, str(tmp_path / "m"))
    schema = "id string, content string"
    insert_if_absent(t, spark.createDataFrame([("m1", "a")], schema), ["id"], batch_id=0)
    b1 = spark.createDataFrame([("m2", "b")], schema)
    insert_if_absent(t, b1, ["id"], batch_id=1)
    listing = sorted(os.listdir(t.path)), sorted(os.listdir(_vdir(t, 1)))
    insert_if_absent(t, b1, ["id"], batch_id=1)
    assert t.current_version() == 1
    assert (sorted(os.listdir(t.path)), sorted(os.listdir(_vdir(t, 1)))) == listing


def test_crash_before_pointer_swap_keeps_old_version(spark, tmp_path, monkeypatch):
    import pytest

    from farmrpg_etl_spark.sinks import writers

    t = ParquetTable(spark, str(tmp_path / "m"))
    schema = "id string, content string"
    insert_if_absent(t, spark.createDataFrame([("m1", "a")], schema), ["id"], batch_id=0)

    def crash(*a, **k):
        raise OSError("crash before the pointer swap")

    with monkeypatch.context() as m:
        m.setattr(writers.os, "replace", crash)
        with pytest.raises(OSError, match="pointer swap"):
            insert_if_absent(
                t, spark.createDataFrame([("m2", "b")], schema), ["id"], batch_id=1
            )
    assert t.current_version() == 0
    assert t.last_batch_id() == 0
    assert [r.id for r in t.read().collect()] == ["m1"]
    # the next commit replaces the half-written version directory
    insert_if_absent(t, spark.createDataFrame([("m3", "c")], schema), ["id"], batch_id=1)
    assert t.current_version() == 1
    assert sorted(r.id for r in t.read().collect()) == ["m1", "m3"]


def test_append_rejects_type_drift(spark, tmp_path):
    import pytest

    t = ParquetTable(spark, str(tmp_path / "m"))
    insert_if_absent(t, spark.createDataFrame([(1, 10)], "k long, v int"), ["k"], batch_id=0)
    with pytest.raises(ValueError, match="column types"):
        insert_if_absent(
            t, spark.createDataFrame([(2, 1.5)], "k long, v double"), ["k"], batch_id=1
        )
    snaps = ParquetTable(spark, str(tmp_path / "s"))
    schema = "user_id long, ts timestamp, username string"
    append_snapshots_with_noop_elimination(
        snaps, spark.createDataFrame([(1, ts("2024-01-01 00:00:00"), "a")], schema),
        ["user_id"], "ts", batch_id=0,
    )
    with pytest.raises(ValueError, match="column types"):
        append_snapshots_with_noop_elimination(
            snaps,
            spark.createDataFrame(
                [(1, ts("2024-01-02 00:00:00"), 7)], "user_id long, ts timestamp, username int"
            ),
            ["user_id"], "ts", batch_id=1,
        )
    assert t.current_version() == 0 and snaps.current_version() == 0


def test_stored_schema_equals_inferred_for_every_writer(spark, tmp_path):
    import os

    schema = "room string, id string, content string, deleted boolean, flags int"
    rows = [("r", "1", "a", False, 1), ("r", "2", "b", True, None)]
    batch = spark.createDataFrame(rows, schema)
    t = ParquetTable(spark, str(tmp_path / "t"))
    insert_if_absent(t, batch, ["id"], batch_id=0)
    insert_if_absent(t, spark.createDataFrame([("r", "3", "c", False, 2)], schema),
                     ["id"], batch_id=1)
    merge_update(t, batch.withColumn("flags", batch.flags + 1), ["id"], ["flags"],
                 batch_id=2)
    partial_document_update(t, batch, ["room", "id"], always_cols=["content"],
                            conditional_cols={}, batch_id=3)
    upsert(t, batch, ["id"], update_cols=["content"], batch_id=4)
    snaps = ParquetTable(spark, str(tmp_path / "s"))
    sschema = "user_id long, ts timestamp, username string, is_ranger boolean"
    for b, role in enumerate([False, True]):
        append_snapshots_with_noop_elimination(
            snaps,
            spark.createDataFrame([(1, ts(f"2024-01-0{b + 1} 00:00:00"), "a", role)], sschema),
            ["user_id"], "ts", batch_id=b,
        )
    for table, n_versions in ((t, 5), (snaps, 2)):
        assert table.current_version() == n_versions - 1
        for v in (n_versions - 2, n_versions - 1):
            vdir = _vdir(table, v)
            assert os.path.exists(os.path.join(vdir, "_SCHEMA"))
            assert table.read_version(v).schema == spark.read.parquet(vdir).schema
    # a version written before schemas were stored is read by inference
    os.remove(os.path.join(_vdir(t, 4), "_SCHEMA"))
    assert t.read().schema == spark.read.parquet(_vdir(t, 4)).schema
    assert t.read().count() == 3
