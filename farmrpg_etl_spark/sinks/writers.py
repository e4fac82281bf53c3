"""MERGE-shaped batch sink writers (SURVEY §2.8, K1-K8).

The reference leans on Postgres unique indexes + swallowed violations
(db/chat.py:13-19), correlated UPDATEs (db/chat.py:22-26), an
upsert+append pair (db/user.py:34-40), and partial Firestore document
writes (firestore/chat.py:40-50). In Spark every one of these becomes
a MERGE against sink state executed inside ``foreachBatch`` — and
because ``foreachBatch`` may re-run a batch after failure, every
writer here is idempotent under replay (MERGE-shaped, never blind
append).

Storage: a versioned parquet table (`ParquetTable`) — a directory of
immutable version snapshots plus a pointer file, giving atomic
replace-on-commit and replay safety without external dependencies.
Versions share unchanged data files by hard link: the append-shaped
writers (``insert_if_absent``, ``append_snapshots_with_noop_elimination``)
write only their new rows, as one file, and link the current version's
files into the new version, so an insert costs its batch, not its
table. Each version stores its schema (``_SCHEMA``), so reads declare
it instead of inferring it from the files. On a production cluster the
same writers target Delta/Iceberg tables (real MERGE INTO); the logic
is identical, only `_commit` changes.

Scale notes: every merge is a single join keyed on the table's natural
key (broadcast when the incoming batch is small — the common case for
micro-batches), and rewrite cost is bounded by partition pruning when
the table is partitioned (messages by room/date). No collect() on the
data path.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ParquetTable:
    """Tiny versioned parquet table with atomic pointer commits.

    Each version ``v<n>`` is a directory of parquet files plus a
    ``_SCHEMA`` file holding the version's schema (Spark's reader skips
    ``_``-prefixed files). A version may hard-link data files of the
    version before it, so unchanged rows are never rewritten; deleting
    an old version removes only its links."""

    def __init__(self, spark: SparkSession, path: str, keep_versions: int = 2):
        # keep_versions: retention window for time travel / change
        # feeds — versions older than (current − keep_versions + 1)
        # are pruned at commit, the Delta VACUUM analog. The default
        # keeps current + previous (enough for the replay guards);
        # raise it on tables whose consumers read change feeds or
        # pinned snapshots further back.
        self.spark = spark
        self.path = path
        self.keep_versions = max(2, keep_versions)
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def exists(self) -> bool:
        return self.current_version() >= 0

    def read(self) -> DataFrame | None:
        v = self.current_version()
        if v < 0:
            return None
        return self._read_dir(os.path.join(self.path, f"v{v}"))

    def _read_dir(self, vdir: str) -> DataFrame:
        """Read a version with its stored schema; versions written
        before schemas were stored fall back to inference."""
        try:
            with open(os.path.join(vdir, "_SCHEMA")) as f:
                schema = StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return self.spark.read.parquet(vdir)
        return self.spark.read.schema(schema).parquet(vdir)

    def last_batch_id(self, writer: str = "default") -> int:
        try:
            with open(os.path.join(self.path, f"_LAST_BATCH_{writer}")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _commit(
        self,
        df: DataFrame,
        batch_id: int | None,
        writer: str = "default",
        carry: bool = False,
    ) -> None:
        """Publish ``df`` as the next version. With ``carry`` the new
        version is the current one plus ``df``'s rows: they are written
        as one file and the current version's data files are hard-linked
        in beside it, so an append costs its own rows only. ``df`` must
        then have the table's columns and types (a differing type raises
        ``ValueError``, as in ``upsert``). The pointer swap stays the
        commit point either way."""
        cur = self.read() if carry else None
        if cur is not None:
            df = _conformed(df, cur)
        df = self._enforced(df)
        v = self.current_version() + 1
        out = os.path.join(self.path, f"v{v}")
        (df.coalesce(1) if carry else df).write.mode("overwrite").parquet(out)
        if cur is not None:
            prev = os.path.join(self.path, f"v{v - 1}")
            for name in os.listdir(prev):
                if name.startswith(("part-", ".part-")):  # data files + checksums
                    os.link(os.path.join(prev, name), os.path.join(out, name))
        with open(os.path.join(out, "_SCHEMA"), "w") as f:
            f.write(df.schema.json())
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)  # atomic pointer swap
        if batch_id is not None:
            with open(os.path.join(self.path, f"_LAST_BATCH_{writer}"), "w") as f:
                f.write(str(batch_id))
        old = os.path.join(self.path, f"v{v - self.keep_versions}")
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)

    def compact(
        self, target_partitions: int, sort_by: Sequence[str] | None = None
    ) -> None:
        """Rewrite the current version into ``target_partitions`` files,
        optionally sorted within each file — the periodic maintenance
        job every incrementally-written 100 TB table needs. Each MERGE
        commit writes as many files as its shuffle had partitions;
        thousands of small files degrade scan planning (footer reads,
        task scheduling) and kill row-group min/max pruning. Sorting by
        the common filter column makes each file's row-group stats
        tight, so predicate pushdown skips whole files.

        Same atomic version-pointer commit as every writer: readers see
        the old version until the pointer swaps, and a crashed
        compaction leaves the table untouched."""
        cur = self.read()
        if cur is None:
            return
        out = cur.repartition(target_partitions)
        if sort_by:
            out = out.sortWithinPartitions(*sort_by)
        self._commit(out, None)

    def evolve(self, added: dict[str, tuple[str, object]]) -> None:
        """Additive schema migration under the same atomic pointer
        swap — the engine-side answer to the reference's alembic
        migrations (migrations/versions/a3542154dbaa_firebase_uid_is_
        optional.py:21-24: ALTER TABLE + backfill as one revision).

        ``added`` maps new column name → (Spark SQL type string,
        default). Existing rows are backfilled with the default (cast
        to the declared type; ``None`` gives a nullable column exactly
        like ALTER TABLE ADD COLUMN); later batches carrying the new
        columns merge through the normal writers with no special
        casing, and batches still on the OLD schema keep working via
        ``upsert(..., merge_schema=True)`` semantics in reverse — the
        writer sees the stored column and the batch without it.

        Only ADD is supported, matching the safe subset of Delta's
        schema evolution: dropping or retyping a column on a 100 TB
        table is a full rewrite plus a reader-breaking change, and
        belongs to an explicit backfill job, not a migration one-liner.
        Evolving a name that already exists raises (an alembic
        revision applied twice should fail loudly, not clobber data).

        The backfill itself is a metadata-cheap narrow rewrite: one
        scan, one project, no shuffle — at scale, Delta/Iceberg make
        this a pure metadata operation; here the versioned-parquet
        analog pays one sequential rewrite but keeps the identical
        atomic-commit contract (crash mid-evolve leaves the old
        version current)."""
        cur = self.read()
        if cur is None:
            raise ValueError("cannot evolve an empty table")
        dup = [c for c in added if c in cur.columns]
        if dup:
            raise ValueError(f"columns already exist: {dup}")
        for name, (dtype, default) in added.items():
            cur = cur.withColumn(name, F.lit(default).cast(dtype))
        self._commit(cur, None)

    @property
    def _constraints_path(self) -> str:
        return os.path.join(self.path, "_CONSTRAINTS")

    def not_null_columns(self) -> frozenset[str]:
        """Columns under an enforced NOT NULL constraint. Spark reads
        every parquet column as nullable by design, so NOT NULL is
        table METADATA here (exactly what it is in the reference's
        alembic model: a constraint the engine enforces on write, not
        a property of the stored bytes)."""
        try:
            with open(self._constraints_path) as f:
                return frozenset(json.load(f).get("not_null", []))
        except FileNotFoundError:
            return frozenset()

    def _write_constraints(self, not_null) -> None:
        tmp = self._constraints_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"not_null": sorted(not_null)}, f)
        os.replace(tmp, self._constraints_path)

    def declare_not_null(self, cols: Sequence[str]) -> None:
        """Declare NOT NULL constraints (the CREATE TABLE side of the
        reference's ``nullable=False`` columns). Existing data is
        validated with an early-exit probe; future commits enforce
        inside the write plan itself (zero extra passes)."""
        cur = self.read()
        if cur is not None:
            bad = [c for c in cols if c not in cur.columns]
            if bad:
                raise ValueError(f"columns do not exist: {bad}")
            probe = None
            for c in cols:
                p = F.col(c).isNull()
                probe = p if probe is None else (probe | p)
            if probe is not None and cur.filter(probe).limit(1).count() > 0:
                raise ValueError("existing rows violate NOT NULL")
        self._write_constraints(self.not_null_columns() | set(cols))

    def _enforced(self, df: DataFrame) -> DataFrame:
        """Wrap each constrained column in a null-trap inside the
        write plan: ``coalesce(col, raise_error(...))`` short-circuits
        per row, so enforcement costs nothing on clean data and fails
        the commit (old version stays current) on the first NULL —
        the scale-correct form of a constraint check: no second scan,
        no collect."""
        nn = self.not_null_columns()
        for c in nn:
            if c in df.columns:
                dt = df.schema[c].dataType.simpleString()
                df = df.withColumn(
                    c,
                    F.coalesce(
                        F.col(c),
                        F.raise_error(
                            F.lit(f"NOT NULL constraint violated: {c}")
                        ).cast(dt),
                    ),
                )
        return df

    @property
    def _renames_path(self) -> str:
        return os.path.join(self.path, "_RENAMES")

    def rename_map(self) -> dict[str, str]:
        """Cumulative old→new column rename mapping recorded by
        :meth:`evolve_v2` (the migration history readers/writers of
        old-schema batches consult)."""
        try:
            with open(self._renames_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def apply_renames(self, batch: DataFrame) -> DataFrame:
        """Upgrade an OLD-schema batch to the current column names via
        the recorded rename map — so producers still emitting the
        pre-migration schema keep working through the normal writers
        (the alembic analog of code deploying after the migration)."""
        for old, new in self.rename_map().items():
            if old in batch.columns and new not in batch.columns:
                batch = batch.withColumnRenamed(old, new)
        return batch

    def evolve_v2(
        self,
        relax_nullable: Sequence[str] = (),
        renames: dict[str, str] | None = None,
    ) -> None:
        """Migration v2 (r10 verdict #7): relax NOT NULL and rename
        columns under the same atomic pointer swap and rejection
        discipline as :meth:`evolve`.

        - ``relax_nullable``: the reference's actual second migration
          (migrations/versions/a3542154dbaa_firebase_uid_is_optional
          .py:21-24 — ``alter_column(..., nullable=True)``). NOT NULL
          lives in the table's constraint metadata (see
          :meth:`not_null_columns` — Spark deliberately reads parquet
          as all-nullable), so the relax is a PURE METADATA change:
          one atomic constraint-file swap, zero data movement — the
          same cost profile alembic gets from ALTER TABLE, and what
          Delta/Iceberg do for the identical operation. TIGHTENING
          goes through :meth:`declare_not_null`, which validates
          existing data first.
        - ``renames``: old → new, a metadata-only projection. The
          mapping is persisted cumulatively (``_RENAMES``), published
          BEFORE the data-version pointer swap: a crash in the window
          between map publish and pointer swap leaves the old data
          current with the new map staged — a state this method
          REPAIRS by simply re-running (the old column names are
          still current), while the reverse order would leave renamed
          data with a stale map and make the re-run's existence
          checks fail. Writer-visible inconsistency in the window is
          loud, never silent: a batch upgraded by :meth:`apply_renames`
          against the un-renamed table fails the writers' schema
          checks. Old-schema batches upgrade through
          :meth:`apply_renames`.

        Rejections (applied before any write): relaxing or renaming a
        missing column; renaming onto an existing or duplicate target;
        a rename chain conflicting with ``relax_nullable`` names."""
        cur = self.read()
        if cur is None:
            raise ValueError("cannot evolve an empty table")
        renames = dict(renames or {})
        nn = self.not_null_columns()
        prev_map = self.rename_map()
        # resume detection: a crash between the map publish and the
        # data rewrite leaves every requested rename recorded but the
        # data UN-RENAMED — the old column names must still be current
        # (r12 advice #3: a FULL replay of a completed migration also
        # has the map recorded, but its old names are gone from the
        # data; it must take the loud-failure path below, not commit a
        # silent no-op rewrite as a new version)
        resume = (
            bool(renames)
            and all(prev_map.get(o) == n for o, n in renames.items())
            and all(o in cur.columns for o in renames)
        )
        missing = [
            c for c in list(relax_nullable) + list(renames)
            if c not in cur.columns
        ]
        if missing and not resume:
            raise ValueError(f"columns do not exist: {missing}")
        clobber = [
            n for o, n in renames.items()
            if n in cur.columns and o in cur.columns
        ]
        if clobber:
            raise ValueError(f"rename targets already exist: {clobber}")
        if len(set(renames.values())) != len(renames):
            raise ValueError("duplicate rename targets")
        already = [c for c in relax_nullable if c not in nn]
        if already and not resume:  # migration replayed: fail loudly
            raise ValueError(f"columns already nullable: {already}")
        # 1. publish the merged rename map (re-runnable crash state)
        merged = dict(prev_map)
        merged.update(renames)
        tmp = self._renames_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, self._renames_path)
        # 2. relax constraints (atomic swap; renamed columns follow)
        self._write_constraints(
            {renames.get(c, c) for c in nn if c not in set(relax_nullable)}
        )
        # 3. rewrite data only if names changed (relax is metadata-only)
        if renames:
            out = cur
            for old, new in renames.items():
                out = out.withColumnRenamed(old, new)
            self._commit(out, None)

    def read_version(self, v: int) -> DataFrame:
        """Time-travel read of a retained snapshot (Delta-style
        ``VERSION AS OF``). Retention matches `_commit`'s vacuum: the
        current and previous versions are always readable; older
        snapshots are removed two commits after they are superseded.
        The read is of an IMMUTABLE directory — concurrent writers
        commit new versions and never mutate a published one, so a
        long-running job pinned to a version sees consistent data
        regardless of later merges (the property audits/backfills
        need)."""
        p = os.path.join(self.path, f"v{v}")
        if not os.path.isdir(p):
            raise ValueError(
                f"version {v} not retained (current={self.current_version()})"
            )
        return self._read_dir(p)

    def _already_committed(self, batch_id: int | None, writer: str = "default") -> bool:
        """Replay guard, namespaced per logical writer — different
        streaming queries writing one table have independent batch-id
        sequences."""
        return batch_id is not None and batch_id <= self.last_batch_id(writer)


def _conformed(rows: DataFrame, table: DataFrame) -> DataFrame:
    """``rows`` in ``table``'s column order, for files that will sit
    beside the table's own. Missing or extra columns and changed types
    raise: the stored files cannot be re-typed by an append. Types are
    compared as ``dtypes`` strings, which carry no nullability (parquet
    reads relax it anyway)."""
    have, want = dict(rows.dtypes), dict(table.dtypes)
    if have.keys() != want.keys():
        raise ValueError(
            f"batch columns {sorted(have)} differ from the table's {sorted(want)}"
        )
    type_drift = [(c, want[c], have[c]) for c in want if have[c] != want[c]]
    if type_drift:
        raise ValueError(f"batch changes column types: {type_drift}")
    return rows.select(*table.columns)


def insert_if_absent(
    table: ParquetTable,
    batch: DataFrame,
    key: Sequence[str],
    batch_id: int | None = None,
    writer: str = "default",
) -> None:
    """K1/D3 — MERGE WHEN NOT MATCHED THEN INSERT.

    Reference: INSERT ignoring the unique violation on ``id``
    (db/chat.py:13-19). Replaying the same batch inserts nothing."""
    if table._already_committed(batch_id, writer):
        return
    existing = table.read()
    new_rows = batch.dropDuplicates(list(key))
    if existing is not None:
        new_rows = new_rows.join(
            existing.select(*key), on=list(key), how="left_anti"
        )
    table._commit(new_rows, batch_id, writer, carry=existing is not None)


def merge_update(
    table: ParquetTable,
    updates: DataFrame,
    on: Sequence[str],
    set_cols: Sequence[str],
    batch_id: int | None = None,
    writer: str = "default",
) -> None:
    """K2/J2 — MERGE WHEN MATCHED THEN UPDATE (correlated update).

    Reference: UPDATE message SET flags=? WHERE room/username/ts match
    (db/chat.py:22-26). Unmatched update rows are dropped (the
    reference logs-and-drops them, firestore/chat.py:72-78)."""
    if table._already_committed(batch_id, writer):
        return
    existing = table.read()
    if existing is None:
        return
    upd = updates.dropDuplicates(list(on)).select(
        *on, *[F.col(c).alias(f"__new_{c}") for c in set_cols]
    )
    joined = existing.join(F.broadcast(upd), on=list(on), how="left")
    for c in set_cols:
        joined = joined.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    table._commit(joined.select(*existing.columns), batch_id, writer)


def upsert(
    table: ParquetTable,
    batch: DataFrame,
    key: Sequence[str],
    update_cols: Sequence[str] = (),
    batch_id: int | None = None,
    writer: str = "default",
    merge_schema: bool = False,
) -> None:
    """K3/J4 — MERGE MATCHED UPDATE / NOT MATCHED INSERT (get_or_create,
    db/user.py:34, bots/firebase.py:17-21).

    ``merge_schema=True`` enables Delta-style additive schema
    evolution: columns present in the batch but not the stored table
    are appended to the table schema, with NULL for rows the batch
    didn't touch. Only ADDITIVE evolution is supported — a stored
    column missing from the batch keeps its values (never dropped),
    and a shared column arriving with a DIFFERENT type raises
    ``ValueError`` below (Spark's implicit coercion would otherwise
    silently widen the stored schema), which is exactly the safe
    subset a long-lived 100 TB table wants."""
    if table._already_committed(batch_id, writer):
        return
    incoming = batch.dropDuplicates(list(key))
    existing = table.read()
    if existing is None:
        table._commit(incoming, batch_id, writer)
        return
    type_drift = [
        (c, str(existing.schema[c].dataType), str(incoming.schema[c].dataType))
        for c in incoming.columns
        if c in existing.columns
        and existing.schema[c].dataType != incoming.schema[c].dataType
    ]
    if type_drift:
        raise ValueError(
            "upsert batch changes column types (only additive evolution "
            f"is supported): {type_drift}"
        )
    new_cols = [c for c in incoming.columns if c not in existing.columns]
    if new_cols:
        if not merge_schema:
            raise ValueError(
                f"batch adds columns {new_cols}; pass merge_schema=True "
                "to evolve the table schema additively"
            )
        for c in new_cols:
            existing = existing.withColumn(
                c, F.lit(None).cast(incoming.schema[c].dataType)
            )
    e, i = existing.alias("e"), incoming.alias("i")
    cond = [F.col(f"e.{k}").eqNullSafe(F.col(f"i.{k}")) for k in key]
    joined = e.join(i, cond, "full_outer")
    cols = []
    for c in existing.columns:
        if c in key:
            cols.append(F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}")).alias(c))
        elif c in update_cols and c in incoming.columns:
            cols.append(F.coalesce(F.col(f"i.{c}"), F.col(f"e.{c}")).alias(c))
        elif c in incoming.columns:
            cols.append(F.coalesce(F.col(f"e.{c}"), F.col(f"i.{c}")).alias(c))
        else:
            cols.append(F.col(f"e.{c}").alias(c))
    table._commit(joined.select(*cols), batch_id, writer)


def append_snapshots_with_noop_elimination(
    snapshots: ParquetTable,
    batch: DataFrame,
    key: Sequence[str],
    order_col: str,
    volatile_cols: Sequence[str] = (),
    batch_id: int | None = None,
    writer: str = "default",
) -> None:
    """K3's append half with D4 write elimination: a snapshot equal to
    the key's latest stored snapshot on all non-volatile columns is
    skipped (db/user.py:12-40)."""
    if snapshots._already_committed(batch_id, writer):
        return
    from farmrpg_etl_spark.operators.cdc import noop_eliminate
    from farmrpg_etl_spark.operators.latest import latest_per_key

    existing = snapshots.read()
    candidates = noop_eliminate(batch, key, order_col, volatile_cols)
    if existing is None:
        snapshots._commit(candidates, batch_id, writer)
        return
    compare = [
        c for c in batch.columns
        if c not in key and c != order_col and c not in volatile_cols
    ]
    last = latest_per_key(existing, key, order_col).select(
        *key, *[F.col(c).alias(f"__last_{c}") for c in compare]
    )
    joined = candidates.join(F.broadcast(last), on=list(key), how="left")
    changed = None
    for c in compare:
        diff = ~F.col(c).eqNullSafe(F.col(f"__last_{c}"))
        changed = diff if changed is None else changed | diff
    new_rows = joined.filter(
        F.col(f"__last_{compare[0]}").isNull() | changed
    ).select(*batch.columns)
    snapshots._commit(new_rows, batch_id, writer, carry=True)


def partial_document_update(
    table: ParquetTable,
    batch: DataFrame,
    key: Sequence[str],
    always_cols: Sequence[str],
    conditional_cols: dict[str, object],
    batch_id: int | None = None,
    writer: str = "default",
) -> None:
    """K4 — partial-document writer: update only ``always_cols``, plus
    each ``conditional_cols[col]`` only where its predicate column is
    true — deliberately never clobbering the rest (the reference omits
    ``flags`` always and ``deleted_ts`` unless deleted,
    firestore/chat.py:40-50)."""
    if table._already_committed(batch_id, writer):
        return
    existing = table.read()
    incoming = batch.dropDuplicates(list(key))
    if existing is None:
        existing = incoming.limit(0)
    upd_cols = list(always_cols) + list(conditional_cols)
    upd = incoming.select(
        *key,
        F.lit(True).alias("__present"),
        *[F.col(c).alias(f"__new_{c}") for c in upd_cols],
        *[
            (F.expr(pred) if isinstance(pred, str) else pred).alias(f"__cond_{c}")
            for c, pred in conditional_cols.items()
        ],
    )
    joined = existing.join(F.broadcast(upd), on=list(key), how="full_outer")
    present = F.coalesce(F.col("__present"), F.lit(False))
    cols = []
    for c in existing.columns:
        if c in key:
            cols.append(F.col(c))
        elif c in always_cols:
            cols.append(F.when(present, F.col(f"__new_{c}")).otherwise(F.col(c)).alias(c))
        elif c in conditional_cols:
            cond = present & F.coalesce(F.col(f"__cond_{c}"), F.lit(False))
            cols.append(F.when(cond, F.col(f"__new_{c}")).otherwise(F.col(c)).alias(c))
        else:
            cols.append(F.col(c))  # never clobbered (e.g. flags, K4)
    table._commit(joined.select(*cols), batch_id, writer)


def console_sink(batch: DataFrame, n: int = 20) -> None:
    """K8 — debug console sink (reference __main__.py:37-50)."""
    batch.show(n, truncate=False)


def merge_additive_aggregates(
    table: ParquetTable,
    batch: DataFrame,
    keys: Sequence[str],
    batch_id: int | None = None,
    writer: str = "default",
) -> None:
    """Incremental aggregate maintenance (materialized-view upkeep):
    ``batch`` carries per-key ADDITIVE partial aggregates (counts,
    sums — every non-key column must be summable) and is merged into
    the stored aggregate by key-wise addition. Non-additive stats ride
    as additive parts (avg = sum/n at read time; variance via
    (n, Σx, Σx²)).

    This is the 100 TB answer to "keep a rollup fresh": each
    micro-batch touches the dimension-sized aggregate table only —
    the fact history is never rescanned. Replay-safe via the batch-id
    guard, so a re-delivered ``foreachBatch`` invocation is a no-op
    (blind += on replay would double-count). On Delta/Iceberg the same
    logic is a MERGE INTO with ``+=`` update clauses."""
    if table._already_committed(batch_id, writer):
        return
    value_cols = [c for c in batch.columns if c not in keys]
    partial = batch.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in value_cols]
    )
    existing = table.read()
    if existing is None:
        merged = partial
    else:
        merged = (
            existing.unionByName(partial)
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in value_cols])
        )
    table._commit(merged, batch_id, writer)


def delete_where(
    table: ParquetTable,
    keys: DataFrame,
    key: Sequence[str],
    batch_id: int | None = None,
    writer: str = "default",
) -> None:
    """MERGE WHEN MATCHED THEN DELETE — the tombstone-propagation
    writer a privacy-compliant corpus needs (right-to-be-forgotten:
    the delete set arrives as keys, every matching stored row is
    removed). Replay-idempotent like every writer here: re-deleting an
    absent key is a no-op, so a re-delivered batch converges.

    Scale: one left-anti join keyed on the table's natural key; the
    delete set is typically tiny → broadcast. The commit is the usual
    atomic version swap, so time-travel reads of the PRIOR version
    still see the deleted rows until retention vacuums them — document
    retention windows accordingly in a real deployment."""
    if table._already_committed(batch_id, writer):
        return
    existing = table.read()
    if existing is None:
        return
    remaining = existing.join(
        keys.select(*key).dropDuplicates(list(key)), on=list(key), how="left_anti"
    )
    table._commit(remaining, batch_id, writer)


def version_changes(
    table: ParquetTable,
    v_from: int,
    v_to: int,
    key: Sequence[str],
) -> DataFrame:
    """Change data feed between two committed versions — the Delta CDF
    (``readChangeFeed``) analog: every key whose row differs between
    the snapshots is emitted with ``_change_type`` ∈ {insert, delete,
    update_preimage, update_postimage} (updates emit BOTH images, the
    CDF convention downstream incremental consumers rely on);
    unchanged keys are not emitted.

    This is the read side of incremental pipeline composition: a
    downstream corpus consumer processes the feed instead of diffing
    two 100 TB snapshots itself. Shape: ONE full-outer join keyed on
    the (already co-partitioned-by-write) key columns, a struct
    equality per matched key, and a per-row explode that emits 0-2
    rows — no second pass over either snapshot. Both versions must be
    inside the table's ``keep_versions`` retention window.

    Update detection is NULL-SAFE (``eqNullSafe`` on the value
    structs): a value column flipping to or from SQL NULL is a real
    update and must reach the feed — plain ``!=`` yields NULL for
    such rows and would silently drop them."""
    a = table.read_version(v_from)
    b = table.read_version(v_to)
    vals = [c for c in a.columns if c not in key]
    sa = a.select(*key, F.struct(*vals).alias("__a"))
    sb = b.select(*key, F.struct(*vals).alias("__b"))
    j = sa.join(sb, list(key), "full_outer")
    pre = F.struct(F.lit("update_preimage").alias("t"), F.col("__a").alias("r"))
    post = F.struct(F.lit("update_postimage").alias("t"), F.col("__b").alias("r"))
    ins = F.struct(F.lit("insert").alias("t"), F.col("__b").alias("r"))
    dele = F.struct(F.lit("delete").alias("t"), F.col("__a").alias("r"))
    empty = F.array().cast(
        "array<struct<t:string,r:struct<"
        + ",".join(f"{c}:{dict(a.dtypes)[c]}" for c in vals)
        + ">>>"
    )
    changes = (
        F.when(F.col("__a").isNull(), F.array(ins))
        .when(F.col("__b").isNull(), F.array(dele))
        .when(~F.col("__a").eqNullSafe(F.col("__b")), F.array(pre, post))
        .otherwise(empty)
    )
    out = j.select(*key, F.explode(changes).alias("__c"))
    return out.select(
        F.col("__c.t").alias("_change_type"),
        *key,
        *[F.col(f"__c.r.{c}").alias(c) for c in vals],
    )


def scd2_upsert(
    table: ParquetTable,
    batch: DataFrame,
    key: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    batch_id: int | None = None,
    writer: str = "default",
) -> None:
    """Slowly-changing-dimension TYPE 2 MERGE — the warehouse-standard
    history table: each key's attribute changes append as new versions
    ``(key, attrs, valid_from, valid_to)``; the previously-open
    version is closed (``valid_to`` = the new version's timestamp) and
    the latest version stays open (``valid_to`` NULL). Observations
    equal to the current open version are suppressed (the D4 no-op
    rule), so replaying a batch — or a poller re-observing unchanged
    state — converges.

    Incremental contract: batches arrive in event-time order per key
    (each batch's observations are >= the stored open version's
    ``valid_from``). Late data needs the batch recompute — the oracle
    row pins incremental ≡ batch under the ordered split.

    Shape: the stored OPEN slice (≤1 row/key) joins the batch by
    union + one per-key LAG window — the same fixed-width keyed
    shuffle as the CDC operators; closed history is never rewritten,
    only unioned through (at 100 TB: partition the table by
    open/closed so the closed slice is pruned from the merge scan)."""
    from farmrpg_etl_spark.operators.cdc import _change_predicate

    if table._already_committed(batch_id, writer):
        return
    from pyspark.sql import Window

    obs = batch.select(*key, ts_col, *attr_cols).withColumn(
        "__stored", F.lit(0)
    )
    closed = None
    existing = table.read()
    if existing is not None:
        openr = existing.filter(F.col("valid_to").isNull())
        closed = existing.filter(F.col("valid_to").isNotNull())
        obs = openr.select(
            *key, F.col("valid_from").alias(ts_col), *attr_cols
        ).withColumn("__stored", F.lit(1)).unionByName(obs)
    # Attr tiebreakers make lag/change SUPPRESSION deterministic too:
    # two batch rows sharing (key, ts) with different attrs would
    # otherwise be lag-compared in arbitrary order, changing which
    # observation survives as the no-op (r7 ADVICE #1).
    w = Window.partitionBy(*key).orderBy(
        F.col(ts_col).asc(),
        F.col("__stored").desc(),
        *[F.col(c).asc() for c in attr_cols],
    )
    out = obs
    for c in attr_cols:
        out = out.withColumn(f"__prev_{c}", F.lag(F.col(c)).over(w))
    is_first = F.lag(F.col("__stored")).over(w).isNull()
    ch = out.withColumn(
        "__chg", is_first | _change_predicate(attr_cols)
    ).filter(F.col("__chg"))
    # valid_to ordering carries the SAME tiebreakers as the change
    # window w above: if a batch observation shares its timestamp with
    # the stored open version but differs in attrs, both versions
    # survive with equal valid_from, and ordering by valid_from alone
    # would assign valid_to nondeterministically
    vers = ch.withColumn(
        "valid_to",
        F.lead(F.col(ts_col)).over(
            Window.partitionBy(*key).orderBy(
                F.col(ts_col).asc(),
                F.col("__stored").desc(),
                *[F.col(c).asc() for c in attr_cols],
            )
        ),
    ).select(*key, *attr_cols, F.col(ts_col).alias("valid_from"), "valid_to")
    merged = vers if closed is None else closed.unionByName(vers)
    table._commit(merged, batch_id, writer)
