"""The benchmark's workloads.

Each workload drives the program only through its public functions:
``sources.landing.land_poll_sweep`` / ``read_landing``, the
``plans.topology`` pipelines, the ``sinks.writers`` writers and
``queries.QUERIES``. A workload has four steps: ``setup`` (inputs,
seeding, warm-up), ``prepare`` + ``op`` (one closed-loop operation; only
``op`` is timed), and ``check`` (correctness, untimed).
"""

from __future__ import annotations

import contextlib
import os
import time

from bench import HEADLINE
from perfbench.gen import WINDOW, ChatWorld, Sweep, history_frames, write_tables
from perfbench.verify import check_query, check_sinks

STREAM_TIMEOUT_S = 60


class NoTracer:
    def span(self, layer: str, name: str):
        return contextlib.nullcontext()

    def add_progress(self, query) -> None:
        pass


def await_stream(query) -> None:
    """Wait for an availableNow query to drain; raise if it failed or
    did not finish (a partial sink must not pass as a result)."""
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"streaming query did not drain in {STREAM_TIMEOUT_S}s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))


class Workload:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = NoTracer()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def install_tracer(self, tracer):
        """Trace the next operations; returns the undo function."""
        self.tracer = tracer

        def undo() -> None:
            self.tracer = NoTracer()

        return undo

    def count_ops(self, ops: list[dict], problems: list[str]) -> tuple[int, int]:
        """(attempted, failed) operations. The sink end state is
        cumulative, so a failed check fails every operation."""
        if problems:
            return len(ops), len(ops)
        return len(ops), sum(not o["ok"] for o in ops)


class ServiceSteady(Workload):
    """Back-to-back service cycles: land one sweep, run E1 and E2 with
    persistent checkpoints, then E3 over the cycle's profile payloads,
    into sinks seeded with a large history."""

    HISTORY_ROWS = 200_000
    # The JVM compiles the engine's hot paths over the first ~8 cycles:
    # started cold, real cycles take 22.8, 12.4, 12.0, 11.1, 10.9, 10.9
    # and 10.0 s on 4 cores. A cycle's cost is mostly per-cycle overhead,
    # not data, so the warm-up first runs cycles of a small copy of the
    # service — the same plans and code paths on a 10-message window and
    # a 10⁴-row history — then the real service's first cycle, which
    # observes every message of its windows once. Measured cycles are
    # then flat (9.1-9.4 s).
    SMALL_CYCLES = 3

    def __init__(self, spark, work: str, seed: int, window: int = WINDOW,
                 history_rows: int = HISTORY_ROWS):
        from farmrpg_etl_spark.sinks.writers import ParquetTable

        super().__init__(spark, work, seed)
        self.world = ChatWorld(seed, window)
        self.history_rows = history_rows
        self.landing = self.path("landing")
        self.tables = {
            n: ParquetTable(spark, self.path("sinks", n))
            for n in ("messages", "chat_docs", "users", "user_snapshots")
        }
        self.sweeps: list[Sweep] = []

    def setup(self) -> None:
        small = ServiceSteady(self.spark, self.path("warmup"), self.seed, 10, 10_000)
        small.seed_history()
        for _ in range(self.SMALL_CYCLES):
            small.op(small.prepare())
        self.seed_history()
        self.op(self.prepare())

    def seed_history(self) -> None:
        from farmrpg_etl_spark.sinks.writers import insert_if_absent

        msgs, docs = history_frames(self.spark, self.history_rows, self.seed)
        insert_if_absent(self.tables["messages"], msgs, ["id"])
        insert_if_absent(self.tables["chat_docs"], docs, ["room", "id"])
        self.history = {"messages": msgs, "chat_docs": docs}

    def prepare(self) -> Sweep:
        return self.world.sweep()

    def op(self, sweep: Sweep) -> None:
        from farmrpg_etl_spark.plans import topology
        from farmrpg_etl_spark.sources.landing import land_poll_sweep, read_landing

        t, spark, tables = self.tracer, self.spark, self.tables
        with t.span("sources", "land"):
            land_poll_sweep(spark, self.landing, sweep.specs, sweep.fetcher, sweep.fetch_ts)
        self._stream("e1", lambda: topology.chat_pipeline_streaming(
            spark, self.landing, tables["messages"], tables["chat_docs"],
            checkpoint_dir=self.path("ckpt_e1")))
        self._stream("e2", lambda: topology.flags_pipeline_streaming(
            spark, self.landing, tables["messages"], checkpoint_dir=self.path("ckpt_e2")))
        with t.span("plans", "e3"):
            payloads = self._landed(read_landing(spark, self.landing), [sweep], "profile")
            topology.user_pipeline_batch(
                payloads, tables["users"], tables["user_snapshots"],
                batch_id=len(self.sweeps))
        self.sweeps.append(sweep)

    def _stream(self, name: str, start) -> None:
        """Build and start one availableNow pipeline, wait for it."""
        t = self.tracer
        with t.span("plans", name):
            with t.span("plans", f"{name}.build"):
                query = start()
            with t.span("streaming", f"{name}.run"):
                await_stream(query)
        t.add_progress(query)

    @staticmethod
    def _landed(payloads, sweeps: list[Sweep], source: str):
        """The landed payload rows of ``source`` from ``sweeps``."""
        from pyspark.sql import functions as F

        stamps = [F.to_timestamp(F.lit(s.fetch_ts.strftime("%Y-%m-%d %H:%M:%S"))) for s in sweeps]
        return payloads.filter((F.col("source") == source) & F.col("fetch_ts").isin(stamps))

    def check(self) -> list[str]:
        return check_sinks(self.tables, self.world.truth, self.history)

    def install_tracer(self, tracer):
        from perfbench.trace import install_service_wraps

        undo_self = super().install_tracer(tracer)
        undo_wraps = install_service_wraps(tracer)

        def undo() -> None:
            undo_wraps()
            undo_self()

        return undo

    def trace_metrics(self, tracer, n: int) -> tuple[dict, list[str]]:
        """The traced cycles' chat payloads through parse_payloads on
        their own (so parse is not charged to the sinks that re-run it),
        landing volume, and what the generator says CDC must emit."""
        from pyspark.sql import functions as F

        from farmrpg_etl_spark.parse.stage import parse_payloads
        from farmrpg_etl_spark.sources.landing import read_landing

        sweeps = self.sweeps[-n:]
        chat = self._landed(read_landing(self.spark, self.landing), sweeps, "chat")
        t0 = time.time()
        counts = dict(parse_payloads(chat, "chat")
                      .groupBy(F.col("_error").isNull()).count().collect())
        busy = time.time() - t0
        msgs = counts.get(True, 0)  # a quarantined payload yields one error row
        m = {
            "parse.busy_s": busy / n, "parse.msgs": msgs / n,
            "parse.quarantined": counts.get(False, 0) / n, "parse.msgs_per_s": msgs / busy,
            "cdc.expected": sum(s.changes for s in sweeps) / n,
            "sources.payloads": sum(len(s.specs) for s in sweeps) / n,
            "sources.payload_bytes": sum(s.payload_bytes for s in sweeps) / n,
        }
        want = sum(s.observations for s in sweeps)
        problems = [] if msgs == want else [f"parse: {msgs} observations, generator says {want}"]
        return m, problems


class QueryHeadline(Workload):
    """Repeated passes over the 12 headline rows, each built with
    ``QUERIES[name]`` and executed into the ``noop`` sink."""

    SF = 0.01

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.tables_dir = self.path("tables")
        self.row_s: dict[str, list[float]] = {n: [] for n in HEADLINE}
        self.row_failed: dict[str, int] = {n: 0 for n in HEADLINE}
        # row name → (columns, rows) of the warm-up pass, or its error
        self.results: dict[str, tuple | str] = {}

    def setup(self) -> None:
        """Write the tables, then warm up with one pass that collects
        every row's result. :meth:`check` compares those results with
        the DuckDB oracles after the measured phase, so neither DuckDB
        nor hashing is part of set-up. (A second, noop warm-up pass did
        not flatten the passes after it: the JVM keeps compiling for
        several passes, and each pass is still 4-10% faster than the one
        before.)"""
        from farmrpg_etl_spark.queries import QUERIES

        write_tables(self.tables_dir, self.seed, self.SF)
        for name in HEADLINE:
            try:
                df = QUERIES[name](self.spark, self.tables_dir)
                self.results[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            except Exception as e:  # a row that cannot run fails its check
                self.results[name] = f"error: {str(e)[:200]}"
            self.spark.catalog.clearCache()

    def prepare(self) -> None:
        return None

    def op(self, _=None) -> None:
        from farmrpg_etl_spark.queries import QUERIES

        t = self.tracer
        for name in HEADLINE:
            t0 = time.time()
            try:
                with t.span("queries", f"build.{name}"):
                    df = QUERIES[name](self.spark, self.tables_dir)
                with t.span("queries", f"exec.{name}"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                self.row_failed[name] += 1
            self.row_s[name].append(time.time() - t0)
            # persisted intermediates of one row must not leak into the next
            self.spark.catalog.clearCache()

    def trace_metrics(self, tracer, n: int) -> tuple[dict, list[str]]:
        m = {}
        for name in HEADLINE:
            build, run = tracer.wall("queries", f"build.{name}"), tracer.wall("queries", f"exec.{name}")
            m[f"queries.{name}_s"] = (build + run) / n
            m["queries.build_s"] = m.get("queries.build_s", 0.0) + build / n
            m["queries.exec_s"] = m.get("queries.exec_s", 0.0) + run / n
        return m, []

    def count_ops(self, ops: list[dict], problems: list[str]) -> tuple[int, int]:
        """Each row execution is an operation."""
        return sum(len(v) for v in self.row_s.values()), sum(self.row_failed.values())

    def check(self) -> list[str]:
        """Every row against its oracle; a row that fails the check
        fails all its executions."""
        bad = self._check_oracles()
        for name in bad:
            self.row_failed[name] = len(self.row_s[name])
        return [f"{name}: {p}" for name, p in bad.items()]

    def _check_oracles(self) -> dict[str, str]:
        """Row name → problem, for every row whose warm-up result differs
        from its DuckDB oracle."""
        import duckdb

        from farmrpg_etl_spark.oracles import ORACLES

        con = duckdb.connect()
        con.sql(f"SET threads TO {os.cpu_count() or 1}")
        for name in os.listdir(self.tables_dir):
            view = name.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM '{os.path.join(self.tables_dir, name)}'")
        bad = {}
        for name in HEADLINE:
            result = self.results[name]
            try:
                p = result if isinstance(result, str) else check_query(con, ORACLES[name], *result)
            except duckdb.Error as e:
                p = f"oracle error: {str(e)[:200]}"
            if p is not None:
                bad[name] = p
        con.close()
        return bad


WORKLOADS = {
    "service_steady": ServiceSteady,
    "query_headline": QueryHeadline,
}
