"""Tracing for ``--trace 1`` runs: layer spans, Spark event-log
attribution and streaming-progress counters.

Spans live in memory and are summarised once at the end. Each span
sets the Spark job description ``perfbench <layer>/<name>`` for its
duration, so every job in the event log names the span that ran it.
Sink writers and the CDC hand-off are wrapped where
``plans.topology`` binds them; the program's own modules are not
edited.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

DESC_KEY = "spark.job.description"
PREFIX = "perfbench "

# sink writers as plans.topology binds them → per-layer metric name
SINK_WRAPS = {
    "insert_if_absent": "k1_insert",
    "partial_document_update": "k4_doc_update",
    "merge_update": "k2_flags_update",
    "upsert": "k3_upsert",
    "append_snapshots_with_noop_elimination": "k3_snapshot",
}
# physical operators whose stages are charged to a layer other than the
# span's: the parse stage (mapInPandas) and the CDC state operator
STAGE_LAYERS = (
    ("MapInPandas", "parse"),
    ("FlatMapGroupsInPandasWithState", "streaming"),
    ("TransformWithStateInPandas", "streaming"),
)
EVENT_METRICS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.output.recordsWritten": ("rows_written", 1),
    "internal.metrics.output.bytesWritten": ("bytes_written", 1),
}
OUTPUT_METRICS = ("rows_written", "bytes_written")


class Tracer:
    """Nested wall-clock spans on one global stack.

    foreachBatch handlers run on a py4j callback thread while the main
    thread waits in ``awaitTermination``, so the stack is shared across
    threads: a handler's span nests under whatever span is open."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = {"layer": layer, "name": name, "child_s": 0.0}
            self._stack.append(sp)
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setJobDescription(f"{PREFIX}{layer}/{name}")
        sp["t0"] = time.time()
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            self.sc.setLocalProperty(DESC_KEY, prev)
            with self._lock:
                self._stack.remove(sp)
                if parent is not None:
                    parent["child_s"] += sp["t1"] - sp["t0"]
                self.spans.append(sp)

    def wall(self, layer: str, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans
                   if s["layer"] == layer and s["name"] == name)

    def self_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["t1"] - s["t0"] - s["child_s"]
        return dict(out)

    def add_progress(self, query) -> None:
        self.progress.extend(json.loads(p.json) for p in query.recentProgress)


def install_service_wraps(tracer: Tracer):
    """Wrap the sink writers as ``plans.topology`` binds them: each call
    becomes a ``sinks/<kN>`` span, and a commit or a replay-guard skip
    is counted from the table version. Returns an undo function."""
    from farmrpg_etl_spark.plans import topology

    saved = {name: getattr(topology, name) for name in SINK_WRAPS}

    def make(real, metric: str):
        def wrapper(table, batch, *args, **kwargs):
            v0 = table.current_version()
            with tracer.span("sinks", metric):
                real(table, batch, *args, **kwargs)
            done = table.current_version() != v0
            tracer.counts["sinks.commits" if done else "sinks.replay_skips"] += 1

        return wrapper

    for name, metric in SINK_WRAPS.items():
        setattr(topology, name, make(saved[name], metric))

    def undo() -> None:
        for name, fn in saved.items():
            setattr(topology, name, fn)

    return undo


# -- Spark event log ---------------------------------------------------------


def eventlog_conf(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` fragment that turns on an uncompressed
    event log (the default zstd codec is unreadable without the
    ``zstandard`` module)."""
    return (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false"
    )


def _layer_of(desc: str | None) -> str | None:
    if desc and desc.startswith(PREFIX):
        return desc[len(PREFIX):].split("/", 1)[0]
    return None


def _plan_metrics(node: dict, out: list) -> None:
    for m in node.get("metrics", []):
        out.append((node["nodeName"], m["name"], m["accumulatorId"]))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_eventlog(log_dir: str, t0: float, t1: float) -> tuple[dict, dict]:
    """Summarise the jobs and SQL executions started between ``t0`` and
    ``t1`` (epoch seconds). Returns ``(layers, counts)``.

    ``layers``: per layer, task counts and executor metrics. A job is
    charged to the layer of the span that submitted it; within sink and
    plan spans, a stage that runs the parse or CDC operator is charged
    to that layer instead, except for the files it writes. Jobs that no
    span submitted go to ``streaming`` if a streaming query ran them,
    else ``harness``.

    ``counts``: rows the upstream handed to the sink writers — the
    foreachBatch frame (``Scan ExistingRDD``) or the batch pipeline's
    parse output (``MapInPandas``) read inside a sink span — in total
    (``sinks.rows_changed``) and for K1 alone, which sees each CDC
    change once (``cdc.emitted``)."""
    lo, hi = t0 * 1000, t1 * 1000
    stage_layer: dict[int, str] = {}
    stages: dict[int, dict] = {}
    exec_desc: dict[int, str] = {}
    exec_accs: dict[int, list] = defaultdict(list)
    acc_value: dict[int, float] = defaultdict(float)
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in sorted(fs)
             if f.startswith("events_")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    if not lo <= ev.get("Submission Time", 0) <= hi:
                        continue
                    props = ev.get("Properties") or {}
                    desc = props.get(DESC_KEY)
                    layer = _layer_of(desc) or (
                        "streaming" if "sql.streaming.queryId" in props else "harness")
                    for sid in ev["Stage IDs"]:
                        stage_layer[sid] = layer
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = info
                    for acc in info.get("Accumulables", []):
                        try:
                            v = float(acc.get("Value", 0))
                        except (TypeError, ValueError):
                            continue
                        acc_value[acc["ID"]] = max(acc_value[acc["ID"]], v)
                elif kind.endswith("SQLExecutionStart"):
                    if lo <= ev.get("time", 0) <= hi:
                        exec_desc[ev["executionId"]] = ev.get("description") or ""
                        _plan_metrics(ev["sparkPlanInfo"], exec_accs[ev["executionId"]])
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev["sparkPlanInfo"], exec_accs[ev["executionId"]])
                elif kind.endswith("DriverAccumUpdates"):
                    for acc_id, v in ev.get("accumUpdates", []):
                        acc_value[acc_id] = max(acc_value[acc_id], float(v))
    layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sid, job_layer in stage_layer.items():
        info = stages.get(sid)
        if info is None:  # skipped: its output was reused
            continue
        layer = job_layer
        if layer in ("sinks", "plans", "streaming"):
            scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
            layer = next((lay for op, lay in STAGE_LAYERS if op in scopes), layer)
        layers[layer]["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            spec = EVENT_METRICS.get(acc.get("Name"))
            if spec is not None:
                # files written belong to the span that wrote them
                owner = job_layer if spec[0] in OUTPUT_METRICS else layer
                layers[owner][spec[0]] += float(acc.get("Value", 0)) * spec[1]
    counts: dict[str, float] = defaultdict(float)
    for eid, desc in exec_desc.items():
        if _layer_of(desc) != "sinks":
            continue
        # AQE re-plans repeat nodes under new ids; count each id once
        fed = {acc for node, metric, acc in exec_accs[eid]
               if metric == "number of output rows" and node in ("Scan ExistingRDD", "MapInPandas")}
        rows = sum(acc_value[a] for a in fed)
        counts["sinks.rows_changed"] += rows
        if desc.endswith("/k1_insert"):
            counts["cdc.emitted"] += rows
    return {k: dict(v) for k, v in layers.items()}, dict(counts)


# -- JVM heap ----------------------------------------------------------------


class HeapPeak:
    """Peak JVM heap use over a phase: the sum of every heap pool's peak
    since :meth:`reset`. Pools peak at different moments, so this bounds
    the heap's peak from above; unlike the process tree's resident
    memory, it does not follow the heap's configured size."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20


# -- streaming progress ------------------------------------------------------


def progress_summary(progress: list[dict]) -> dict[str, float]:
    """Sum each trigger's phase durations; take state size from the
    last trigger that reports a state operator."""
    out: dict[str, float] = defaultdict(float)
    for p in progress:
        d = p.get("durationMs", {})
        out["trigger_s"] += d.get("triggerExecution", 0) / 1e3
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["offsets_s"] += sum(d.get(k, 0) for k in ("latestOffset", "walCommit", "commitOffsets")) / 1e3
        out["triggers"] += 1
        for op in p.get("stateOperators", []):
            out["state_update_s"] += op.get("allUpdatesTimeMs", 0) / 1e3
            out["state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
            out["state_rows"] = op.get("numRowsTotal", 0)
            out["state_mem_bytes"] = op.get("memoryUsedBytes", 0)
    return dict(out)
