"""Benchmark entry point.

    python3 perfbench/run.py --workload service_steady --seed 1 --seconds 12 --trace 0

Run it from the repository root, never alongside pytest or another
Spark session. It builds its inputs from ``--seed``, sets up and warms
the workload, measures closed-loop operations for ``--seconds``,
checks the outputs for correctness and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1`` first
measures untraced, then measures again with layer tracing on, and
reports the per-layer metrics instead; its full breakdown is written
to ``perfbench/_out/``. The exit code is non-zero if any operation
failed or any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.time()  # process start: set-up time counts from here
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rss_peak_mb": "MB",
}
# fixed-size driver heap: a heap that grows with GC heuristics makes the
# process tree's resident memory differ from run to run
HEAP = "2g"
LAYERS = ("sources", "parse", "streaming", "plans", "sinks", "queries")
EXEC_METRICS = {
    "tasks": "count", "executor_cpu_s": "s", "executor_run_s": "s", "shuffle_bytes": "B",
    "spill_bytes": "B", "gc_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import HEADLINE

    units = {
        "sources.land_s": "s", "sources.payloads": "count", "sources.payload_bytes": "B",
        "parse.busy_s": "s", "parse.msgs": "count", "parse.quarantined": "count",
        "parse.msgs_per_s": "1/s",
        "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
        "streaming.planning_s": "s", "streaming.offsets_s": "s",
        "streaming.query_start_s": "s", "streaming.state_rows": "count",
        "streaming.state_mem_bytes": "B", "streaming.state_update_s": "s",
        "streaming.state_commit_s": "s",
        "cdc.emitted": "count", "cdc.emit_ratio": "ratio",
        "plans.e1_s": "s", "plans.e2_s": "s", "plans.e3_s": "s",
        "sinks.k1_insert_s": "s", "sinks.k4_doc_update_s": "s",
        "sinks.k2_flags_update_s": "s", "sinks.k3_upsert_s": "s",
        "sinks.k3_snapshot_s": "s", "sinks.commits": "count",
        "sinks.rows_written": "count", "sinks.rows_changed": "count",
        "sinks.write_amp": "ratio", "sinks.bytes_written": "B",
        "sinks.replay_skips": "count",
        "queries.build_s": "s", "queries.exec_s": "s",
    }
    units.update({f"queries.{n}_s": "s" for n in HEADLINE})
    for layer in LAYERS:
        units.update({f"{layer}.{m}": u for m, u in EXEC_METRICS.items()})
    # parse runs inside the sink spans that re-execute it, so it has no
    # span of its own; harness is the time between operations
    for layer in ("sources", "streaming", "plans", "sinks", "queries", "harness"):
        units[f"{layer}.self_s"] = "s"
    units.update({
        "trace.wall_s": "s", "trace.overhead_s": "s",
        "proc.cpu_s": "s", "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s",
        "proc.python_cpu_s": "s", "proc.rss_peak_mb": "MB", "proc.jvm_heap_peak_mb": "MB",
    })
    return units


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(workload: str, work: str, trace: bool) -> None:
    """Environment for the driver, the JVM and the Python workers. All
    scratch space stays inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    time.tzset()
    # Python workers import farmrpg_etl_spark and perfbench from the root
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    if workload == "query_headline":
        os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"] = "4m"  # as bench.py
    else:
        os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    submit = f'--driver-java-options "-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
    if trace:
        from perfbench.trace import eventlog_conf

        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += " " + eventlog_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"


def measure(wl, seconds: float, meter) -> list[dict]:
    """Closed loop: start the next operation only after the previous one
    returned, until ``seconds`` have passed (at least one operation)."""
    ops: list[dict] = []
    begin = time.time()
    while not ops or time.time() - begin < seconds:
        arg = wl.prepare()
        t0 = time.time()
        ok = True
        try:
            wl.op(arg)
        except Exception:
            traceback.print_exc()
            ok = False
        ops.append({"t0": t0, "t1": time.time(), "ok": ok})
        meter.sample()
    return ops


def summarize(ops: list[dict], rss_peak: float, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(o["t1"] - o["t0"] for o in ops),
        "rss_peak_mb": rss_peak,
    }


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers; wait for all."""
    from perfbench import procstat

    children = [p for p in procstat.tree() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def traced_metrics(wl, tracer, ops, untraced_ops, meter) -> tuple[dict, list[str]]:
    """Per-layer metrics of the traced phase, per operation, from the
    spans, the streaming progress and the process tree (the event log
    is added by :func:`add_eventlog` once Spark has stopped)."""
    from perfbench.trace import progress_summary

    n = len(ops)
    m: dict[str, float] = {}
    for (layer, name) in {(s["layer"], s["name"]) for s in tracer.spans}:
        m[f"{layer}.{name}_s"] = tracer.wall(layer, name) / n
    for layer, sec in tracer.self_times().items():
        m[f"{layer}.self_s"] = sec / n
    m["trace.wall_s"] = tracer.wall("harness", "phase") / n
    wall = lambda xs: statistics.median(o["t1"] - o["t0"] for o in xs)  # noqa: E731
    m["trace.overhead_s"] = wall(ops) - wall(untraced_ops)
    for k, v in tracer.counts.items():
        m[k] = v / n
    if tracer.progress:
        prog = progress_summary(tracer.progress)
        for k, v in prog.items():
            m[f"streaming.{k}"] = v if k in ("state_rows", "state_mem_bytes") else v / n
        pipelines = tracer.wall("plans", "e1") + tracer.wall("plans", "e2")
        m["streaming.query_start_s"] = (pipelines - prog["trigger_s"]) / n
    cpu = meter.cpu()
    for kind in ("driver", "jvm", "python"):
        m[f"proc.{kind}_cpu_s"] = cpu[kind] / n
    m["proc.cpu_s"] = cpu["total"] / n
    m["proc.rss_peak_mb"] = meter.peak_mb
    extra, problems = wl.trace_metrics(tracer, n)
    m.update(extra)
    return m, problems


def add_eventlog(m: dict, log_dir: str, ops: list[dict]) -> list[str]:
    """Fold the event log into ``m``; check the CDC emit count against
    the generator's."""
    from perfbench.trace import read_eventlog

    n = len(ops)
    layers, counts = read_eventlog(log_dir, ops[0]["t0"], ops[-1]["t1"])
    for layer, ms in layers.items():
        for k, v in ms.items():
            m[f"{layer}.{k}"] = v / n
    for k, v in counts.items():
        m[k] = v / n
    if m.get("sinks.rows_changed"):
        m["sinks.write_amp"] = m.get("sinks.rows_written", 0.0) / m["sinks.rows_changed"]
    if "cdc.expected" not in m:
        return []
    emitted = m.get("cdc.emitted", 0.0)
    m["cdc.emit_ratio"] = emitted / m["parse.msgs"]
    if emitted != m["cdc.expected"]:
        return [f"cdc: {emitted} changes emitted per operation, generator says {m['cdc.expected']}"]
    return []


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "farmrpg_etl_spark")):
        print(f"perfbench: no farmrpg_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from perfbench.workloads import WORKLOADS

    trace = bool(args.trace)
    configure_env(args.workload, work, trace)

    import pyspark

    from farmrpg_etl_spark.session import get_spark
    from perfbench import procstat

    phases: dict[str, float] = {}
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        setup_s = time.time() - T_START
        meter = procstat.Meter()
        ops = measure(wl, args.seconds, meter)
        meter.sample()
        metrics = summarize(ops, meter.peak_mb, setup_s)
        phases["steal_frac"] = meter.steal_frac()
        problems: list[str] = []
        untraced = ops
        if trace:
            from perfbench.trace import HeapPeak, Tracer

            tracer = Tracer(spark)
            heap = HeapPeak(spark)
            undo = wl.install_tracer(tracer)
            meter = procstat.Meter()
            heap.reset()
            with tracer.span("harness", "phase"):
                ops = measure(wl, args.seconds, meter)
            meter.sample()
            heap_mb = heap.peak_mb()
            undo()
        t_check = time.time()
        problems += wl.check()
        phases["check_s"] = time.time() - t_check
        if trace:
            layer, truth = traced_metrics(wl, tracer, ops, untraced, meter)
            layer["proc.jvm_heap_peak_mb"] = heap_mb
            problems += truth
    finally:
        t_stop = time.time()
        stop_spark(spark)
        phases["stop_s"] = time.time() - t_stop
    if trace:
        problems += add_eventlog(layer, os.path.join(work, "eventlog"), ops)
        ops = untraced + ops
    attempted, failed = wl.count_ops(ops, problems)
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": nproc(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__, "ops": len(ops), "setup_s": round(metrics["setup_s"], 3),
        "op_s": [round(o["t1"] - o["t0"], 3) for o in ops],
        **{k: round(v, 3) for k, v in phases.items()},
    }
    for p in problems:
        print(f"perfbench: FAILED CHECK {p}", file=sys.stderr)
    if trace:
        units = per_layer_units()
        out = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
        os.makedirs(os.path.join(HERE, "_out"), exist_ok=True)
        artifact = os.path.join(HERE, "_out", f"{args.workload}-seed{args.seed}-trace.json")
        with open(artifact, "w") as f:
            json.dump({"env": env, "end_to_end": metrics, "per_layer": layer,
                       "problems": problems, "spans": tracer.spans}, f, indent=1, default=str)
    else:
        out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(env), file=sys.stderr)
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted, "failed": failed, "metrics": out,
    }))
    return 0 if not problems and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
