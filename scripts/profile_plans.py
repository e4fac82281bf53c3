"""Optimization profiling harness.

Times registry queries exactly as bench.py's headline block does
(``bench.timed``: noop sink, cold run then min-of-2 steady;
``bench.release`` between rows) and captures ``explain('formatted')``
for each into plans/<name>_<tag>.txt. Put the round and the side of the
change in the tag, e.g. ``--tag r19_before``. The per-session counters
in a plan (expression ids ``#<n>``, exchange ``plan_id=<n>``, lambda
variables ``x_<n>``/``y_<n>``) are masked before it is written, so the
plans of two tags compare with plain ``diff``.

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/profile_plans.py --tag r19_before q1_pricing_summary ...
    python scripts/profile_plans.py --tag r19_before --no-plan <names...>   # time only
    python scripts/profile_plans.py --tag r19_before --plan-only <names...> # plans only
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

# counters that differ between two builds of the same query in one session
_IDS = re.compile(r"(#|plan_id=)\d+")
_LAMBDA_VARS = re.compile(r"\b([xy])_\d+\b")


def mask_counters(plan: str) -> str:
    return _LAMBDA_VARS.sub(r"\1_<n>", _IDS.sub(r"\1<n>", plan))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")

    from farmrpg_etl_spark.queries import QUERIES
    from farmrpg_etl_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    plans_dir = os.path.join(ROOT, "plans")
    os.makedirs(plans_dir, exist_ok=True)

    def run(name: str) -> None:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        bench.run_row(spark, name, args.sf_dir)
        spark.sparkContext.setJobDescription(None)

    run(bench.WARMUP_ROW)
    bench.release(spark)

    total = 0.0
    for name in args.names if not args.plan_only else []:
        secs, _ = bench.timed(lambda: run(name), 3)
        best = min(secs[1:])
        total += best
        print(f"{best:8.3f}s (cold {secs[0]:7.3f}s)  {name}", flush=True)
        bench.release(spark, gc=True)
    print(f"{total:8.3f}s TOTAL (steady best)")

    # Plan capture LAST: explainString re-builds each query (persisting
    # operator intermediates and, for eager rows, executing them) —
    # interleaving it with the timing loop poisoned later timings
    # (minhash steady 14.2 s interleaved vs 1.8 s clean).
    if not args.no_plan:
        for name in args.names:
            df = QUERIES[name](spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(mask_counters(plan))
            bench.release(spark)


if __name__ == "__main__":
    main()
