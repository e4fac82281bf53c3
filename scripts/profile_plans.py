"""Optimization profiling harness.

Times registry queries exactly as bench.py does (noop sink, warm run
then min-of-2 steady) and captures ``explain('formatted')`` for each
into plans/<name>_<tag>.txt. Put the round and the side of the change
in the tag, e.g. ``--tag r19_before``.

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/profile_plans.py --tag r19_before q1_pricing_summary ...
    python scripts/profile_plans.py --tag r19_before --no-plan <names...>   # time only
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--steady", type=int, default=2)
    args = ap.parse_args()

    from farmrpg_etl_spark.queries import QUERIES
    from farmrpg_etl_spark.session import get_spark

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")
    os.makedirs(plans_dir, exist_ok=True)

    def run(name: str) -> None:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        QUERIES[name](spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)

    # warm the JVM + parquet footers once (same as bench)
    run("j3_fk_hydrate")
    spark.catalog.clearCache()

    total = 0.0
    for name in args.names if not args.plan_only else []:
        t0 = time.time()
        run(name)
        cold = time.time() - t0
        steady = []
        for _ in range(args.steady):
            t0 = time.time()
            run(name)
            steady.append(time.time() - t0)
        best = min(steady)
        total += best
        print(f"{best:8.3f}s (cold {cold:7.3f}s)  {name}", flush=True)
        spark.catalog.clearCache()
        import gc
        gc.collect()
        spark.sparkContext._jvm.System.gc()
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
                f.write(plan)
            spark.catalog.clearCache()


if __name__ == "__main__":
    main()
