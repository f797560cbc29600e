#!/usr/bin/env python
"""Profiling harness: time registry queries through the noop sink
(bench methodology: best-of-N, per-query cache isolation) and dump
`.explain("formatted")` to <plans-dir>/<name>_<tag>.txt.

Usage:
    python tools/query_profile.py --plans-dir plans/latest --tag before q1 q2 ...
    python tools/query_profile.py --plans-dir plans/latest --reps 3 --explain-only q1

Keeps the bench's conf (local[$SPARK_GRAFT_CPUS], shuffle=cpus,
1 MB maxPartitionBytes) so walls here are comparable to bench walls.
"""
from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_exercise_spark.plans.registry import all_queries
from big_data_exercise_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-dir", required=True,
                    help="directory the formatted plans are written to")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-only", action="store_true")
    ap.add_argument("--no-explain", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("profile", cpus=cpus, shuffle_partitions=cpus)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
    specs = all_queries()
    os.makedirs(args.plans_dir, exist_ok=True)

    results: dict[str, list[float]] = {}
    for name in args.names:
        spec = specs[name]
        if not args.no_explain:
            df = spec.build(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"))
            path = os.path.join(args.plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"# wrote {path}", file=sys.stderr)
        if args.explain_only:
            continue
        walls = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            df = spec.build(spark, args.sf_dir)
            spark.sparkContext.setJobDescription(f"profile:{name}")
            df.write.format("noop").mode("overwrite").save()
            spark.sparkContext.setJobDescription(None)
            walls.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        results[name] = walls
        print(f"# {name}: best {min(walls):.3f}s of {walls}", file=sys.stderr)
    print(json.dumps({k: min(v) for k, v in results.items()}))


if __name__ == "__main__":
    main()
