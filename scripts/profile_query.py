"""Query profiler: time individual registry queries with the noop sink
(guide §1.4) and capture the plans Spark executed for them.

Usage:
    python scripts/profile_query.py [--passes N] [--plans-dir plans/r11] \
        [--tag before|after] query [query ...]

Per query: times ``--passes`` builds plus noop-sink executions, with
blocking cache/block release between passes (the bench protocol), and
prints each pass and the min. With ``--plans-dir`` and ``--tag``, the first
pass runs under ``session.executed_plans`` and
``<plans-dir>/<query>_<tag>.txt`` gets the physical plan of every SQL
execution it ran (eager jobs during the build, then the noop write), read
from Spark's SQL status store. Jobs are labelled via ``setJobDescription``
so the timeline is attributable.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import _release_all_blocks
from database2ogr_spark.session import executed_plans, get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark("d2o-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # same warmup as bench.py: JVM, codegen, parquet footers, Python workers
    qs["s2_full_scan"](spark, args.sf_dir).write.format("noop").mode(
        "overwrite").save()
    from pyspark.sql import functions as F

    (spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k"))
     .agg(F.sum("id").alias("s")).write.format("noop").mode("overwrite").save())

    def _noop_pd(batches):
        for b in batches:
            yield b

    spark.range(64).repartition(32).mapInPandas(
        _noop_pd, schema="id long").write.format("noop").mode("overwrite").save()

    results = {}
    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}")
            continue
        times = []

        def run():
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            return df

        for p in range(args.passes):
            spark.sparkContext.setJobDescription(f"profile:{name}:pass{p}")
            if p == 0 and args.plans_dir and args.tag:
                _, plans = executed_plans(spark, run)
                os.makedirs(args.plans_dir, exist_ok=True)
                with open(os.path.join(
                        args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                    # the last entry is the returned DataFrame's own plan,
                    # which the noop write re-planned and ran above
                    for i, plan in enumerate(plans[:-1], 1):
                        f.write(f"== execution {i}/{len(plans) - 1} ==\n{plan}\n")
            else:
                run()
            _release_all_blocks(spark)
            spark.sparkContext.setJobDescription(None)
        results[name] = times
        print(f"{name}: " + " ".join(f"{t:.3f}" for t in times)
              + f"  min={min(times):.3f}")
    print("TOTAL(min):", round(sum(min(t) for t in results.values()), 3))


if __name__ == "__main__":
    main()
