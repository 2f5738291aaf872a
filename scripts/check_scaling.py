"""Empirical scaling probe: run registry queries at two scale factors a
decade apart (default sf0.01 and sf0.1) and compare wall-clock growth to
the data growth. Every operator in this engine carries a written 100 TB
argument (SCALE.md, plan audits); this probe is the MEASURED counterpart
at the scales the sandbox holds: a query whose time grows ~10x across a
10x data step is linear in practice, a query that grows ~100x hides a
quadratic no plan-reading caught.

Method: one warmup pass per SF (JIT + parquet footers), then min-of-2
timed noop-sink executions per query per SF — the bench.py protocol at
reduced passes. Verdicts on the t(big)/t(small) ratio:

  OK           ratio <= FLAG (default 18: 10x data with AQE partition-count
               changes and fixed per-query overhead absorbs <=1.8x slack)
  SUPERLINEAR  FLAG < ratio <= FAIL (default 45) — worth a plan read
  QUADRATIC    ratio > FAIL — ~100x growth on 10x data; a scale bug

Queries faster than FLOOR seconds at the BIG SF are always OK: ratios on
sub-second times are dominated by scheduling noise, and a query that
finishes sf0.1 in under a second is not where a 100 TB cliff hides.

Usage: python scripts/check_scaling.py [--small DIR] [--big DIR]
           [--flag R] [--fail R] [--floor S] [name ...]
Default query set: the bench HEADLINE list (the per-family heaviest
variants). Exit code 1 iff any QUADRATIC verdict.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench as benchmod
from database2ogr_spark.session import get_spark


def _run_once(qs, name, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # block release OUTSIDE the timed window (a fixed release overhead
    # inflated sub-second small-SF denominators, biasing ratios downward),
    # matching the bench.py protocol
    dt = time.perf_counter() - t0
    benchmod._release_all_blocks(spark)
    return dt


def main() -> int:
    args = sys.argv[1:]
    small = "/root/testdata/sf0.01"
    big = "/root/testdata/sf0.1"
    flag, fail, floor = 18.0, 45.0, 1.0
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--small":
            small = args[i + 1]; i += 2
        elif a == "--big":
            big = args[i + 1]; i += 2
        elif a == "--flag":
            flag = float(args[i + 1]); i += 2
        elif a == "--fail":
            fail = float(args[i + 1]); i += 2
        elif a == "--floor":
            floor = float(args[i + 1]); i += 2
        else:
            names.append(a); i += 1

    qs = entrymod.queries()
    names = names or [n for n in benchmod.HEADLINE if n in qs]
    spark = get_spark("d2o-scaling")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup both SF directories (footers differ per dir) + codegen/worker
    qs["s2_full_scan"](spark, small).write.format("noop").mode("overwrite").save()
    qs["s2_full_scan"](spark, big).write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}
    n_bad = 0
    for name in names:
        t_small = min(_run_once(qs, name, spark, small) for _ in range(2))
        t_big = min(_run_once(qs, name, spark, big) for _ in range(2))
        ratio = t_big / max(t_small, 1e-9)
        if t_big < floor or ratio <= flag:
            verdict = "OK"
        elif ratio <= fail:
            verdict = "SUPERLINEAR"
        else:
            verdict = "QUADRATIC"
            n_bad += 1
        results[name] = {
            "t_small_s": round(t_small, 3),
            "t_big_s": round(t_big, 3),
            "ratio": round(ratio, 2),
            "verdict": verdict,
        }
        print(f"{verdict:12s} {name}: {t_small:.3f}s -> {t_big:.3f}s "
              f"(x{ratio:.1f})", flush=True)

    worst = sorted(results.items(), key=lambda kv: -kv[1]["ratio"])[:5]
    print(json.dumps({
        "n": len(results),
        "n_quadratic": n_bad,
        "n_superlinear": sum(
            1 for v in results.values() if v["verdict"] == "SUPERLINEAR"
        ),
        "worst5": {k: v["ratio"] for k, v in worst},
        "small": small,
        "big": big,
    }))
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
