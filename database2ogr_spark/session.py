"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment story:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting) so
  the same plan survives 1000x the data without retuning.
- shuffle partitions sized for the local harness via env; on a real cluster
  AQE's ``advisoryPartitionSizeInBytes`` makes the initial number mostly moot.
- Arrow enabled for the (rare) pandas-UDF paths — batch transfer, never
  row-at-a-time pickling.
- broadcast threshold left at default; small dims are *explicitly* hinted with
  ``broadcast()`` at the call sites instead (explicit beats implicit at scale).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "database2ogr_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``);
    an existing active session is reused untouched so the driver harness can
    inject its own.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs executor tasks inside the driver JVM: 32 concurrent
        # tasks + persisted shingle/LSH intermediates in an 8g heap meant GC
        # dominated shuffle-heavy queries (multi-x run-to-run swings on
        # untouched plans). 24g keeps old-gen churn off the hot path; on a
        # real cluster this knob is per-executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def executed_plans(
    spark: SparkSession, build: Callable[[], DataFrame]
) -> tuple[DataFrame, list[str]]:
    """Run ``build()`` and return ``(result, plans)``: the physical plan of
    every SQL execution the call ran (eager jobs such as a
    ``finalize_lifecycle`` checkpoint), oldest first, then the returned
    DataFrame's ``executedPlan``.

    Executions come from the SQL status store, which the listener bus fills
    even with ``spark.ui.enabled=false``. Each is its final plan-graph node
    descriptions, one per line: the one-line ``Exchange
    hashpartitioning(...)`` form that ``explain`` prints, with each cached
    plan under the ``InMemoryTableScan`` that reads it.
    """
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters

    def tail(k: int) -> list:
        # the store keeps the latest executions in id order and drops the
        # oldest past spark.sql.ui.retainedExecutions, so new ones are a tail
        n = store.executionsCount()
        return list(conv.asJava(store.executionsList(max(n - k, 0), k)))

    bus.waitUntilEmpty()
    last = max((e.executionId() for e in tail(1)), default=-1)
    result = build()
    bus.waitUntilEmpty()
    k = 16
    while len(new := tail(k)) == k and new[0].executionId() > last:
        k *= 4
    plans = [
        "\n".join(node.desc() for node in conv.asJava(store.planGraph(e.executionId()).allNodes()))
        for e in new
        if e.executionId() > last
    ]
    plans.append(result._jdf.queryExecution().executedPlan().toString())
    return result, plans
