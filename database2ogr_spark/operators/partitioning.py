"""Partition-shaping helpers.

At 100 TB the scan produces thousands of input splits and these helpers are
no-ops; on small inputs (one tiny parquet file → one partition) CPU-heavy
expression work would otherwise serialize on a single core. ``spread`` is the
cheap insurance both cases tolerate: a round-robin shuffle of the *narrow*
input rows (documents, not their exploded shingles) up to the cluster's
default parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def finalize_lifecycle(result: DataFrame, owned: list[DataFrame]) -> DataFrame:
    """Shared persist-lifecycle exit for operators that persist expensive
    intermediates: eagerly ``localCheckpoint`` the result (truncating the
    lineage off the persisted tables so they can be released immediately)
    and unpersist everything in ``owned``. Leak-free by construction —
    nothing stays in the block manager after the operator returns.

    This is the only way an operator releases what it persisted. The
    checkpoint job's plan, with its InMemoryTableScan reuse points, is
    read back with ``session.executed_plans``.
    """
    out = result.localCheckpoint(eager=True)
    for df in owned:
        df.unpersist()
    return out


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the session's
    ``defaultParallelism``) if it currently has fewer partitions; otherwise
    return it unchanged. Use before explode/hash-heavy projections whose cost
    is per-row CPU, not I/O."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    skewed_key: str,
    other_key: str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join resilient to a hot key on the *skewed* (probe) side.

    AQE's skew-join splitting (on by default in ``session.py``) is the first
    line of defense, but it only helps **sort-merge joins reading shuffle
    files**; a skewed key feeding a hash aggregate or a non-splittable stage
    still lands on one task. This explicit variant pre-splits the hot rows:

    - ``skewed`` rows get a uniform salt in ``[0, salt)`` — a hot key's rows
      now hash to ``salt`` different reducers;
    - ``other`` is exploded ×``salt`` (one copy per salt value) so every
      probe row still finds its match.

    Cost model: replicating ``other`` multiplies its shuffle volume by
    ``salt`` — use when ``|other| × salt`` ≪ ``|skewed hot partition|``,
    i.e. a dimension-like build side too large to broadcast outright but far
    smaller than the fact side's hot-key volume. (A broadcastable ``other``
    needs no salting: BroadcastHashJoin has no reducer to skew.)

    Join semantics preserved for ``inner`` and ``left`` (every skewed row
    keeps exactly its original matches; a left row with no match appears
    once because it carries one salt value).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted = skewed.withColumn(
        "_salt", (F.rand(seed=7) * salt).cast("int")
    )
    exploded = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    cond = (salted[skewed_key] == exploded[other_key]) & (
        salted["_salt"] == exploded["_salt"]
    )
    return salted.join(exploded, cond, how).drop(exploded["_salt"]).drop("_salt")


def suggest_buckets(total_bytes: int, target_bucket_bytes: int = 128 << 20) -> int:
    """Power-of-two bucket count putting ~``target_bucket_bytes`` (default
    128 MiB) in each bucket of the bigger table — the sizing rule of thumb
    for :func:`write_bucketed`."""
    n = max(1, total_bytes // target_bucket_bytes)
    p = 1
    while p < n:
        p <<= 1
    return p


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    *,
    buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed and sorted by ``key``.

    Bucketing trades one write-time shuffle for zero shuffles on every later
    join/aggregation keyed on ``key``: two tables bucketed by the same key
    into the same bucket count join with *no Exchange* in the plan — at
    100 TB that's the difference between re-shuffling the fact table per
    query and never shuffling it again. Verified in tests/test_bucketing.py:
    bucketed⋈bucketed joins and bucket-key aggregations plan no Exchange.

    The ``repartition`` on the bucket key keeps file count = bucket count
    (each write task owns whole buckets) instead of tasks × buckets — the
    small-file guard that matters at thousands of write tasks. Note that
    Spark >= 3.0 still plans a cheap per-bucket Sort under SortMergeJoin
    unless ``spark.sql.legacy.bucketedTableScan.outputOrdering`` is enabled;
    the Exchange is the cost bucketing removes.

    Bucketed tables must go through the session catalog (``saveAsTable``) —
    path-based parquet writes do not persist bucket metadata.
    """
    cols = [key] if isinstance(key, str) else list(key)
    (
        df.repartition(buckets, *[F.col(c) for c in cols])
        .write.mode(mode)
        .bucketBy(buckets, *cols)
        .sortBy(*cols)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(spark, left_table: str, right_table: str, on: str | list[str]) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key. Pure
    convenience — the plan benefit comes from the table metadata: with
    matching bucket counts Catalyst plans a SortMergeJoin with zero
    Exchange operators."""
    keys = [on] if isinstance(on, str) else list(on)
    return spark.table(left_table).join(spark.table(right_table), on=keys)


def skew_report(df: DataFrame, key_col: str, *, k: int = 10) -> DataFrame:
    """Join/agg-key skew diagnostic: the k hottest key values with their
    row share — the measurement behind every salting/AQE-skew decision in
    this repo (SCALE.md documents WHEN to salt; this answers WHETHER).

    Output: (key_value string, n, frac, rank) — rank 1 is the hottest,
    ties break on the key string. NULL keys report as the literal
    '<null>' bucket (NULL join keys are the classic accidental hot key).

    Scale: one partial-agg'd groupBy on the key, then distributed top-k
    via orderBy+limit (Spark plans TakeOrderedAndProject — per-partition
    heaps merged on the driver, k rows; NOT a global-sort window). The
    total for ``frac`` is a 1-row broadcast. Report is k rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = (
        df.select(
            F.coalesce(F.col(key_col).cast("string"), F.lit("<null>")).alias(
                "key_value"
            )
        )
        .groupBy("key_value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = df.agg(F.count(F.lit(1)).alias("_t"))
    top = counts.orderBy(F.col("n").desc(), F.col("key_value").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("key_value").asc())
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("frac", F.round(F.col("n") / F.col("_t"), 6))
        .withColumn("rank", F.row_number().over(w))
        .select("key_value", "n", "frac", "rank")
    )
