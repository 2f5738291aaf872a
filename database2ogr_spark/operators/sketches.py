"""Count-min sketch as a first-class DataFrame structure — the mergeable
fixed-memory frequency summary (public Cormode & Muthukrishnan 2005).

Spark ships HLL (distinct counts) and approx_top_k (heavy hitters) as
opaque binary aggregates; count-min fills the remaining sketch niche —
POINT frequency queries over unbounded key domains in O(width·depth)
memory — and this implementation keeps the sketch as an ordinary
DataFrame of ``(row, col, cnt)`` cells, which buys three things at scale:

- **mergeable by construction**: union sketches of shards/days and sum
  cells — exact integer arithmetic, so merge-then-query equals
  build-once-then-query bit-for-bit (property-graded);
- **storable/queryable anywhere**: the sketch is a ≤ width·depth-row
  table, writable as parquet, joinable by any engine;
- **oracle-replayable**: cell positions come from ``stable_hash64`` with
  a per-row seed, so DuckDB reproduces every cell and every query answer
  exactly — no opaque binary blobs.

Estimates are ONE-SIDED: est ≥ true count always; overestimation happens
only via hash collisions (ε ≈ e/width with probability 1-δ, δ ≈ e^-depth).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.operators.cleaning import finite_or_null, within_time_domain

from database2ogr_spark.functions.hashing import stable_hash64

DEFAULT_WIDTH = 1024
DEFAULT_DEPTH = 3
#: seed base: depth row d hashes with seed CM_SEED + d
CM_SEED = 41


def countmin_build(
    df: DataFrame,
    item_col: str,
    *,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch over ``item_col`` occurrences (or ``weight_col``
    increments): returns the populated ``(row, col, cnt)`` cells.

    Plan: each occurrence fans out to ``depth`` cells (an inline array
    explode — no join), then ONE aggregation on (row, col): map-side
    combine collapses each partition to ≤ width·depth cells before the
    shuffle, so bytes shuffled are bounded by the sketch size per
    partition, independent of data volume — the sketch property.
    """
    inc = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        (
                            stable_hash64(
                                F.col(item_col).cast("string"), seed=CM_SEED + d
                            )
                            % width
                        ).alias("col"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
        inc.alias("_inc"),
    )
    return (
        cells.groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.sum("_inc").alias("cnt"))
    )


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (width, depth): cell-wise sum.
    Exact integer arithmetic — merging is lossless relative to building
    one sketch over the concatenated data (pinned in tests)."""
    all_cells = reduce(lambda a, b: a.unionByName(b), sketches)
    return all_cells.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


def countmin_query(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    *,
    width: int = DEFAULT_WIDTH,
    depth: int = DEFAULT_DEPTH,
) -> DataFrame:
    """Point-frequency estimates for ``items``: est = min over the item's
    ``depth`` cells (absent cell ⇒ the estimate is that cell's 0 — item
    never seen).  The items side fans out to depth probe rows and joins
    the sketch on (row, col) — with the sketch's ≤ width·depth rows this
    broadcasts; the raw data is never rescanned (query cost is independent
    of corpus size).  Returns (item_col, est)."""
    probes = items.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        (
                            stable_hash64(
                                F.col(item_col).cast("string"), seed=CM_SEED + d
                            )
                            % width
                        ).alias("col"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select(item_col, F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    joined = probes.join(F.broadcast(sketch), ["row", "col"], "left").select(
        item_col, F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("_cell")
    )
    return joined.groupBy(item_col).agg(F.min("_cell").alias("est"))


def ams_f2(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_counters: int = 32,
    n_groups: int = 4,
) -> DataFrame:
    """AMS second-moment (F₂ = Σ f_i²) sketch over the token stream
    (public Alon, Matias & Szegedy 1996) — the self-join-size / repeat-
    rate estimator in ``n_counters`` integers of memory: counter j is
    ``Σ_i s_j(i)·f_i`` with s_j(i) the ±1 sign from bit j of the token's
    md5 hash (the deterministic stand-in for the 4-wise family, which is
    what makes every counter — and therefore the estimate — exactly
    replayable cross-engine), estimate = median over ``n_groups`` groups
    of the mean of counter². Counters ADD across shards/days — the same
    mergeable-by-construction story as the count-min cells.

    The report carries the EXACT F₂ next to the estimate (one
    token-keyed partial-agg'd count — the audit this sketch would replace
    at 100 TB) plus the relative error, so sketch QUALITY is graded, not
    just its arithmetic. Output: one row
    ``(n_tokens, f2_exact, f2_estimate, rel_error)``.

    Scale: the counter build is ONE aggregation of ``n_counters``
    conditional sums over the exploded token stream — one md5 per token
    (bits fan out to all counters), everything partial-agg'd map-side;
    the estimate arithmetic runs on ``n_counters`` values.
    """
    from database2ogr_spark.functions.hashing import stable_hash64, words

    if n_counters % n_groups != 0:
        raise ValueError(
            f"n_counters {n_counters} must divide into n_groups {n_groups}"
        )
    toks = df.select(F.explode(words(text_col)).alias("w")).select(
        "w", stable_hash64(F.col("w"), seed=3).alias("h")
    )
    counters = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        *[
            F.sum(
                F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).cast("bigint").alias(f"c{j}")
            for j in range(n_counters)
        ],
    )
    exact = (
        df.select(F.explode(words(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2_exact"))
    )
    m = n_counters // n_groups
    group_means = [
        sum(
            [F.col(f"c{g * m + i}") * F.col(f"c{g * m + i}") for i in range(m)],
            F.lit(0).cast("bigint"),
        ).cast("double") / F.lit(float(m))
        for g in range(n_groups)
    ]
    means_arr = F.array_sort(F.array(*group_means))
    lo = n_groups // 2
    median = (
        F.when(
            F.lit(n_groups % 2 == 1),
            F.element_at(means_arr, lo + 1),
        ).otherwise(
            (F.element_at(means_arr, lo) + F.element_at(means_arr, lo + 1))
            / F.lit(2.0)
        )
    )
    return (
        counters.crossJoin(F.broadcast(exact))
        .withColumn("f2_estimate", F.round(median, 6))
        .select(
            "n_tokens",
            "f2_exact",
            "f2_estimate",
            F.round(
                F.abs(F.col("f2_estimate") - F.col("f2_exact"))
                / F.col("f2_exact").cast("double"),
                6,
            ).alias("rel_error"),
        )
    )


def hll_distinct(
    df: DataFrame,
    col: str = "text",
    *,
    p: int = 8,
    seed: int = 7,
) -> DataFrame:
    """HyperLogLog distinct-count sketch (public Flajolet et al. 2007)
    over ``col`` — THE cardinality primitive of a 100 TB pipeline:
    2^p integer registers, mergeable across shards/days by per-register
    max, ~1.04/√m relative error. Every piece is deterministic and
    exactly replayable cross-engine:

    - register index = low ``p`` bits of the 60-bit md5 hash; rho = the
      leading-zero rank of the remaining 60−p bits, computed EXACTLY as
      ``(60−p) − bitlength + 1`` via the binary-string length (``bin``;
      no float log2, so no power-of-two boundary hazards);
    - the harmonic denominator Σ 2^−M_j is kept EXACT as the integer
      numerator Σ 2^(61−M_j) in DECIMAL(38,0) (≤ 2^69 — far inside the
      38-digit range), so the estimate never depends on float summation
      order — the one place a naive HLL replay drifts between engines;
    - the standard small-range linear-counting correction applies when
      E ≤ 2.5m and zero registers exist.

    The report carries the EXACT distinct count next to the estimate
    (the audit the sketch replaces at scale), so sketch QUALITY is
    graded, not just its arithmetic. Output: one row ``(n_rows,
    exact_distinct, estimate, rel_error, zero_registers)``.

    Scale: one hash per row, ONE m-key partial-agg'd max (registers),
    the m-row spine, and scalar math — plus the exact-twin
    countDistinct, which is the expensive half and exists only for the
    audit column.
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    m = 1 << p
    w = 60 - p  # bits remaining after the register index
    rows = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    h = stable_hash64(F.col("v"), seed=seed)
    hashed = rows.select(
        (h % m).alias("reg"), F.shiftright(h, p).alias("rest")
    )
    # bin() prints no leading zeros, so length(bin(v)) IS the bitlength
    rho = (
        F.lit(w + 1)
        - F.when(F.col("rest") > 0, F.length(F.bin(F.col("rest")))).otherwise(
            F.lit(0)
        )
    ).alias("rho")
    regs = hashed.select("reg", rho).groupBy("reg").agg(F.max("rho").alias("mj"))
    spine = df.sparkSession.range(m).select(F.col("id").alias("reg"))
    full = spine.join(regs, "reg", "left").select(
        F.coalesce(F.col("mj"), F.lit(0)).cast("int").alias("mj")
    )
    agg = full.agg(
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - mj) AS DECIMAL(38,0))")
        ).alias("num"),
        F.sum(F.when(F.col("mj") == 0, 1).otherwise(0)).cast("bigint").alias("v0"),
    )
    stats = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("v").cast("bigint").alias("exact_distinct"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    e_raw = (
        alpha
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << 61))
        / F.col("num").cast("double")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("v0") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v0").cast("double")),
    ).otherwise(e_raw)
    return (
        agg.crossJoin(F.broadcast(stats))
        .withColumn("estimate", F.round(est, 6))
        .select(
            "n_rows",
            "exact_distinct",
            "estimate",
            # NULL (not a DIVIDE_BY_ZERO crash) when the input is empty
            F.round(
                F.try_divide(
                    F.abs(F.col("estimate") - F.col("exact_distinct")),
                    F.col("exact_distinct").cast("double"),
                ),
                6,
            ).alias("rel_error"),
            F.col("v0").alias("zero_registers"),
        )
    )


def rolling_hll_users(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
    p: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Rolling WAU/MAU via MERGED HyperLogLog registers — the 100 TB
    path for trailing-window distinct users, where the exact fan-out
    (:func:`timeseries.rolling_distinct_users`) ships every (day, user)
    pair ×w: registers merge by per-register MAX, so each day stores 2^p
    integers and a w-day window is a ×w fan of 2^p-row register tables,
    INDEPENDENT of user cardinality. Same deterministic machinery as
    :func:`hll_distinct` (bin()-bitlength rho, DECIMAL-exact harmonic
    numerator, linear-counting small range), so the replay is drift-free.

    The report joins the EXACT rolling count per day (the audit this
    sketch replaces at scale) with the estimate and relative error —
    sketch quality is graded per window, not just once.

    Output: (window_end_day, n_users, estimate, rel_error) — one row per
    day in the observed range; rel_error NULL on zero-user windows.

    Scale: one hash per event, ONE (day, register)-keyed max (the only
    corpus-sized shuffle), then ×w fan on #days·2^p rows; the exact twin
    riding along is the expensive half and exists for the audit column.
    """
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    from database2ogr_spark.operators.timeseries import rolling_distinct_users

    m = 1 << p
    w = 60 - p
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    h = stable_hash64(F.col(user_col).cast("string"), seed=seed)
    hashed = events.select(
        day.alias("d"), (h % m).alias("reg"), F.shiftright(h, p).alias("rest")
    )
    rho = (
        F.lit(w + 1)
        - F.when(F.col("rest") > 0, F.length(F.bin(F.col("rest")))).otherwise(
            F.lit(0)
        )
    ).alias("rho")
    day_regs = (
        hashed.select("d", "reg", rho)
        .groupBy("d", "reg")
        .agg(F.max("rho").alias("mj"))
    )
    fanned = day_regs.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(window_days - 1))
        ).alias("e"),
        "reg",
        "mj",
    )
    win_regs = fanned.groupBy("e", "reg").agg(F.max("mj").alias("mj"))
    two61 = F.lit(1 << 61).cast("decimal(38,0)")
    agg = win_regs.groupBy("e").agg(
        F.sum(
            F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - mj) AS DECIMAL(38,0))")
        ).alias("num_present"),
        F.count(F.lit(1)).alias("cnt"),
    ).select(
        "e",
        (
            F.col("num_present")
            + (F.lit(m) - F.col("cnt")).cast("decimal(38,0)") * two61
        ).alias("num"),
        (F.lit(m) - F.col("cnt")).cast("bigint").alias("v0"),
    )
    exact = rolling_distinct_users(
        events, ts_col=ts_col, user_col=user_col, window_days=window_days
    )
    joined = exact.join(
        agg, exact.window_end_day == agg.e, "left"
    ).select(
        "window_end_day",
        "n_users",
        # a day with no sketch rows is an all-zero register bank
        F.coalesce(F.col("num"), (F.lit(m).cast("decimal(38,0)") * two61)).alias("num"),
        F.coalesce(F.col("v0"), F.lit(m)).cast("bigint").alias("v0"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    e_raw = (
        alpha
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << 61))
        / F.col("num").cast("double")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("v0") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v0").cast("double")),
    ).otherwise(e_raw)
    return joined.select(
        "window_end_day",
        "n_users",
        F.round(est, 6).alias("estimate"),
        F.round(
            F.when(
                F.col("n_users") > 0,
                F.abs(F.round(est, 6) - F.col("n_users"))
                / F.col("n_users").cast("double"),
            ),
            6,
        ).alias("rel_error"),
    )


def kmv_audience_jaccard(
    events: DataFrame,
    *,
    k: int = 256,
    user_col: str = "user_id",
    type_col: str = "event_type",
    seed: int = 7,
) -> DataFrame:
    """KMV (k-minimum-values) sketch Jaccard between event-type
    audiences — the set-INTERSECTION sketch HLL cannot be (inclusion-
    exclusion on HLLs explodes the error; the KMV/theta family estimates
    overlap directly, public Beyer et al. 2007 / the theta-sketch
    lineage): per type keep the k smallest 60-bit user hashes; for a
    pair, the k smallest of the union form the combined sample and the
    fraction present in BOTH sets estimates Jaccard. Everything is
    integer hashes, ranks, and exact ratios — deterministic and
    replayable cross-engine by construction (no float accumulation
    anywhere).

    The report joins the EXACT Jaccard (the audience_overlap
    inclusion-exclusion audit this sketch replaces at scale) so sketch
    quality is graded per pair. Sketches merge: a shard's k-set unions
    with another's and re-trims — the mergeability contract of the
    count-min/HLL siblings.

    Output: (type_a, type_b, k_used, n_match, jaccard_est,
    jaccard_exact, abs_error), one row per unordered type pair.

    Scale: ONE (type, user) distinct is the corpus-sized work (shared
    shape with audience_overlap); the per-type k-smallest is a
    type-partitioned window on distinct hashes; everything pairwise
    runs on ≤ 2k·#types² rows.
    """
    if k < 8:
        raise ValueError("k must be >= 8")
    tu = events.select(F.col(type_col).alias("t"), F.col(user_col).alias("u")).distinct()
    h = stable_hash64(F.col("u").cast("string"), seed=seed)
    th = tu.select("t", h.alias("h")).distinct()
    w = Window.partitionBy("t").orderBy(F.col("h").asc())
    kmin = th.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    ).select("t", "h")
    types = tu.select("t").distinct()
    spine = (
        types.alias("a")
        .crossJoin(types.alias("b"))
        .filter(F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
    )
    sides = (
        spine.join(kmin.withColumnRenamed("t", "ta"), "ta").select(
            "ta", "tb", "h", F.lit(1).alias("flag")
        )
    ).union(
        spine.join(kmin.withColumnRenamed("t", "tb"), "tb").select(
            "ta", "tb", "h", F.lit(2).alias("flag")
        )
    )
    merged = sides.groupBy("ta", "tb", "h").agg(F.sum("flag").alias("fl"))
    wp = Window.partitionBy("ta", "tb").orderBy(F.col("h").asc())
    ranked = merged.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") <= k
    )
    est = ranked.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.sum(F.when(F.col("fl") == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_match"),
    )
    # exact audit: inclusion-exclusion off the same distinct
    sizes = tu.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    both = (
        tu.alias("x")
        .join(tu.alias("y"), "u")
        .filter(F.col("x.t") < F.col("y.t"))
        .groupBy(F.col("x.t").alias("ta"), F.col("y.t").alias("tb"))
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    exact = (
        sizes.alias("sa")
        .crossJoin(sizes.alias("sb"))
        .filter(F.col("sa.t") < F.col("sb.t"))
        .select(
            F.col("sa.t").alias("ta"),
            F.col("sb.t").alias("tb"),
            F.col("sa.n").alias("na"),
            F.col("sb.n").alias("nbb"),
        )
        .join(both, ["ta", "tb"], "left")
        .select(
            "ta",
            "tb",
            F.round(
                F.coalesce(F.col("nb"), F.lit(0))
                / (
                    F.col("na") + F.col("nbb") - F.coalesce(F.col("nb"), F.lit(0))
                ).cast("double"),
                6,
            ).alias("jaccard_exact"),
        )
    )
    je = F.round(F.col("n_match") / F.col("k_used").cast("double"), 6)
    return est.join(exact, ["ta", "tb"]).select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        "k_used",
        "n_match",
        je.alias("jaccard_est"),
        "jaccard_exact",
        F.round(F.abs(je - F.col("jaccard_exact")), 6).alias("abs_error"),
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str = "value",
    *,
    bin_width: float = 10.0,
    quantiles: tuple = (0.5, 0.9, 0.95, 0.99),
) -> DataFrame:
    """Mergeable fixed-bin histogram quantiles — the single-pass,
    shard-addable percentile path for 100 TB telemetry (exact
    ``percentile`` shuffles every value to one reducer; histogram cells
    ADD across shards/days like the count-min/HLL/KMV siblings, and the
    quantile is read off the cumulative histogram with linear
    interpolation inside the hit bin). Estimate error is bounded by
    ``bin_width`` by construction — and the report grades it: each
    quantile row carries the EXACT interpolated percentile and the
    absolute error next to the estimate.

    Bins are ``floor(value / bin_width)`` (integer keys, engine-exact);
    the within-bin interpolation assumes uniform mass, the standard
    histogram-quantile semantics. NULL values are excluded (both the
    histogram and the exact twin see the same rows).

    Output: (q, estimate, exact, abs_error), one row per requested
    quantile, rounded 6.

    Scale: ONE bin-keyed partial-agg'd count (cells ≤ value-range /
    bin_width); the cumulative walk and interpolation run on #bins
    rows. The exact twin is the expensive half and exists for the audit
    columns.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    if not quantiles:
        raise ValueError("need at least one quantile")
    vals = df.select(F.col(value_col).alias("v")).filter(
        F.col("v").isNotNull() & finite_or_null(F.col("v"))
    )
    bw = float(bin_width)
    hist = vals.select(
        F.floor(F.col("v") / F.lit(bw)).cast("long").alias("b")
    ).groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cn", F.sum("n").over(w))
    tot = vals.agg(
        F.count(F.lit(1)).alias("tot"),
        *[
            F.percentile(F.col("v").cast("double"), q).alias(f"x{i}")
            for i, q in enumerate(quantiles)
        ],
    )
    rows = []
    for i, q in enumerate(quantiles):
        # target rank in [1, tot]; hit bin = first with cn >= target
        target = F.lit(float(q)) * F.col("tot").cast("double")
        hit = (
            cum.crossJoin(F.broadcast(tot))
            .filter(F.col("cn").cast("double") >= target)
            .orderBy("b")
            .limit(1)
        )
        est = (
            F.col("b").cast("double") * F.lit(bw)
            + F.lit(bw)
            * (target - (F.col("cn") - F.col("n")).cast("double"))
            / F.col("n").cast("double")
        )
        rows.append(
            hit.select(
                F.lit(float(q)).alias("q"),
                F.round(est, 6).alias("estimate"),
                F.round(F.col(f"x{i}"), 6).alias("exact"),
                F.round(F.abs(F.round(est, 6) - F.round(F.col(f"x{i}"), 6)), 6).alias(
                    "abs_error"
                ),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out
