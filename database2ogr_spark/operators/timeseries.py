"""Time-series operators: interval (range) join and hypertable-style
multi-granularity rollup.

``range_join`` solves the join Spark executes worst: ``e.ts >= i.start AND
e.ts < i.end`` alone gives Catalyst no equi-key, so the physical plan is
BroadcastNestedLoopJoin — O(|events|·|intervals|) comparisons and a
single-threaded build at that. The fix is the standard bucketized range
join (the technique behind the public Databricks range-join optimization
and interval-join implementations in stream processors): pick a bucket
width, explode each interval into the epoch buckets it covers, bucket each
event by its timestamp, equi-join on (bucket [, key]) and post-filter the
exact containment predicate. Each event carries exactly ONE bucket, so a
true (event, interval) match joins exactly once — no dedup pass. Bucket
width trades interval-side fan-out (≈ interval_len / bucket) against
bucket selectivity; set it near the median interval length.

``hypertable_rollup`` is the continuous-aggregate shape (public
TimescaleDB concept): one scan aggregated at minute/hour/day granularity
simultaneously via ``ROLLUP (day, hour, minute)`` — hierarchical grouping
sets, one shuffle, partial-agg'd map-side like any groupBy. At 100 TB the
day/hour/minute truncs are the natural partition columns for the
materialized output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.operators.cleaning import drop_nonfinite, within_time_domain


def range_join(
    events: DataFrame,
    intervals: DataFrame,
    *,
    time_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
    key: str | None = None,
) -> DataFrame:
    """Join each event to every interval containing it (``start <= ts <
    end``; plus key equality when ``key`` is given) via a bucket equi-join.

    Output: all event columns + all interval columns (caller keeps names
    disjoint). The interval side explodes into ``1 + len/bucket`` rows per
    interval; the event side stays one row. The join is a plain hash
    equi-join on (bucket [, key]) — shuffled, AQE-broadcast when the
    exploded interval side is small, skew-split when a bucket is hot.

    Time-domain contract: deliberately OUTSIDE cleaning.within_time_domain
    (its registry entry in __spark_entry__ carries no time_domain flag):
    the EVENT side takes exactly one bucket per row regardless of how implausible its
    timestamp is (floor of a negative epoch is still one bucket), so
    there is no data-dependent fan-out to guard on the big table; the
    fan-out lives on the caller-provided INTERVAL side, whose
    ``1 + len/bucket`` explosion is the caller's validated input, not
    ingested event data. Dropping out-of-domain events here would
    silently change "every interval containing it" semantics. Symmetry
    with the unguarded oracle twin is probed by
    ``scripts/check_oracle.py --perturb times``.
    """
    b = F.lit(int(bucket_seconds)).cast("long")
    ev = events.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(time_col)) / b).cast("long")
    )
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / b).cast("long"),
                F.floor(F.unix_timestamp(F.col(end_col)) / b).cast("long"),
            )
        ),
    )
    on = ["__bucket"] + ([key] if key else [])
    return (
        ev.join(iv, on=on)
        .filter(
            (F.col(time_col) >= F.col(start_col))
            & (F.col(time_col) < F.col(end_col))
        )
        .drop("__bucket")
    )


def hypertable_rollup(
    events: DataFrame,
    *,
    time_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Minute/hour/day/grand-total aggregates in one pass: ``ROLLUP (day,
    hour, minute)`` over truncated timestamps. Output rows carry the grain
    implicitly (finer truncs NULL at coarser grains, all three NULL on the
    grand total): (day, hour, minute — epoch seconds, nullable) +
    n_events + sum_value (rounded to 6 — cross-engine sum-order jitter).
    """
    events = within_time_domain(events, time_col)
    sel = events.select(
        F.unix_timestamp(F.date_trunc("day", F.col(time_col))).alias("day"),
        F.unix_timestamp(F.date_trunc("hour", F.col(time_col))).alias("hour"),
        F.unix_timestamp(F.date_trunc("minute", F.col(time_col))).alias("minute"),
        F.col(value_col).alias("__v"),
    )
    return sel.rollup("day", "hour", "minute").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("__v"), 6).alias("sum_value"),
    )


def rolling_features(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str = "value",
    label_col: str = "event_type",
    window_rows: int = 5,
) -> DataFrame:
    """Per-key ordered rolling features — the window-FRAME surface
    (``rowsBetween``, ``lag``) that turns an event log into ML feature rows:
    inter-event gap, previous label, rolling sum/count over the previous
    ``window_rows`` events, and a running seen-counter.

    Frame semantics are ANSI (``ROWS BETWEEN n PRECEDING AND 1 PRECEDING``),
    so every feature is *causal* — computed strictly from events before the
    current one, never leaking the current row into its own feature (the
    classic training-data bug this operator exists to prevent). The empty
    first frame yields NULL sum / 0 count in both engines.

    Scale: ONE shuffle, partitioned by ``key_col`` (high-cardinality —
    parallelism is #keys), then a per-key sort; all five windows share the
    same (partition, order) so Catalyst computes them in a single Window
    physical node over one sort — check ``.explain``: exactly one Exchange
    and one Sort. Ordering ties on ``order_tiebreak`` to stay deterministic
    under equal timestamps. Gaps are integer microseconds
    (``unix_micros``) — exact in both engines, no epoch-double drift.
    """
    # time-ordered features need a time: NULL ts rows are unorderable
    # (and engines disagree on where nulls sort), so they are excluded
    events = within_time_domain(drop_nonfinite(events, value_col), ts_col)
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak).asc()
    )
    frame = w.rowsBetween(-window_rows, -1)
    # parquet timestamps load as TIMESTAMP_NTZ; the session TZ is pinned UTC
    # (session.py), so the LTZ cast is a pure reinterpretation and unix_micros
    # matches DuckDB's epoch_us on the same naive values
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    val_c2 = F.round(F.col(value_col) * 100).cast("bigint")
    return events.select(
        order_tiebreak,
        key_col,
        ts_col,
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lag(F.col(label_col)).over(w).alias("prev_label"),
        F.sum(val_c2).over(frame).alias("roll_sum_c2"),
        F.count(F.col(value_col)).over(frame).alias("roll_n"),
        (F.row_number().over(w) - F.lit(1)).alias("seen_n"),
    )


def gap_fill_locf(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    unit: str = "hour",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Regularize an event stream onto a fixed time grid with
    last-observation-carried-forward — the resample/gap-fill surface
    (TimescaleDB's ``time_bucket_gapfill``/``locf`` shape): one row per
    (key, grid bucket) from the key's first to last observed bucket, with
    ``value_filled`` carried forward across unobserved buckets and an
    ``observed`` flag separating measurement from imputation.

    Plan: per-(key, bucket) latest value via ``max_by`` over a zero-padded
    (epoch-micros, tiebreak) string key (deterministic under timestamp
    ties, portable — both engines compare the same VARCHAR; the epoch is
    offset by +10^18 µs before padding so pre-1970 NEGATIVE epochs still
    sort lexicographically — the round-4 advisor catch — making the key
    domain any timestamp ≥ year -29719 and any NONNEGATIVE tiebreak id
    < 10^20, i.e. all of int64≥0); per-key spans
    (|keys| rows); the grid is ``sequence()`` + ``explode`` — fan-out =
    span/unit per key, generated distributed, never on the driver; LOCF is
    ``last(ignorenulls)`` over a running frame. Everything shuffles on the
    key: the agg, the grid join, and the window share partitioning, and AQE
    coalesces the tiny spans side. Dense-grid caveat at scale: fan-out is
    (span/unit)·keys rows — pick ``unit`` so the grid is at most ~10× the
    event count, same sizing rule as range_join's bucket.
    """
    # the time-domain guard drops pre-1970/post-2100 rows but does NOT
    # bound the spine: an epoch-zero row is in domain and still stretches
    # its key's grid back to 1970 (×181 rows on the times-perturbed
    # sf0.001 fixture); spine bounds are an open item (ROADMAP)
    events = within_time_domain(events, ts_col)
    sort_key = F.concat(
        F.lpad(
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                + F.lit(1_000_000_000_000_000_000)
            ).cast("string"),
            20,
            "0",
        ),
        F.lpad(F.col(tiebreak_col).cast("string"), 20, "0"),
    )
    per_bucket = (
        events.select(
            F.col(key_col),
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
            F.col(value_col).alias("_v"),
            sort_key.alias("_sk"),
        )
        .groupBy(key_col, "bucket")
        # mask the sort key where the measurement is NULL: an event with
        # no metric is not an observation, so the latest NON-NULL value
        # wins the bucket (DuckDB arg_max semantics — its arg_max ignores
        # null-value rows; Spark's max_by would return them)
        .agg(
            F.max_by(
                "_v", F.when(F.col("_v").isNotNull(), F.col("_sk"))
            ).alias("v")
        )
    )
    spans = per_bucket.groupBy(key_col).agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence("b0", "b1", F.expr(f"interval 1 {unit}"))
        ).alias("bucket"),
    )
    j = grid.join(per_bucket, [key_col, "bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        key_col,
        "bucket",
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("v").isNotNull().alias("observed"),
    )


def rolling_distinct_users(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Exact trailing-window active-user counts — the WAU/MAU dashboard
    metric, exactly (no HLL error bar): for every day in the observed
    range, the number of DISTINCT users active in the ``window_days``
    window ending that day. Day arithmetic is integer epoch-days (the
    retention_cohorts convention — no calendar functions in the plan).

    Exactness trick: distinct (day, user) pairs FAN OUT to the
    ``window_days`` window-end days they contribute to
    (``explode(sequence(d, d+w-1))``) and one countDistinct per end-day
    finishes it — a bounded ×w fanout of the ALREADY-DEDUPED daily pairs,
    never a range join and never a quadratic window. Days inside the
    range with no active window users still appear (count 0) via the
    day spine. Output: (window_end_day bigint, n_users bigint).
    """
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    du = events.select(
        day.alias("d"), F.col(user_col).alias("u")
    ).distinct()
    bounds = du.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    fanned = du.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(window_days - 1))
        ).alias("e"),
        "u",
    )
    counts = fanned.groupBy("e").agg(F.countDistinct("u").alias("n"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("e")
    )
    return spine.join(counts, "e", "left").select(
        F.col("e").alias("window_end_day"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_users"),
    )


def trend_slope(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-group OLS trend of daily event volume (closed-form simple
    linear regression — the 'is this stream growing or dying' audit the
    CUSUM change point doesn't answer): per group, regress daily count y
    on day index x over the group's own observed [min, max] day range,
    with zero-activity days counted as y=0 via a day spine (a decaying
    stream whose last days are silent MUST see those zeros). x is
    centered at the group's first day so the sums stay small and
    engine-stable.

    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), intercept = ȳ − slope·x̄,
    r² = cov²/(var_x·var_y). slope/intercept NULL on single-day groups
    (var_x = 0); r² additionally NULL on constant-volume groups
    (var_y = 0). Doubles rounded 6 dp.

    Output: (group_col, n_days, slope, intercept, r2), one row per group.

    Scale: one (group, day)-keyed partial-agg'd count (the only
    corpus-sized shuffle), a per-group bounds broadcast + spine explode
    (#groups × #days rows), then a #groups-key aggregate. Group count and
    day count bound everything after the first aggregation.
    """
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    counts = (
        events.select(F.col(group_col).alias("g"), day.alias("d"))
        .groupBy("g", "d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    bounds = counts.groupBy("g").agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        "g", "lo", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    daily = spine.join(counts, ["g", "d"], "left").select(
        "g",
        (F.col("d") - F.col("lo")).cast("double").alias("x"),
        F.coalesce(F.col("y"), F.lit(0)).cast("double").alias("y"),
    )
    sums = daily.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.when(varx_n > 0, cov_n / varx_n)
    return sums.select(
        F.col("g").alias(group_col),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(slope, 6).alias("slope"),
        F.round(
            F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n")), 6
        ).alias("intercept"),
        F.round(
            F.when(
                (varx_n > 0) & (vary_n > 0), cov_n * cov_n / (varx_n * vary_n)
            ),
            6,
        ).alias("r2"),
    )


def ewma_daily(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    alpha: float = 0.3,
    horizon: int = 30,
) -> DataFrame:
    """Bounded-horizon EWMA of daily event volume — the smoothed baseline
    an ops dashboard plots under the raw counts. Exact finite-window
    form: ewma_d = Σ_{k=0..h−1} (1−α)^k·x_{d−k} / Σ_{k} (1−α)^k, with the
    weight mass renormalized to the lags that exist near the series head
    (no warm-up bias) and zero-activity days counted via the day spine.

    The textbook recursive EWMA is an unbounded sequential scan — the one
    shape a distributed engine cannot parallelize. The bounded form is
    embarrassingly parallel: each day's count fans out to the ≤h later
    days it influences (a ×h explode on the ALREADY-AGGREGATED #days-row
    table, not on the corpus) and one day-keyed sum collects the
    contributions. With α=0.3, lag 29's weight is 0.7²⁹ ≈ 2e-5 — the
    truncation is far below the 6-dp rounding.

    Output: (d, x, ewma) per day in the observed range, ewma rounded 6.

    Scale: corpus-sized work is ONE day-keyed partial-agg'd count;
    everything after runs on #days × horizon rows.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    counts = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    bounds = counts.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        "hi", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    daily = spine.join(counts, "d", "left").select(
        "hi", "d", F.coalesce(F.col("x"), F.lit(0)).cast("double").alias("x")
    )
    # fan each day's count out to the horizon days it influences; k is the
    # lag seen from the TARGET day, so the weight is (1-α)^k
    contrib = daily.select(
        "x",
        F.col("d").alias("src"),
        F.explode(
            F.sequence(
                F.col("d"), F.least(F.col("d") + horizon - 1, F.col("hi"))
            )
        ).alias("d"),
    )
    w = F.pow(F.lit(1.0 - alpha), (F.col("d") - F.col("src")).cast("double"))
    out = contrib.groupBy("d").agg(
        F.sum(F.col("x") * w).alias("num"),
        F.sum(w).alias("den"),
    )
    return (
        out.join(daily.select("d", "x"), "d")
        .select(
            "d",
            F.col("x").cast("bigint").alias("x"),
            F.round(F.col("num") / F.col("den"), 6).alias("ewma"),
        )
    )


def changepoint_cusum(
    events: DataFrame,
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """CUSUM change-point detection on daily event volume (public Page
    1954 / the standard mean-shift CUSUM): over the observed day range,
    ``S_d = Σ_{i≤d}(x_i − x̄)``; the estimated change point is the day
    maximizing |S_d| and the normalized magnitude ``max|S|/(σ·√n)`` is
    the strength (≳1.36 is the classic 95% Kolmogorov-style line for a
    genuine level shift). Zero-activity days count as x=0 via the day
    spine — a silent pipeline outage IS a change point. Ties break
    toward the earliest day. Integer epoch-day arithmetic throughout.

    Output: ONE row (n_days, changepoint_day, s_max_abs, normalized),
    doubles rounded 6 dp; NULL normalized when σ = 0 (perfectly constant
    volume — no change point exists).

    Scale: one day-keyed partial-agg'd count, the spine join, and
    windows/aggregates over #days rows — corpus-size-independent after
    the first aggregation.
    """
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    counts = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    bounds = counts.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    daily = spine.join(counts, "d", "left").select(
        "d", F.coalesce(F.col("x"), F.lit(0)).cast("double").alias("x")
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mu"),
        F.stddev_pop("x").alias("sd"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.crossJoin(F.broadcast(stats)).select(
        "d",
        "n",
        "sd",
        F.round(F.abs(F.sum(F.col("x") - F.col("mu")).over(w)), 6).alias(
            "s_abs"
        ),
    )
    best = cum.orderBy(F.col("s_abs").desc(), F.col("d").asc()).limit(1)
    return best.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("d").alias("changepoint_day"),
        F.col("s_abs").alias("s_max_abs"),
        F.when(
            F.col("sd") > 0,
            F.round(
                F.col("s_abs")
                / (F.col("sd") * F.sqrt(F.col("n").cast("double"))),
                6,
            ),
        ).alias("normalized"),
    )


def acf_daily(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    max_lag: int = 14,
) -> DataFrame:
    """Sample autocorrelation of daily event volume at lags 1..max_lag —
    the seasonality fingerprint (weekly traffic shows a lag-7 spike) and
    the 'is this series even structured' audit behind forecasting
    choices. Standard estimator: r_k = Σ_{t≤n−k}(x_t−x̄)(x_{t+k}−x̄) /
    Σ(x_t−x̄)², expanded to integer power sums (Σx_t·x_{t+k}, head/tail
    sums) so every aggregate is EXACT in any engine; the float expression
    on top is per-lag scalar arithmetic — identical operations in
    identical order, hence bit-stable before the cosmetic 6-dp round.

    Zero-activity days count via the day spine. NULL r at lags with no
    overlap (k ≥ n) never appear (no pair rows); constant series → NULL
    (zero variance).

    Output: (lag, n_pairs, r), one row per lag 1..max_lag with overlap.

    Scale: corpus-sized work is ONE day-keyed count; the lag fan-out is
    ×max_lag on #days rows and the final math runs on max_lag rows.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    counts = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    bounds = counts.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        "hi", F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    daily = spine.join(counts, "d", "left").select(
        "hi", "d", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    # fan each day out to (d+k, k) for k = 1..max_lag (clipped at hi) and
    # equi-join back on the target day: A_k, head/tail sums are bigints
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0] rather than an
    # empty array, which would fabricate a lag-0 self-pair at the series
    # tail — guard the end bound explicitly
    end = F.least(F.lit(max_lag), F.col("hi") - F.col("d"))
    fan = daily.select(
        F.col("x").alias("xa"),
        F.explode(
            F.when(
                end >= 1,
                F.transform(
                    F.sequence(F.lit(1), end),
                    lambda k: F.struct(
                        (F.col("d") + k).alias("d"), k.alias("k")
                    ),
                ),
            ).otherwise(F.array())
        ).alias("t"),
    ).select("xa", F.col("t.d").alias("d"), F.col("t.k").alias("k"))
    pairs = fan.join(daily.select("d", F.col("x").alias("xb")), "d")
    per = pairs.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("xa") * F.col("xb")).alias("a"),
        F.sum("xa").alias("hb"),
        F.sum("xb").alias("tb"),
    )
    m = F.col("s1").cast("double") / F.col("n")
    den = F.col("q").cast("double") - F.col("n") * m * m
    num = (
        F.col("a").cast("double")
        - m * (F.col("hb") + F.col("tb")).cast("double")
        + F.col("n_pairs") * m * m
    )
    return (
        per.crossJoin(F.broadcast(stats))
        .select(
            F.col("k").cast("int").alias("lag"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(F.when(den > 0, num / den), 6).alias("r"),
        )
    )


def mann_kendall(
    events: DataFrame,
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """Mann–Kendall trend test on daily event volume — the nonparametric
    twin of :func:`trend_slope`: S = Σ_{i<j} sign(x_j − x_i) over the
    day-ordered series, tie-corrected variance Var = [n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)]/18, continuity-corrected z = (S∓1)/√Var. Monotone
    drift shows up here even when it is nonlinear enough to defeat OLS
    (r² ≈ 0 on an S-curve; MK still fires). S and both variance terms
    are INTEGER aggregates — engine-stable by construction.

    Output: ONE row (n_days, s, var_s, z, trend) with trend ∈
    {'increasing','decreasing','no_trend'} at the 5% two-sided line
    (|z| > 1.96); z/trend NULL when Var = 0 (all-tied series).

    Scale: corpus-sized work is ONE day-keyed count; the sign sum is a
    #days² pair comparison ON THE AGGREGATED TABLE (a decade of days is
    ~6.7M pairs — driver-free but deliberately quadratic in DAYS, never
    in events). Tie groups are a #distinct-values aggregate.
    """
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    counts = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    bounds = counts.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    daily = spine.join(counts, "d", "left").select(
        "d", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    s_agg = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(F.sum(F.signum((F.col("xb") - F.col("xa")).cast("double")).cast("long")).alias("s"))
    )
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tsum"),
        )
    )
    n_df = daily.agg(F.count(F.lit(1)).alias("n"))
    joined = s_agg.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(n_df))
    var = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tsum")
    ).cast("double") / F.lit(18.0)
    z = F.when(
        var > 0,
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
    )
    return joined.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s").cast("bigint").alias("s"),
        F.round(var, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.when(z.isNull(), F.lit(None).cast("string"))
        .when(z > 1.96, F.lit("increasing"))
        .when(z < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


def iqr_anomaly_days(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    k_iqr: float = 1.5,
    report_all: bool = False,
) -> DataFrame:
    """Tukey boxplot outlier screen on daily event volume — the ops
    audit behind 'which days were weird': days whose count falls
    outside [q1 − k·IQR, q3 + k·IQR] over the spined daily series
    (zero-activity days are candidates — an outage day should flag).
    Quantiles are exact linear-interpolated ``percentile`` (bit-matching
    DuckDB's ``quantile_cont`` — the winsorize portability contract).

    Output: (d, x, lo, hi, side) for flagged days only, side ∈
    {'low','high'}; bounds rounded 6 dp and replicated per row.
    ``report_all=True`` returns EVERY day with side NULL on normal days
    — the auditable report form (bounds verifiable even on a quiet
    series).

    Scale: one day-keyed partial-agg'd count; the exact percentile
    shuffles #days values to one reducer (fine — #days is bounded);
    flagging is a broadcast-joined filter on #days rows.
    """
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    counts = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    bounds = counts.agg(F.min("d").alias("lo_d"), F.max("d").alias("hi_d"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo_d"), F.col("hi_d"))).alias("d")
    )
    daily = spine.join(counts, "d", "left").select(
        "d", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    q = daily.agg(
        F.percentile(F.col("x").cast("double"), 0.25).alias("q1"),
        F.percentile(F.col("x").cast("double"), 0.75).alias("q3"),
    ).select(
        F.round(F.col("q1") - k_iqr * (F.col("q3") - F.col("q1")), 6).alias("lo"),
        F.round(F.col("q3") + k_iqr * (F.col("q3") - F.col("q1")), 6).alias("hi"),
    )
    joined = daily.crossJoin(F.broadcast(q))
    if not report_all:
        joined = joined.filter(
            (F.col("x") < F.col("lo")) | (F.col("x") > F.col("hi"))
        )
    return joined.select(
        "d",
        "x",
        "lo",
        "hi",
        F.when(F.col("x") < F.col("lo"), F.lit("low"))
        .when(F.col("x") > F.col("hi"), F.lit("high"))
        .alias("side"),
    )


def hourly_profile(
    events: DataFrame,
    *,
    ts_col: str = "ts",
) -> DataFrame:
    """Hour-of-day traffic profile with a chi-square uniformity test —
    the 'is this stream organic' shape audit (human traffic has a
    diurnal curve; uniform-by-hour volume at scale usually means bots,
    backfill, or synthetic data). One row per hour 0..23 (absent hours
    appear with n=0 via the hour spine), with the per-cell chi-square
    contribution and the total statistic replicated (df=23; 35.172 is
    the 95% line — the flag column applies it).

    All counts are integers; shares and χ² cells are single divisions
    of exact integers — engine-stable before the cosmetic rounding.

    Scale: ONE 24-key partial-agg'd count; everything after runs on 24
    rows.
    """
    events = within_time_domain(events, ts_col)
    hour = F.pmod(
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(3600)).cast("long"),
        F.lit(24),
    )
    counts = events.select(hour.alias("h")).groupBy("h").agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = events.sparkSession.range(24).select(F.col("id").alias("h"))
    full = spine.join(counts, "h", "left").select(
        "h", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    tot = full.agg(F.sum("n").alias("tot"))
    cells = full.crossJoin(F.broadcast(tot)).select(
        "h",
        "n",
        "tot",
        # try_divide: NULL cells (not a DIVIDE_BY_ZERO crash) when the
        # stream is empty (tot = 0); identical arithmetic otherwise
        F.try_divide(
            (F.col("n") - F.col("tot") / 24.0)
            * (F.col("n") - F.col("tot") / 24.0),
            F.col("tot") / 24.0,
        ).alias("cell"),
    )
    stat = cells.agg(F.round(F.sum("cell"), 6).alias("chisq"))
    return cells.crossJoin(F.broadcast(stat)).select(
        F.col("h").cast("int").alias("hour"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.try_divide(F.col("n"), F.col("tot").cast("double")), 6).alias(
            "share"
        ),
        F.round(F.col("cell"), 6).alias("chisq_cell"),
        "chisq",
        (F.col("chisq") > 35.172).alias("nonuniform"),
    )


def wow_decomposition(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    dim_col: str = "event_type",
) -> DataFrame:
    """Week-over-week volume delta DECOMPOSED by a dimension — the
    'WAU dropped 8%, what drove it' attribution table: for every week
    with a predecessor and every dimension value, current/previous
    counts, the delta, and the share of the week's TOTAL delta this
    value explains (deltas are additive, so shares sum to 1 per week —
    the whole point of decomposing by a partition of the traffic).

    Absent (week, value) cells count 0 via the week×value spine (a
    segment that disappeared IS the answer). Integer epoch-week
    arithmetic; share NULL when the total delta is 0.

    Output: (week, dim value, cur, prev, delta, share) — share rounded
    6, rows only for weeks ≥ lo+1.

    Scale: ONE (week, dim) partial-agg'd count; the spine is #weeks ×
    #values rows and every window/join after runs on it.
    """
    # attribution needs a week and a dimension value: NULL ts cannot be
    # bucketed and a NULL dim value would vanish from the spine's equi-
    # join anyway — both excluded explicitly, identically in the twin
    events = within_time_domain(events, ts_col).filter(
        F.col(dim_col).isNotNull()
    )
    week = (
        F.floor(F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)) / F.lit(7))
    ).cast("long")
    counts = events.select(week.alias("w"), F.col(dim_col).alias("v")).groupBy(
        "w", "v"
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = counts.agg(F.min("w").alias("lo"), F.max("w").alias("hi"))
    weeks = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("w")
    )
    vals = counts.select("v").distinct()
    spine = weeks.crossJoin(F.broadcast(vals))
    full = spine.join(counts, ["w", "v"], "left").select(
        "w", "v", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    wv = Window.partitionBy("v").orderBy("w")
    cur = full.select(
        "w", "v", "n", F.lag("n").over(wv).alias("prev")
    ).filter(F.col("prev").isNotNull())
    tot = cur.groupBy("w").agg(
        F.sum(F.col("n") - F.col("prev")).alias("total_delta")
    )
    return cur.join(tot, "w").select(
        F.col("w").alias("week"),
        F.col("v").alias(dim_col),
        F.col("n").cast("bigint").alias("cur"),
        F.col("prev").cast("bigint").alias("prev"),
        (F.col("n") - F.col("prev")).cast("bigint").alias("delta"),
        F.round(
            F.when(
                F.col("total_delta") != 0,
                (F.col("n") - F.col("prev"))
                / F.col("total_delta").cast("double"),
            ),
            6,
        ).alias("share"),
    )


def kaplan_meier(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    censor_horizon_days: int = 7,
) -> DataFrame:
    """Kaplan–Meier survival curve of user lifetime (public KM 1958) —
    the censoring-correct retention curve: naive 'share of users who
    lasted ≥ t days' treats every still-active user as churned, biasing
    retention DOWN; KM removes censored users from the at-risk set
    instead. A user's lifetime is last_day − first_day; they count as
    churned only when their last event is at least ``censor_horizon_days``
    before the corpus end (otherwise they may still be alive — censored).

    S(t) = Π_{s ≤ t} (1 − d_s/n_s) over distinct lifetimes, computed as
    exp of the running sum of ln terms (the cumulative window is
    sequential in both engines, so the float path is order-identical;
    the 1e−300 floor makes an exhausted risk set a clean 0.0 rather
    than an engine-specific ln(0)).

    Output: (t_days, n_at_risk, n_churned, n_censored, survival) — one
    row per distinct observed lifetime, survival rounded 6.

    Scale: ONE user-keyed agg (the corpus-sized shuffle), a ≤#users-key
    lifetime rollup, then windows over #distinct-lifetimes rows.
    """
    if censor_horizon_days < 0:
        raise ValueError("censor_horizon_days must be >= 0")
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    per = events.groupBy(F.col(user_col).alias("u")).agg(
        F.min(day).alias("f"), F.max(day).alias("l")
    )
    maxd = per.agg(F.max("l").alias("maxd"))
    lab = per.crossJoin(F.broadcast(maxd)).select(
        (F.col("l") - F.col("f")).alias("t"),
        (F.col("l") <= F.col("maxd") - censor_horizon_days)
        .cast("int")
        .alias("churned"),
    )
    tbl = lab.groupBy("t").agg(
        F.sum("churned").alias("d"),
        F.sum(F.lit(1) - F.col("churned")).alias("c"),
    )
    # at risk at lifetime t = everyone whose lifetime is >= t: a forward
    # cumulative over the lifetime table — fully lazy, no driver count
    wf = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    wk = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = F.sum(F.col("d") + F.col("c")).over(wf)
    staged = tbl.select(
        "t",
        "d",
        "c",
        at_risk.alias("n"),
    )
    term = F.log(
        F.greatest(
            F.lit(1.0) - F.col("d").cast("double") / F.col("n").cast("double"),
            F.lit(1e-300),
        )
    )
    return staged.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_churned"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.round(F.exp(F.sum(term).over(wk)), 6).alias("survival"),
    )


def forecast_eval(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    season_days: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast error on daily volume — the baseline
    every forecasting effort must beat before it earns a model:
    ŷ(d) = y(d − season) over the spined series, scored with MAE
    (exact integers), MAPE (zero-actual days excluded — division by
    the actual, the classic MAPE caveat, documented not hidden), and
    sMAPE (defined on all days except 0/0, which contributes 0 —
    the standard convention). A model that can't beat these numbers is
    a regression; publishing them per snapshot is the guardrail.

    Output: ONE row (n_eval, n_mape_eval, mae, mape, smape) — errors
    rounded 6; MAE exact before rounding (integer sums).

    Scale: one day-keyed count + the spine + a self-join shifted by
    ``season_days`` on #days rows.
    """
    if season_days < 1:
        raise ValueError("season_days must be >= 1")
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    counts = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    bounds = counts.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    daily = spine.join(counts, "d", "left").select(
        "d", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    pred = daily.select(
        (F.col("d") + season_days).alias("d"), F.col("x").alias("yhat")
    )
    j = daily.join(pred, "d")  # inner: only days with a seasonal lag
    ae = F.abs(F.col("x") - F.col("yhat"))
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(F.when(F.col("x") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mape_eval"),
        F.round(
            F.sum(ae).cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mae"),
        F.round(
            F.sum(
                F.when(
                    F.col("x") > 0,
                    ae.cast("double") / F.col("x").cast("double"),
                )
            )
            / F.sum(F.when(F.col("x") > 0, 1).otherwise(0)).cast("double"),
            6,
        ).alias("mape"),
        F.round(
            F.sum(
                F.when(
                    (F.col("x") + F.col("yhat")) > 0,
                    F.lit(2.0) * ae.cast("double")
                    / (F.col("x") + F.col("yhat")).cast("double"),
                ).otherwise(F.lit(0.0))
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("smape"),
    )
