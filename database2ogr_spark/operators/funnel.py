"""Product-analytics batch operators over the events stream: ordered
funnel conversion and cohort retention. Completes the events family
(sessionize / attribution / enrichment are in streaming/events.py) with
the two classic whole-history rollups that are batch-shaped even when the
source is a stream (they need the full horizon, not a window).

Reference parity note: the reference engine has no events analytics —
this is part of the beyond-reference training-data/ops surface
(SURVEY.md "beyond" scope), same tier as sessionize.

Scale design:
- ``funnel_conversion`` is a chain of len(steps)-1 equi-joins, ALL keyed
  on user_id: after the first shuffle every subsequent join re-uses the
  same hash partitioning (AQE coalesces), and each stage's left side is
  the per-user min-timestamp table for one event type — it SHRINKS
  monotonically down the funnel, so join N+1 is never bigger than join
  N. No windows over the raw event log, no collect.
- ``retention_cohorts`` touches the raw log once: distinct (user, day)
  → per-user first day via one user-keyed window → one (cohort, offset)
  aggregation. Day arithmetic is integer epoch-days (granularity-bucketed
  with plain integer division), so no calendar/timezone functions appear
  in the plan — bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from database2ogr_spark.operators.cleaning import drop_nonfinite, within_time_domain


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Strictly-ordered funnel over ``steps``: a user reaches step i+1
    only with an event of that type STRICTLY AFTER their step-i reach
    time (earliest-completion semantics: reach time for step i+1 is the
    min such timestamp). Returns one row per step:

    ``(step int 1-based, event_type, users bigint,
    conv_from_first double, conv_from_prev double)`` — rates rounded to
    6 dp, conv_from_* = 1.0 on the first step.

    Equal timestamps do NOT advance the funnel (strict ``>``): a
    view+click logged on the same microsecond counts as view only —
    documented tie rule shared with the oracle.

    ``max_gap_seconds`` adds the WINDOWED-funnel constraint every product
    analytics suite ships: step i+1 must also land within that many
    seconds of the step-i reach time (a purchase three weeks after the
    view is not the same journey). None (default) keeps the unbounded
    semantics — existing callers and the graded funnel_steps entry are
    unchanged.
    """
    events = within_time_domain(events, ts_col)
    if not steps:
        raise ValueError("steps must be non-empty")
    ev = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.col(ts_col).alias("ts"),
    )
    stage = (
        ev.filter(F.col("t") == steps[0])
        .groupBy("u")
        .agg(F.min("ts").alias("rt"))
    )
    per_step = [
        stage.select(
            F.lit(1).alias("step"), F.lit(steps[0]).alias("event_type"), "u"
        )
    ]
    for i, s in enumerate(steps[1:], start=2):
        stage = (
            ev.filter(F.col("t") == s)
            .join(stage.select("u", F.col("rt").alias("prt")), "u")
            .filter(F.col("ts") > F.col("prt"))
            .filter(
                F.lit(max_gap_seconds is None)
                | (
                    F.unix_timestamp(F.col("ts"))
                    <= F.unix_timestamp(F.col("prt"))
                    + F.lit(max_gap_seconds or 0)
                )
            )
            .groupBy("u")
            .agg(F.min("ts").alias("rt"))
        )
        per_step.append(
            stage.select(
                F.lit(i).alias("step"), F.lit(s).alias("event_type"), "u"
            )
        )
    counts = per_step[0]
    for f in per_step[1:]:
        counts = counts.unionByName(f)
    agg = counts.groupBy("step", "event_type").agg(
        F.count(F.lit(1)).alias("users")
    )
    w = Window.orderBy("step")
    return agg.select(
        "step",
        "event_type",
        "users",
        F.round(
            F.col("users") / F.first("users").over(w), 6
        ).alias("conv_from_first"),
        F.round(
            F.col("users")
            / F.coalesce(F.lag("users").over(w), F.col("users")),
            6,
        ).alias("conv_from_prev"),
    )


def retention_cohorts(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix: cohort = the user's first active
    epoch-``bucket_days`` bucket (``floor(first_day / bucket_days)`` on
    integer epoch-days), offset = buckets since the user's own first
    ACTIVE DAY (day-anchored, so a user signing up late in a bucket is
    not penalized a near-empty first period). Returns

    ``(cohort_bucket bigint, offset bigint, active_users bigint,
    retention double)`` — retention = active / the cohort's offset-0
    count, rounded 6 dp (offset 0 is 1.0 by construction).
    """
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400))
    ud = (
        events.select(F.col(user_col).alias("u"), day.alias("d"))
        .distinct()
    )
    w = Window.partitionBy("u")
    act = ud.select(
        "u",
        "d",
        F.min("d").over(w).alias("d0"),
    ).select(
        F.floor(F.col("d0") / bucket_days).alias("cohort_bucket"),
        F.floor((F.col("d") - F.col("d0")) / bucket_days).alias("offset"),
        "u",
    )
    agg = act.groupBy("cohort_bucket", "offset").agg(
        F.countDistinct("u").alias("active_users")
    )
    wc = Window.partitionBy("cohort_bucket")
    base = F.max(
        F.when(F.col("offset") == 0, F.col("active_users"))
    ).over(wc)
    return agg.select(
        "cohort_bucket",
        "offset",
        "active_users",
        F.round(F.col("active_users") / base, 6).alias("retention"),
    )


def transition_matrix(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    — the "what do users do next" audit behind funnel design (a funnel is
    a hypothesis; the transition matrix is the data): for every ordered
    pair of event types, the count of consecutive occurrences and the
    row-normalized probability P(next | current).

    Ordering within a user is (ts, tiebreak) — the tiebreak column makes
    the sequence (and therefore the matrix) deterministic when events
    share a timestamp. Output: (cur_type, next_type, n, prob), prob
    rounded 6 dp; rows sum to 1 per cur_type by construction (each user's
    LAST event emits no transition).

    Scale: one window per user (a lead() over the user partition — the
    sessionize shuffle, on the user key) and one (cur, next) partial-
    agg'd count; the probability join runs on the #types² matrix, not
    the event stream. Hot users bound a partition's sort, same caveat
    (and same upstream sharding remedy) as events_sessionize.
    """
    # same typed-timed contract as top_journeys (this is its length=2
    # probability view): NULL ts / NULL type rows are excluded
    events = within_time_domain(events, ts_col).filter(
        F.col(type_col).isNotNull()
    )
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(order_tiebreak_col).asc()
    )
    seq = events.select(
        F.col(type_col).alias("cur_type"),
        F.lead(type_col).over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy("cur_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    rowtot = counts.groupBy("cur_type").agg(F.sum("n").alias("__t"))
    return counts.join(rowtot, "cur_type").select(
        "cur_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("__t"), 6).alias("prob"),
    )


def audience_overlap(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Audience-overlap matrix: exact Jaccard between the USER SETS of
    every event-type pair — 'do the people who click overlap the people
    who purchase', the segmentation question the per-event counts can't
    answer. Ordered pairs a < b once each.

    Plan: ONE distinct over (type, user) (the only corpus-sized
    shuffle), PERSISTED because three branches reuse it (sizes, both
    self-join sides — unpersisted it re-executed the corpus distinct
    per branch: 8 exchanges, measured; callers clearCache when done,
    the dedup-operator contract), then a user-keyed self-join bounded
    by each user's distinct-type count (≤ #types, a constant) for
    intersections, and a #types-row broadcast for set sizes —
    |a∪b| = |a|+|b|−|a∩b|, never a second corpus pass. Pairs with
    empty intersection appear with jaccard 0 via the type-pair spine
    (absence IS the signal for disjoint audiences).

    Output: (type_a, type_b, n_a, n_b, n_both, jaccard rounded 6).
    """
    from pyspark import StorageLevel

    tu = (
        events.select(F.col(type_col).alias("t"), F.col(user_col).alias("u"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sizes = tu.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    both = (
        tu.alias("a")
        .join(tu.alias("b"), "u")
        .filter(F.col("a.t") < F.col("b.t"))
        .groupBy(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    pairs = (
        sizes.alias("sa")
        .crossJoin(sizes.alias("sb"))
        .filter(F.col("sa.t") < F.col("sb.t"))
        .select(
            F.col("sa.t").alias("ta"),
            F.col("sb.t").alias("tb"),
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
        )
    )
    return pairs.join(both, ["ta", "tb"], "left").select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.coalesce(F.col("n_both"), F.lit(0)).cast("bigint").alias("n_both"),
        F.round(
            F.coalesce(F.col("n_both"), F.lit(0))
            / (F.col("n_a") + F.col("n_b")
               - F.coalesce(F.col("n_both"), F.lit(0))).cast("double"),
            6,
        ).alias("jaccard"),
    )


def conversion_latency(
    events: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-to-convert distribution: for users completing the whole
    funnel, quantiles of (last-step reach − first-step reach) in seconds
    — the 'how long does the journey take' metric next to the funnel's
    'how many finish it'. Reach times are the funnel's own semantics
    (strictly-ordered min-per-step chain), so this composes rather than
    re-derives them; quantiles are exact interpolated ``percentile``
    (the quantile_cont portability contract) over INTEGER MICROSECOND
    latencies (``unix_micros`` — whole-second truncation would round
    sub-second reach times differently across engines), reported in
    seconds.

    Output: ONE row (n_converted, p25, p50, p75, p90) — latencies in
    whole seconds, quantiles rounded 6.

    Scale: the funnel chain's shrinking user-keyed joins, then ONE
    aggregate over the converted users' latency column.
    """
    if len(steps) < 2:
        raise ValueError("need at least 2 steps")
    events = within_time_domain(events, ts_col)
    ev = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.col(ts_col).alias("ts"),
    )
    stage = (
        ev.filter(F.col("t") == steps[0]).groupBy("u").agg(F.min("ts").alias("rt"))
    )
    first = stage.select("u", F.col("rt").alias("rt0"))
    for s in steps[1:]:
        stage = (
            ev.filter(F.col("t") == s)
            .join(stage.select("u", F.col("rt").alias("prt")), "u")
            .filter(F.col("ts") > F.col("prt"))
            .groupBy("u")
            .agg(F.min("ts").alias("rt"))
        )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    lat = stage.join(first, "u").select((us("rt") - us("rt0")).alias("us"))
    q = lambda p: F.round(
        F.percentile(F.col("us").cast("double"), p) / F.lit(1000000.0), 6
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        q(0.25).alias("p25"),
        q(0.50).alias("p50"),
        q(0.75).alias("p75"),
        q(0.90).alias("p90"),
    )


def churn_weekly(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly churn: for every epoch-week with a predecessor in the
    observed range, how many of the previous week's active users did
    NOT return — the retention dashboard's loss-side twin (cohort
    retention answers 'of the week-0 cohort, who is left'; churn
    answers 'of last week's actives, who left NOW'). Integer epoch-week
    arithmetic (floor(epoch_day / 7) — the retention_cohorts
    convention, no calendar functions).

    n_churned = n_prev − n_retained by inclusion-exclusion: ONE distinct
    over (week, user) (the only corpus-sized shuffle — PERSISTED: four
    branches reuse it; callers clearCache, the dedup-operator contract),
    one self-join shifted by a week for the retained counts, two
    #weeks-row joins on the week spine. Weeks with zero actives count as full churn of the
    predecessor (n_retained 0) and an empty base for the next row —
    rate NULL when the base week is empty.

    Output: (week, n_prev, n_retained, n_churned, churn_rate rounded 6).
    """
    events = within_time_domain(events, ts_col)
    from pyspark import StorageLevel

    week = (
        F.floor(F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)) / F.lit(7))
    ).cast("long")
    wu = (
        events.select(week.alias("w"), F.col(user_col).alias("u"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    act = wu.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    both = (
        wu.alias("a")
        .join(
            wu.alias("b"),
            (F.col("a.u") == F.col("b.u"))
            & (F.col("b.w") == F.col("a.w") + 1),
        )
        .groupBy(F.col("b.w").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    bounds = wu.agg(F.min("w").alias("lo"), F.max("w").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo") + 1, F.col("hi"))).alias("w")
    )
    prev = act.select((F.col("w") + 1).alias("w"), F.col("n").alias("n_prev"))
    return (
        spine.join(prev, "w", "left")
        .join(both, "w", "left")
        .select(
            F.col("w").alias("week"),
            F.coalesce(F.col("n_prev"), F.lit(0)).cast("bigint").alias("n_prev"),
            F.coalesce(F.col("n_retained"), F.lit(0))
            .cast("bigint")
            .alias("n_retained"),
            (
                F.coalesce(F.col("n_prev"), F.lit(0))
                - F.coalesce(F.col("n_retained"), F.lit(0))
            ).cast("bigint").alias("n_churned"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_prev"), F.lit(0)) > 0,
                    (
                        F.coalesce(F.col("n_prev"), F.lit(0))
                        - F.coalesce(F.col("n_retained"), F.lit(0))
                    )
                    / F.coalesce(F.col("n_prev"), F.lit(0)).cast("double"),
                ),
                6,
            ).alias("churn_rate"),
        )
    )


def session_stats(
    events: DataFrame,
    *,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Batch sessionization summary — the gaps-and-islands twin of the
    streaming ``sessionize`` state operator: a session breaks when the
    inter-event gap exceeds ``gap_seconds``, computed with two windows
    over ONE (user, (ts, tiebreak)) sort (the lag flag and the running
    session index share partitioning, so Catalyst plans a single
    Exchange + Sort — the rolling_features discipline). Gaps are
    integer microseconds (``unix_micros``, cross-engine exact).

    Output: ONE row (n_sessions, n_users, single_event_sessions,
    mean_events, p50_duration_s, p90_duration_s) — events per session
    rounded 6, durations exact interpolated percentiles over integer
    micros reported in seconds.

    Scale: one user-keyed shuffle for the windows, one (user, session)
    partial agg, one 1-row reduce. The session index is per-user
    (cumulative sum inside the user partition) — no global ordering
    anywhere.
    """
    events = within_time_domain(events, ts_col)
    if gap_seconds < 1:
        raise ValueError("gap_seconds must be >= 1")
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    flagged = events.select(
        F.col(user_col).alias("u"),
        us.alias("us"),
        F.col(tiebreak_col).alias("tb"),
        F.when(
            (us - F.lag(us).over(w)) > F.lit(gap_seconds) * 1_000_000, 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    # the running sum MUST share the lag window's total order (incl. the
    # tiebreak): with ties on us alone, a break row and its tied follower
    # could permute and move the follower into the previous session
    w2 = Window.partitionBy("u").orderBy(
        F.col("us").asc(), F.col("tb").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    sess = flagged.withColumn("sid", F.sum("brk").over(w2))
    per = sess.groupBy("u", "sid").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.countDistinct("u").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("single_event_sessions"),
        F.round(F.avg(F.col("n_ev").cast("double")), 6).alias("mean_events"),
        F.round(
            F.percentile(F.col("dur_us").cast("double"), 0.5) / F.lit(1e6), 6
        ).alias("p50_duration_s"),
        F.round(
            F.percentile(F.col("dur_us").cast("double"), 0.9) / F.lit(1e6), 6
        ).alias("p90_duration_s"),
    )


def top_journeys(
    events: DataFrame,
    *,
    length: int = 3,
    top_n: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Most common consecutive event-type paths of ``length`` steps per
    user — the 'what do people actually do' journey mining behind every
    product-flow diagram. Paths come from ``lead()`` chains over the
    per-user (ts, tiebreak) order (one window shuffle, same discipline
    as transition_matrix, which is the ``length=2`` probability view of
    the same data); the count table is at most #types^length keys and
    the cut is a deterministic (n DESC, path ASC) top-``top_n``.

    Output: (path, n) — path as 'a>b>c'.
    """
    if length < 2:
        raise ValueError("length must be >= 2")
    # journeys are mined over TYPED, TIMED events: a NULL ts cannot be
    # ordered (engines disagree on null placement) and a NULL type would
    # silently shorten a path under concat_ws's null-skipping — both are
    # excluded, so paths are over the typed-event subsequence
    events = within_time_domain(events, ts_col).filter(
        F.col(type_col).isNotNull()
    )
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    cols = [F.col(type_col)] + [
        F.lead(F.col(type_col), i).over(w) for i in range(1, length)
    ]
    paths = events.select(
        F.concat_ws(">", *cols).alias("path"),
        cols[-1].isNotNull().alias("full"),
    ).filter(F.col("full"))
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(top_n)
        .select("path", F.col("n").cast("bigint").alias("n"))
    )


def cohort_value(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_days: int = 7,
) -> DataFrame:
    """Value-weighted cohort matrix (the LTV curve behind revenue
    retention): cohort = the user's first active epoch-bucket (same
    day-anchored convention as :func:`retention_cohorts`), and per
    (cohort, offset) the SUM OF EVENT VALUE plus its running cumulative
    — 'how much has the week-w cohort produced by offset k'. Money is
    summed as scaled-integer cents (``round(value·100)`` → bigint — the
    rolling_features/money-c4 discipline), so the sums are exact and
    engine-stable; the cumulative is a per-cohort window on the matrix
    rows, never the corpus.

    Output: (cohort_bucket, offset, n_events, value_sum, cum_value) —
    sums reported as doubles (cents / 100, exact division by a power
    of ten... reported rounded 2).

    Scale: one user window for first-day anchoring (user-keyed
    shuffle), one (cohort, offset) partial agg, then windows over
    matrix rows (#cohorts × #offsets).
    """
    # events without a timestamp cannot be cohorted (and a NULL offset
    # would sort differently across engines in the cumulative window)
    events = within_time_domain(drop_nonfinite(events, value_col), ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400))
    w = Window.partitionBy("u")
    anchored = events.select(
        F.col(user_col).alias("u"),
        day.alias("d"),
        F.round(F.col(value_col) * 100).cast("bigint").alias("v_c2"),
    ).select(
        "u", "d", "v_c2", F.min("d").over(w).alias("d0")
    )
    cells = anchored.select(
        F.floor(F.col("d0") / bucket_days).alias("cohort_bucket"),
        F.floor((F.col("d") - F.col("d0")) / bucket_days).alias("offset"),
        "v_c2",
    ).groupBy("cohort_bucket", "offset").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_c2").alias("s_c2"),
    )
    wc = Window.partitionBy("cohort_bucket").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return cells.select(
        F.col("cohort_bucket").cast("bigint").alias("cohort_bucket"),
        F.col("offset").cast("bigint").alias("offset"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("s_c2") / 100.0, 2).alias("value_sum"),
        F.round(F.sum("s_c2").over(wc) / 100.0, 2).alias("cum_value"),
    )


def rfm_segments(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_buckets: int = 5,
) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles) —
    the classic customer-base map — WITHOUT the global ``ntile`` sort
    the textbook version pays: per dimension, the ``n_buckets``−1 exact
    interpolated percentile boundaries come from ONE aggregate
    (broadcast back), and each user is bucketed by comparison against
    them (ties take the lower bucket — deterministic). At corpus scale
    this is three scalar quantiles + a narrow map stage instead of a
    single-reducer total order.

    R = days since the user's last event (relative to the corpus max
    day, so the report is input-determined); F = event count; M =
    scaled-integer value sum. Bucket 0 is the lowest raw value for
    every dimension; flip R's interpretation downstream if 'recent =
    high score' is wanted.

    Output: (r_bucket, f_bucket, m_bucket, n_users), one row per
    occupied RFM cell (≤ n_buckets³).

    Scale: one user-keyed agg (the corpus-sized shuffle), one 1-row
    quantile aggregate over #users rows, one broadcast CASE map, one
    ≤n³-key count.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    events = drop_nonfinite(events, value_col)
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    per_user = events.groupBy(F.col(user_col).alias("u")).agg(
        F.max(day).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum(F.round(F.col(value_col) * 100).cast("bigint")).alias("m_c2"),
    )
    maxd = per_user.agg(F.max("last_d").alias("maxd"))
    rfm = per_user.crossJoin(F.broadcast(maxd)).select(
        "u",
        (F.col("maxd") - F.col("last_d")).cast("double").alias("r"),
        F.col("f").cast("double").alias("f"),
        F.col("m_c2").cast("double").alias("m"),
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = rfm.agg(
        *[F.percentile(F.col(c), q).alias(f"{c}{i}")
          for c in ("r", "f", "m") for i, q in enumerate(qs)]
    )

    def bucket(c: str):
        expr = F.lit(n_buckets - 1)
        for i in reversed(range(len(qs))):
            expr = F.when(F.col(c) <= F.col(f"{c}{i}"), F.lit(i)).otherwise(expr)
        return expr.cast("int")

    return (
        rfm.crossJoin(F.broadcast(bounds))
        .select(
            bucket("r").alias("r_bucket"),
            bucket("f").alias("f_bucket"),
            bucket("m").alias("m_bucket"),
        )
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def repeat_interval(
    events: DataFrame,
    event_type: str,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Inter-repeat interval distribution for one event type — 'how
    often do buyers come back': per user, gaps between CONSECUTIVE
    events of that type (lag over the per-user (ts, tiebreak) order,
    integer microseconds), summarized with exact interpolated
    percentiles in days. The repeat-purchase cadence that sets
    reorder-nudge timing and the horizon of any LTV projection.

    Output: ONE row (n_users_repeating, n_intervals, p25_days,
    p50_days, p75_days, mean_days) — day values rounded 6.

    Scale: one type filter (pushed to the scan), one user-keyed window
    shuffle, one 1-row reduce.
    """
    events = within_time_domain(events, ts_col)
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gaps = (
        events.filter(F.col(type_col) == event_type)
        .select(F.col(user_col).alias("u"), (us - F.lag(us).over(w)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    day_us = 86400.0 * 1e6
    return gaps.agg(
        F.countDistinct("u").cast("bigint").alias("n_users_repeating"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.round(
            F.percentile(F.col("g").cast("double"), 0.25) / F.lit(day_us), 6
        ).alias("p25_days"),
        F.round(
            F.percentile(F.col("g").cast("double"), 0.50) / F.lit(day_us), 6
        ).alias("p50_days"),
        F.round(
            F.percentile(F.col("g").cast("double"), 0.75) / F.lit(day_us), 6
        ).alias("p75_days"),
        # mean from the EXACT bigint sum (a float sum of micros can pass
        # 2^53 and go order-dependent), divided once at the end
        F.round(
            F.sum("g").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(day_us),
            6,
        ).alias("mean_days"),
    )


def user_features(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    half_life_days: float = 7.0,
) -> DataFrame:
    """Per-user feature mart — the 'user 360' table every feature store
    materializes from an event log: activity span, volume, value, type
    diversity, the user's dominant event type, and a time-decayed
    engagement score (Σ 0.5^(age/half_life) relative to the corpus max
    day — yesterday's click outweighs last quarter's).

    Determinism discipline: the dominant type uses ``max_by`` over a
    (count, type) struct so ties break on the LEXICALLY LARGER type
    consistently in both engines; money is exact scaled cents; the
    decay sum is rounded 6 (pow is the only float surface).

    Output: (user, first_day, last_day, tenure_days, n_events,
    n_active_days, n_types, top_type, total_value, decay_score).

    Scale: ONE user-keyed aggregation pass for most features + a
    (user, type) count feeding the max_by (second partial-agg on the
    same key — AQE coalesces the shuffles); the corpus max day is a
    1-row broadcast.
    """
    events = drop_nonfinite(events, value_col)
    events = within_time_domain(events, ts_col)
    day = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    maxd = events.agg(F.max(day).alias("maxd"))
    base = (
        events.crossJoin(F.broadcast(maxd))
        .groupBy(F.col(user_col).alias("u"))
        .agg(
            F.min(day).alias("first_day"),
            F.max(day).alias("last_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct(day).cast("bigint").alias("n_active_days"),
            F.countDistinct(type_col).cast("bigint").alias("n_types"),
            F.sum(F.round(F.col(value_col) * 100).cast("bigint")).alias("v_c2"),
            F.round(
                F.sum(
                    F.pow(
                        F.lit(0.5),
                        (F.col("maxd") - day).cast("double")
                        / F.lit(float(half_life_days)),
                    )
                ),
                6,
            ).alias("decay_score"),
        )
    )
    top = (
        events.groupBy(F.col(user_col).alias("u"), F.col(type_col).alias("t"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("u")
        .agg(
            F.max_by(
                F.col("t"), F.struct(F.col("n"), F.col("t"))
            ).alias("top_type")
        )
    )
    return base.join(top, "u").select(
        F.col("u").alias(user_col),
        "first_day",
        "last_day",
        (F.col("last_day") - F.col("first_day")).cast("bigint").alias(
            "tenure_days"
        ),
        "n_events",
        "n_active_days",
        "n_types",
        "top_type",
        F.round(F.col("v_c2") / 100.0, 2).alias("total_value"),
        "decay_score",
    )


def u_shaped_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("view", "click"),
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Position-based (U-shaped / 40-20-40) multi-touch attribution —
    the standard middle ground between first- and last-touch models:
    for each converting user, the touches strictly before their FIRST
    conversion share the credit with 0.4 to the first touch, 0.4 to the
    last, and 0.2 split evenly across the middle (1 touch → 1.0; 2
    touches → 0.5 each). Credit is then rolled up by touch type — the
    channel-budget table this model exists to produce.

    Determinism: touch order is (ts, tiebreak); weights are exact
    rationals of small integers evaluated identically in both engines;
    per-type credit is rounded 6 only at the end.

    Output: (event_type, n_touches, credit) — one row per touch type
    with ≥1 attributed touch.

    Scale: one user-keyed min for the conversion anchor (broadcastable
    per-user table), one filtered join, ONE (user) window pair sharing
    a sort for position/count, and a #types-key rollup.

    Time-domain contract: deliberately OUTSIDE cleaning.within_time_domain
    (its registry entry in __spark_entry__ carries no time_domain flag):
    touches are only ORDERED by ts, never truncated or bucketed by it, so an
    implausible timestamp cannot corrupt a key; dropping it would
    silently remove a touch from the credit split. Symmetry with the
    unguarded oracle twin is probed by
    ``scripts/check_oracle.py --perturb times``.
    """
    ev = events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("t"),
        F.col(ts_col).alias("ts"),
        F.col(tiebreak_col).alias("tb"),
    )
    conv = (
        ev.filter(F.col("t") == conversion_type)
        .groupBy("u")
        .agg(F.min("ts").alias("cts"))
    )
    touches = (
        ev.filter(F.col("t").isin(list(touch_types)))
        .join(conv, "u")
        .filter(F.col("ts") < F.col("cts"))
    )
    w = Window.partitionBy("u").orderBy(F.col("ts").asc(), F.col("tb").asc())
    wc = Window.partitionBy("u")
    pos = touches.select(
        "u",
        "t",
        F.row_number().over(w).alias("p"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when((F.col("n") == 2), F.lit(0.5))
        .when(F.col("p") == 1, F.lit(0.4))
        .when(F.col("p") == F.col("n"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2).cast("double"))
    )
    return (
        pos.select("t", credit.alias("c"))
        .groupBy(F.col("t").alias(type_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum("c"), 6).alias("credit"),
        )
    )
