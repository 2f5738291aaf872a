"""Pins for the dirty-data ingestion contracts introduced by the
NULL/NaN-injection probe (``check_oracle.py --perturb nulls``, round 8).

Each test freezes one contract the probe forced: what an operator does
with NULL / NaN / Inf / degenerate rows. The probe grades the WHOLE
registry against DuckDB on a dirtied corpus; these are the fast
unit-level sentinels so a regression fails in seconds, not in the
15-minute sweep.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from database2ogr_spark.operators.cleaning import drop_nonfinite, finite_or_null
from database2ogr_spark.operators.similarity import valid_embeddings


def test_valid_embeddings_filters_every_degenerate_class(spark):
    rows = [
        (1, [1.0, 2.0]),          # valid
        (2, None),                 # null vector
        (3, []),                   # empty
        (4, [0.0, 0.0]),           # zero norm
        (5, [1.0, float("nan")]),  # NaN element
        (6, [1.0, float("inf")]),  # Inf element
        (7, [None, 1.0]),          # null element
        (8, [-0.5, 0.0]),          # valid (nonzero norm)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = sorted(r.vec_id for r in valid_embeddings(df).collect())
    assert kept == [1, 8]


def test_finite_or_null_keeps_nulls_drops_nonfinite(spark):
    df = spark.createDataFrame(
        [(1, 1.5), (2, None), (3, float("nan")), (4, float("inf")),
         (5, float("-inf"))],
        "id long, value double",
    )
    kept = sorted(r.id for r in drop_nonfinite(df).collect())
    assert kept == [1, 2]
    # the predicate itself is usable in-plan
    flags = {
        r.id: r.ok
        for r in df.select("id", finite_or_null(F.col("value")).alias("ok")).collect()
    }
    assert flags == {1: True, 2: True, 3: False, 4: False, 5: False}


def test_registered_domain_null_propagates(spark):
    from database2ogr_spark.functions.urls import registered_domain, url_host

    df = spark.createDataFrame(
        [(1, "http://www.a.example.com/x"), (2, None)], "id long, url string"
    )
    out = {
        r.id: r.d
        for r in df.select(
            "id", registered_domain(url_host(F.col("url"))).alias("d")
        ).collect()
    }
    assert out[1] == "example.com"
    assert out[2] is None, "NULL host must give NULL domain, never ''"


def test_gap_fill_null_measurement_is_not_an_observation(spark):
    from database2ogr_spark.operators.timeseries import gap_fill_locf

    # same bucket: NULL value at the LATER timestamp must NOT win arg_max
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0, 1),
            (1, "2024-01-01 00:30:00", None, 2),
        ],
        "user_id long, ts string, value double, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = gap_fill_locf(df, unit="hour").collect()
    assert len(out) == 1
    assert out[0].value_filled == 10.0 and out[0].observed


def test_temporal_split_discards_unplaceable_rows(spark):
    from database2ogr_spark.operators.sampling import temporal_split

    df = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 00:00:00"),
            (2, 7, None),          # no time -> discard
            (3, None, "2024-01-01 00:00:00"),  # no identity -> discard
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.event_id: r.split for r in
           temporal_split(df, cutoff="2024-06-01 00:00:00").collect()}
    assert out == {1: "train", 2: "discard", 3: "discard"}


def test_asof_join_null_key_left_rows_keep_no_match(spark):
    from database2ogr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, 7, "2024-01-01 01:00:00"),
            (2, None, "2024-01-01 01:00:00"),  # null key: must NOT match
            (3, 7, None),                       # null time: dropped
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (7, "2024-01-01 00:00:00", 5.0),
            (None, "2024-01-01 00:00:00", 9.9),  # null-key state: dropped
        ],
        "user_id long, ts string, state double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.event_id: r.asof_state for r in
           asof_join(left, right, key="user_id", value_cols=["state"])
           .withColumnRenamed("asof_state", "asof_state").collect()}
    assert out == {1: 5.0, 2: None}


def test_weak_label_null_is_negative(spark):
    from database2ogr_spark.operators.classifier import quality_classifier_scores

    df = spark.createDataFrame(
        [(1, "the and of to in is that it was for", "en"),
         (2, "le la les de des et est une", None),   # NULL lang: negative
         (3, None, "en")],                            # NULL text: excluded
        "doc_id long, text string, lang string",
    )
    out = quality_classifier_scores(df, F.col("lang") == "en").collect()
    labels = {r.doc_id: r.label for r in out}
    assert labels == {1: 1, 2: 0}, "null label -> 0; null text -> no row"


def test_windowed_and_sessionize_drop_null_event_time(spark):
    from database2ogr_spark.streaming.events import (
        sessionize,
        windowed_event_counts,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", 7, "view", 1.0, "{}"),
         (2, None, 7, "view", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert windowed_event_counts(df).agg(F.sum("n_events")).collect()[0][0] == 1
    assert sessionize(df).agg(F.sum("n_events")).collect()[0][0] == 1


def test_cents_encoding_survives_inf_metric(spark):
    """The class that motivated finite_or_null: one Inf value used to kill
    the whole job with CAST_OVERFLOW at the cents cast under ANSI."""
    from database2ogr_spark.operators.funnel import rfm_segments

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0),
            (2, "2024-01-02 00:00:00", float("inf")),
            (3, "2024-01-03 00:00:00", float("nan")),
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # must not raise; the Inf/NaN rows are excluded by contract
    assert rfm_segments(df).count() >= 1


def test_nan_is_comparable_in_probe_normalization():
    # norm_cell maps NaN to a stable token on both engines' fetch paths
    import importlib.util, sys

    spec = importlib.util.spec_from_file_location(
        "check_oracle", "scripts/check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["check_oracle"] = mod
    spec.loader.exec_module(mod)
    assert mod.norm_cell(float("nan")) == "NaN"
    assert mod.norm_cell(1.0) == 1.0 and math.isinf(mod.norm_cell(float("inf")))


def test_plausible_time_domain_classes(spark):
    from database2ogr_spark.operators.cleaning import within_time_domain

    df = spark.createDataFrame(
        [
            (1, "2024-06-15 12:00:00"),            # in domain
            (2, "1969-12-31 23:59:59.500001"),     # negative epoch w/ fraction
            (3, "1965-03-02 12:00:00.250000"),     # deep pre-1970
            (4, "2199-12-31 23:59:59.999999"),     # far future
            (5, None),                              # null (fails both bounds)
            (6, "1970-01-01 00:00:00"),            # inclusive lower edge
        ],
        "id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kept = sorted(r.id for r in within_time_domain(df).collect())
    assert kept == [1, 6]


def test_negative_epoch_truncation_is_the_divergence_the_domain_excludes(spark):
    """The arithmetic fact the domain guard exists for: Spark's
    unix_timestamp truncates seconds toward zero, SQL floor(epoch(ts))
    goes toward -inf — off-by-one on every pre-1970 fractional second."""
    import duckdb

    lit = "1965-03-02 12:00:00.250000"
    s = (
        spark.range(1)
        .select(F.unix_timestamp(F.lit(lit).cast("timestamp")).alias("e"))
        .collect()[0].e
    )
    d = duckdb.sql(
        f"SELECT CAST(floor(epoch(TIMESTAMP '{lit}')) AS BIGINT)"
    ).fetchone()[0]
    assert s == d + 1, (s, d)


def test_asof_join_numeric_time_columns_still_work(spark):
    """The domain guard is timestamp-only: numeric time axes (version
    numbers, offsets) keep plain not-null semantics."""
    from database2ogr_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, 10.0), (2, 7, None)], "event_id long, k long, t double"
    )
    right = spark.createDataFrame(
        [(7, 5.0, 42.0)], "k long, t double, state double"
    )
    out = {r.event_id: r.asof_state for r in
           asof_join(left, right, key="k", left_time="t", right_time="t",
                     value_cols=["state"]).collect()}
    assert out == {1: 42.0}


def test_gap_fill_span_is_bounded_by_the_domain(spark):
    """ONE corrupt 1965 row must not inflate a user's hourly grid by
    half a million buckets — the fan-out hazard the domain guard bounds."""
    from database2ogr_spark.operators.timeseries import gap_fill_locf

    df = spark.createDataFrame(
        [
            (1, "1965-01-01 00:00:00", 1.0, 1),
            (1, "2024-01-01 00:00:00", 2.0, 2),
            (1, "2024-01-01 02:00:00", 3.0, 3),
        ],
        "user_id long, ts string, value double, event_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = gap_fill_locf(df, unit="hour").collect()
    assert len(out) == 3, "grid spans 2024 only, not 59 years"
