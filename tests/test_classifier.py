"""In-engine weak-label quality classifier: exact-integer training
determinism, learning direction on separable data, and scoring shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from database2ogr_spark.operators.classifier import (
    WEIGHT_SCALE,
    doc_features,
    quality_classifier_scores,
    score_quality_classifier,
    train_quality_classifier,
)


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_training_is_partition_invariant(spark):
    """The scaled-BIGINT gradient quantization makes the per-iteration sum
    exact integer arithmetic — weights must be BIT-identical regardless of
    how the corpus is partitioned (the property float sums cannot give)."""
    d = _docs(spark)
    label = F.col("lang") == "en"
    w_a = train_quality_classifier(d, label)
    w_b = train_quality_classifier(d.repartition(13), label)
    w_c = train_quality_classifier(d.coalesce(1), label)
    assert w_a == w_b == w_c
    assert any(w != 0 for w in w_a)  # training actually moved the weights


def test_classifier_learns_separable_weak_label(spark):
    """lang == 'en' is predictable from the stopword-fraction feature, so
    three GD steps must already separate the classes: mean predicted
    probability for English docs strictly above the non-English mean."""
    out = quality_classifier_scores(_docs(spark), F.col("lang") == "en")
    rows = out.collect()
    en = [r.prob for r in rows if r.label == 1]
    other = [r.prob for r in rows if r.label == 0]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)
    # every row scored, probabilities valid
    assert len(rows) == _docs(spark).count()
    assert all(0.0 <= r.prob <= 1.0 for r in rows)


def test_features_deterministic_and_bounded(spark):
    f = doc_features(_docs(spark)).collect()
    for r in f:
        assert r.x0 == 1.0
        assert r.x1 >= 0.0  # ln(1+tokens)
        assert r.x2 >= 0.0  # mean word length
        assert 0.0 <= r.x3 <= 1.0  # stopword fraction
        assert 0.0 <= r.x4 <= 1.0  # punct fraction


def test_scoring_with_zero_weights_is_half(spark):
    out = score_quality_classifier(_docs(spark).limit(5), [0, 0, 0, 0, 0])
    for r in out.collect():
        assert r.prob == 0.5 and r.predicted  # p >= 0.5 threshold


def test_lr_must_keep_update_integral(spark):
    import pytest

    d = _docs(spark).limit(3)
    with pytest.raises(ValueError):
        train_quality_classifier(d, F.lit(True), lr=1 / 3000)
    # a valid lr that scales to an integer factor passes
    w = train_quality_classifier(d, F.lit(True), n_iter=1, lr=0.001)
    assert len(w) == 5


def test_training_leaves_no_cached_tables(spark):
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    train_quality_classifier(_docs(spark), F.col("lang") == "en")
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_weights_have_expected_scale(spark):
    w = train_quality_classifier(_docs(spark), F.col("lang") == "en")
    # real-unit weights stay in a sane band for lr=0.1 over 3 steps
    assert all(abs(x) / WEIGHT_SCALE < 10 for x in w)


def test_pmi_bigrams_hand_computed(spark):
    """Tiny corpus with one dominant collocation: 'spark shuffle' occurs
    in every doc, 'the the' never adjacently — PMI ranks the true
    collocation on top and exact counts match hand arithmetic."""
    import math

    from database2ogr_spark.operators.collocations import pmi_bigrams

    rows = [(i, "the spark shuffle moves the data rows") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_bigrams(df, min_count=5, top_n=10).collect()
    got = {(r.token_a, r.token_b): (r.n_pair, r.pmi) for r in out}
    # 7 tokens/doc -> N=42; 6 bigrams/doc -> M=36; every pair count = 6
    n_pair, pmi = got[("spark", "shuffle")]
    assert n_pair == 6
    expected = round(math.log((6 / 36) / ((6 / 42) * (6 / 42))), 6)
    assert abs(pmi - expected) < 1e-9
    # 'the'-anchored pairs get LOWER pmi (c_the = 12, twice as common)
    assert got[("the", "spark")][1] < pmi


def test_pmi_bigrams_respects_min_count_and_top_n(spark):
    from database2ogr_spark.operators.collocations import pmi_bigrams

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pmi_bigrams(docs, min_count=5, top_n=7).collect()
    assert 0 < len(out) <= 7
    assert all(r.n_pair >= 5 for r in out)
    pmis = [r.pmi for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_stupid_backoff_chain_hand_computed(spark):
    """Train on doc 1 only; doc 2 exercises every rung of the backoff:
    seen trigram, backed-off bigram, backed-off unigram, OOV floor."""
    import math

    from pyspark.sql import functions as F

    from database2ogr_spark.operators.tfidf import stupid_backoff_score

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c zzz")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_trigrams, r.logprob)
        for r in stupid_backoff_score(df, F.col("doc_id") == 1).collect()
    }
    # train corpus "a b c d": N=4; trigrams abc, bcd; bigrams ab, bc, cd
    # doc1 events: abc -> c(abc)/c(ab.)=1/1; bcd -> 1/1 => mean ln = 0
    assert out[1] == (2, 0.0)
    # doc2 events: abc -> 1.0 ; "b c zzz" -> trigram unseen, bigram
    # (c,zzz) unseen, unigram zzz unseen -> 0.4 * 0.4 * (1/4)
    exp = round((math.log(1.0) + math.log(0.4 * (0.4 * (1 / 4)))) / 2, 6)
    assert abs(out[2][1] - exp) < 1e-9


def test_stupid_backoff_held_out_scores_lower(spark):
    """Held-out docs must average lower scores than in-train docs (their
    events back off); scores are deterministic under repartitioning."""
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.tfidf import stupid_backoff_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cond = F.col("doc_id") % 3 != 0
    out = stupid_backoff_score(docs, cond).collect()
    in_train = [r.logprob for r in out if r.doc_id % 3 != 0]
    held = [r.logprob for r in out if r.doc_id % 3 == 0]
    assert in_train and held
    assert sum(in_train) / len(in_train) > sum(held) / len(held)


def test_calibration_report_exact_bins(spark):
    from database2ogr_spark.operators.classifier import calibration_report

    scored = spark.createDataFrame(
        [
            (1, 1, 0.05), (2, 0, 0.08),          # bin 0
            (3, 1, 0.55), (4, 1, 0.59),          # bin 5
            (5, 0, 1.0),                          # prob=1.0 clamps into bin 9
        ],
        ["doc_id", "label", "prob"],
    )
    rows = {
        r.bin: (r.bin_lo, r.n, r.n_pos, r.pos_rate, r.mean_prob)
        for r in calibration_report(scored).collect()
    }
    assert set(rows) == {0, 5, 9}
    assert rows[0] == (0.0, 2, 1, 0.5, round((0.05 + 0.08) / 2, 6))
    assert rows[5] == (0.5, 2, 2, 1.0, round((0.55 + 0.59) / 2, 6))
    assert rows[9] == (0.9, 1, 0, 0.0, 1.0)


def test_calibration_report_plan_is_one_small_shuffle(spark):
    """Arithmetic bins — no ntile/global sort; the only exchange is the
    ≤n_bins-key aggregation."""
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.classifier import calibration_report

    scored = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("int").alias("label"),
        (F.col("id") / 100.0).alias("prob"),
    )
    plan = (
        calibration_report(scored)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "Exchange rangepartitioning" not in plan and "Window" not in plan


def test_auc_report_hand_computed_with_ties(spark):
    from database2ogr_spark.operators.classifier import auc_report

    # scores: pos {0.9, 0.7, 0.5}, neg {0.5, 0.3}
    # pairs: (0.9 vs .5,.3)=2, (0.7 vs .5,.3)=2, (0.5 vs .3)=1, (0.5 vs .5)=0.5
    # U = 5.5, P*N = 6 -> AUC = 0.916667
    df = spark.createDataFrame(
        [(0.9, 1), (0.7, 1), (0.5, 1), (0.5, 0), (0.3, 0)],
        "prob double, label int",
    )
    r = auc_report(df).collect()[0]
    assert (r.n_pos, r.n_neg) == (3, 2)
    assert r.auc == round(5.5 / 6, 6)


def test_auc_report_degenerate_single_class(spark):
    from database2ogr_spark.operators.classifier import auc_report

    df = spark.createDataFrame([(0.9, 1), (0.4, 1)], "prob double, label int")
    r = auc_report(df).collect()[0]
    assert r.n_neg == 0 and r.auc is None


def test_auc_report_perfect_separation(spark):
    from database2ogr_spark.operators.classifier import auc_report

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "prob double, label int"
    )
    assert auc_report(df).collect()[0].auc == 1.0


def test_expected_calibration_error_hand_computed(spark):
    from database2ogr_spark.operators.classifier import (
        expected_calibration_error,
    )

    # bin 0.0-0.1: probs .05/.05 labels 1,0 -> pos_rate .5, mean_prob .05
    # bin 0.9-1.0: probs .95 label 1 -> pos_rate 1.0, mean_prob .95
    df = spark.createDataFrame(
        [(1, 0.05), (0, 0.05), (1, 0.95)], "label int, prob double"
    )
    r = expected_calibration_error(df).collect()[0]
    # ECE = (2/3)*|0.5-0.05| + (1/3)*|1.0-0.95| = 0.3 + 0.016667
    assert r.n_rows == 3 and r.n_bins_used == 2
    assert abs(r.ece - (2 / 3 * 0.45 + 1 / 3 * 0.05)) < 1e-5


def test_ece_perfectly_calibrated_is_small(spark):
    from database2ogr_spark.operators.classifier import (
        expected_calibration_error,
    )

    rows = []
    for b in range(10):
        p = b / 10 + 0.05
        n_pos = b  # of 10 rows in the bin, b positive -> pos_rate ~ p
        rows += [(1, p)] * n_pos + [(0, p)] * (10 - n_pos)
    df = spark.createDataFrame(rows, "label int, prob double")
    r = expected_calibration_error(df).collect()[0]
    assert r.ece < 0.06


def test_auc_by_group_matches_global_per_slice(spark):
    from database2ogr_spark.operators.classifier import auc_by_group, auc_report

    rows = (
        # slice A: perfect separation -> auc 1.0
        [("A", 1, 0.9), ("A", 1, 0.8), ("A", 0, 0.2), ("A", 0, 0.1)]
        # slice B: anti-separation -> auc 0.0
        + [("B", 0, 0.9), ("B", 1, 0.1)]
        # slice C: single class -> NULL
        + [("C", 1, 0.5), ("C", 1, 0.6)]
    )
    df = spark.createDataFrame(rows, "g string, label int, prob double")
    out = {r.g: r for r in auc_by_group(df, "g").collect()}
    assert out["A"].auc == 1.0 and (out["A"].n_pos, out["A"].n_neg) == (2, 2)
    assert out["B"].auc == 0.0
    assert out["C"].auc is None
    # each slice equals the global report run on that slice alone
    for g in ("A", "B"):
        solo = auc_report(df.filter(df.g == g)).collect()[0]
        assert solo.auc == out[g].auc


def test_best_threshold_youden_hand_computed(spark):
    from database2ogr_spark.operators.classifier import best_threshold

    # positives at .9/.8, negatives at .4/.1, one hard negative at .85
    df = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.85), (0, 0.4), (0, 0.1)],
        "label int, prob double",
    )
    r = best_threshold(df).collect()[0]
    # thresholds: .9 -> J=.5-0; .85 -> .5-1/3; .8 -> 1-1/3=.667 (best);
    # .4 -> 1-2/3; .1 -> 0
    assert r.threshold == 0.8
    assert abs(r.j - (1.0 - 1 / 3)) < 1e-5
    assert r.tpr == 1.0 and abs(r.fpr - 1 / 3) < 1e-5


def test_best_threshold_single_class_empty(spark):
    from database2ogr_spark.operators.classifier import best_threshold

    df = spark.createDataFrame([(1, 0.5), (1, 0.9)], "label int, prob double")
    assert best_threshold(df).collect() == []


def test_brier_score_hand_values(spark):
    from database2ogr_spark.operators.classifier import brier_score

    # two rows: (p=.8,y=1) -> .04 ; (p=.4,y=0) -> .16 ; brier = .10
    # base rate .5 -> reference .25 -> bss = 1 - .4 = .6
    df = spark.createDataFrame([(1, 0.8), (0, 0.4)], "label int, prob double")
    r = brier_score(df).collect()[0]
    assert r.n_rows == 2
    assert abs(r.brier - 0.10) < 1e-9
    assert abs(r.reference - 0.25) < 1e-9
    assert abs(r.bss - 0.6) < 1e-9
    # single-class input -> reference 0 -> NULL bss
    one = spark.createDataFrame([(1, 0.9), (1, 0.7)], "label int, prob double")
    assert brier_score(one).collect()[0].bss is None
    # perfect predictions -> brier 0, bss 1
    perf = spark.createDataFrame([(1, 1.0), (0, 0.0)], "label int, prob double")
    rp = brier_score(perf).collect()[0]
    assert rp.brier == 0.0 and abs(rp.bss - 1.0) < 1e-9
