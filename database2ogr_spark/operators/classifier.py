"""In-engine weak-label quality classifier (distributed logistic
regression) — the trainable companion to the rule-based
``functions/textstats.quality_score``.

Large-corpus pipelines (public: GPT-3 / CCNet / Gopher data work) filter
web text with a lightweight classifier trained on weak labels ("looks like
the curated corpus" vs "looks like crawl"); this module trains that
classifier INSIDE the engine over the same deterministic text features the
rest of the repo grades, so the whole quality cascade — featurize → train →
score → threshold — runs as Spark plans with no external ML system.

Scale shape (the k-means pattern, ``operators/clustering.py``): each
gradient-descent iteration aggregates ONE row of ``n_features`` partial
sums — corpus-size-independent driver state, a broadcast-sized weight
vector back out, no shuffle that grows with the corpus.  Determinism is
the PageRank trick (``operators/graph.py``): per-row gradient
contributions are quantized to scaled BIGINTs *before* the sum, so the
aggregation is exact integer arithmetic — bit-identical across
partitionings, retries, and engines — and weights advance by
integer-valued updates the DuckDB oracle replays with unrolled CTEs.

Training runs a FIXED number of full-batch GD steps (default 3) — the
oracle-replayable training kernel; a production fit would iterate to
convergence with the same per-step plan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.functions.textstats import (
    mean_word_length,
    punct_ratio,
    stopword_ratio,
    whitespace_token_count,
)

#: per-row gradient quantization: g = round(residual * x * GRAD_SCALE)
GRAD_SCALE = 1_000_000
#: stored weight resolution: w_real = w_scaled / WEIGHT_SCALE
WEIGHT_SCALE = 1_000_000_000
#: cross-engine rounding contract for features and probabilities
FEATURE_DECIMALS = 6
PROB_DECIMALS = 9

#: feature names in plan order (x0 is the bias term)
FEATURES = ("bias", "log_tokens", "mean_wlen", "stopword_frac", "punct_frac")


def _round_half_away(v: float) -> float:
    """Round-half-away-from-zero to an integer — Python's ``round`` is
    banker's, but Spark ``round`` and DuckDB ``round`` are both
    half-away; weight updates must use the engines' rule."""
    return math.copysign(math.floor(abs(v) + 0.5), v)


def doc_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """The deterministic per-doc feature row (id, x0..x4), every component
    rounded to FEATURE_DECIMALS so both engines hold identical doubles:
    bias 1, ln(1+whitespace tokens), mean word length, English stopword
    fraction, punctuation fraction — all built from the same textstats
    primitives the green text_quality/lang_id entries replay in SQL.
    ``extra`` names input columns carried through (e.g. a label)."""
    # a document with NULL text has no text features: excluded at the
    # featurization boundary (mirrored by WHERE text IS NOT NULL in the
    # oracle logreg twin) — the documents-family dirty-data contract
    df = df.filter(F.col(text_col).isNotNull())
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra],
        F.lit(1.0).alias("x0"),
        F.round(F.log(F.lit(1.0) + whitespace_token_count(text_col)), FEATURE_DECIMALS).alias("x1"),
        F.round(mean_word_length(text_col), FEATURE_DECIMALS).alias("x2"),
        F.round(stopword_ratio(text_col), FEATURE_DECIMALS).alias("x3"),
        F.round(punct_ratio(text_col), FEATURE_DECIMALS).alias("x4"),
    )


def _prob(weights_scaled: list[int]) -> Column:
    """round(sigmoid(w·x), PROB_DECIMALS) with the weight literals baked
    into the plan in fixed order (left-to-right sum, so the float
    evaluation order matches the oracle's SQL exactly)."""
    z = F.lit(0.0)
    for j, w in enumerate(weights_scaled):
        z = z + F.lit(w / WEIGHT_SCALE) * F.col(f"x{j}")
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), PROB_DECIMALS)


def train_quality_classifier(
    df: DataFrame,
    label: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_iter: int = 3,
    lr: float = 0.1,
) -> list[int]:
    """Fit the 5-weight logistic model by ``n_iter`` full-batch GD steps;
    returns the WEIGHT_SCALE-scaled integer weights (the exact model
    state both engines agree on).

    Per iteration: one aggregation of 5 BIGINT partial gradient sums + a
    count (map-side combined; bytes shuffled are independent of corpus
    size), then the driver advances 5 integers — the only driver state.
    ``lr`` must keep ``lr * WEIGHT_SCALE / GRAD_SCALE`` integral (default
    0.1 → factor 100) so the update stays exactly replayable.
    """
    factor = lr * WEIGHT_SCALE / GRAD_SCALE
    if abs(factor - round(factor)) > 1e-9:
        raise ValueError(
            f"lr={lr} must make lr*{WEIGHT_SCALE}/{GRAD_SCALE} an integer"
        )
    feats = doc_features(
        # weak label contract: NULL => negative (a row not positively
        # labeled is a negative), matching the twin's CASE ... ELSE 0.0
        df.withColumn(
            "y", F.coalesce(label.cast("int"), F.lit(0)).cast("double")
        ),
        id_col,
        text_col,
        extra=("y",),
    )
    # featurization is read once per iteration; the feature row is 6
    # doubles/doc — persist is cheap and saves re-running the text
    # kernels each step
    feats = feats.persist()
    try:
        return _gd_steps(feats, n_iter=n_iter, factor=factor)
    finally:
        feats.unpersist()


def _gd_steps(feats: DataFrame, *, n_iter: int, factor: float) -> list[int]:
    """The GD iteration core over an (already persisted) features frame
    carrying ``y`` — shared by :func:`train_quality_classifier` and the
    single-featurize :func:`quality_classifier_scores` path."""
    n_feat = len(FEATURES)
    w = [0] * n_feat
    for _ in range(n_iter):
        p = _prob(w)
        r = p - F.col("y")
        agg = feats.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.round(r * F.col(f"x{j}") * F.lit(float(GRAD_SCALE)))
                    .cast("long")
                ).alias(f"g{j}")
                for j in range(n_feat)
            ],
        ).collect()[0]
        n = agg["n"]
        if n == 0:
            break
        w = [
            int(w[j] - _round_half_away(agg[f"g{j}"] * factor / n))
            for j in range(n_feat)
        ]
    return w


def score_quality_classifier(
    df: DataFrame,
    weights_scaled: list[int],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Score every doc with a trained model: (id_col, prob, predicted).
    One narrow scan — the weights are plan literals, nothing is joined."""
    feats = doc_features(df, id_col, text_col)
    p = _prob(weights_scaled)
    return feats.select(
        F.col("id").alias(id_col),
        p.alias("prob"),
        (p >= F.lit(threshold)).alias("predicted"),
    )


def quality_classifier_scores(
    df: DataFrame,
    label: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_iter: int = 3,
    lr: float = 0.1,
) -> DataFrame:
    """Train on the weak label, then score the same corpus — the composed
    filter-building step: (id_col, label, prob, predicted).

    r11 optimization (guide §1.2 per-task work / §5 caching): training and
    scoring share ONE featurize pass — the same persisted 6-double feature
    frame feeds the GD iterations and the final scoring projection (the
    previous shape featurized twice: once inside train, once for the
    scoring plan). The scored table is materialized via eager
    ``localCheckpoint`` before the feature blocks are released (the
    partitioning.finalize_lifecycle exit), so callers get a lineage-free
    result and no operator-owned blocks outlive the call. Identical
    values: y and label derive from the same coalesced expression, and
    the scoring math is unchanged.
    """
    factor = lr * WEIGHT_SCALE / GRAD_SCALE
    if abs(factor - round(factor)) > 1e-9:
        raise ValueError(
            f"lr={lr} must make lr*{WEIGHT_SCALE}/{GRAD_SCALE} an integer"
        )
    feats = doc_features(
        df.withColumn("label", F.coalesce(label.cast("int"), F.lit(0))),
        id_col,
        text_col,
        extra=("label",),
    ).withColumn("y", F.col("label").cast("double"))
    from database2ogr_spark.operators.partitioning import finalize_lifecycle

    feats = feats.persist()
    try:
        w = _gd_steps(feats, n_iter=n_iter, factor=factor)
    except Exception:
        feats.unpersist()
        raise
    p = _prob(w)
    scored = feats.select(
        F.col("id").alias(id_col),
        "label",
        p.alias("prob"),
        (p >= F.lit(0.5)).alias("predicted"),
    )
    return finalize_lifecycle(scored, [feats])


def calibration_report(
    scored: DataFrame,
    *,
    label_col: str = "label",
    prob_col: str = "prob",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for a probabilistic filter: fixed-width
    probability bins vs observed positive rate — how you decide whether a
    quality classifier's 0.9 really means 90% before gating a corpus on it.

    Bins are ARITHMETIC (``floor(prob · n_bins)``, top edge clamped into
    the last bin) — an ``ntile`` binning would globally sort the corpus;
    fixed widths make the whole report ONE partial-agg'd aggregation on a
    ≤``n_bins``-key shuffle. Gap bins are absent rows (the report is
    #bins rows max, driver-safe).

    Output: (bin, bin_lo, n, n_pos, pos_rate, mean_prob), rates rounded 6.
    """
    b = F.least(
        F.floor(F.col(prob_col) * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    return (
        scored.select(
            b.alias("bin"),
            F.col(label_col).cast("int").alias("y"),
            F.col(prob_col).alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.round(F.sum("y") / F.count(F.lit(1)), 6).alias("pos_rate"),
            F.round(F.avg("p"), 6).alias("mean_prob"),
        )
        .select(
            "bin",
            F.round(F.col("bin") / n_bins, 6).alias("bin_lo"),
            "n",
            "n_pos",
            "pos_rate",
            "mean_prob",
        )
    )


def auc_report(
    scored: DataFrame,
    *,
    prob_col: str = "prob",
    label_col: str = "label",
) -> DataFrame:
    """Exact ROC-AUC (Mann-Whitney U with the standard 0.5 tie credit)
    from the DISTINCT-SCORE histogram — the other half of the classifier
    eval surface next to :func:`calibration_report`.

    ``AUC = [Σ_s P_s·N_{<s} + ½·Σ_s P_s·N_s] / (P·N)`` where the sums run
    over distinct scores — algebraically identical to the rank formula,
    but computed WITHOUT a corpus-sized global sort: one shuffle reduces
    the corpus to per-score (pos, neg) counts, and the cumulative window
    runs over that small histogram only (same distinct-value-histogram
    trick as ``cleaning.quantile_normalize``). Degenerate inputs (no
    positives or no negatives) yield NULL auc rather than a misleading
    number.

    Output: ONE row (n_pos, n_neg, auc).
    """
    h = (
        scored.filter(F.col(prob_col).isNotNull())
        .groupBy(F.col(prob_col).alias("s"))
        .agg(
            F.sum(F.col(label_col).cast("bigint")).alias("p_s"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("s", "p_s", (F.col("n_rows") - F.col("p_s")).alias("n_s"))
    )
    w = (
        Window.orderBy(F.col("s").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = h.withColumn("cum_n", F.sum("n_s").over(w) - F.col("n_s")).agg(
        F.sum("p_s").alias("n_pos"),
        F.sum("n_s").alias("n_neg"),
        F.sum(
            F.col("p_s") * F.col("cum_n")
            + F.lit(0.5) * F.col("p_s") * F.col("n_s")
        ).alias("_u"),
    )
    return u.select(
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(F.col("_u") / (F.col("n_pos") * F.col("n_neg")), 6),
        ).alias("auc"),
    )


def expected_calibration_error(
    scored: DataFrame,
    *,
    label_col: str = "label",
    prob_col: str = "prob",
    n_bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error — the scalar the reliability diagram
    (:func:`calibration_report`) summarizes to: ``ECE = Σ_b (n_b/N) ·
    |pos_rate_b − mean_prob_b|`` over the same arithmetic bins (public
    Naeini et al. 2015 / Guo et al. 2017). The release-gate number: a
    quality filter with ECE 0.02 can be thresholded by its scores; one
    with ECE 0.2 cannot.

    Output: ONE row (n_rows, n_bins_used, ece) rounded 6 dp. Derives
    entirely from the ≤``n_bins``-row report — the corpus is scanned once
    by the underlying report aggregation and never again.
    """
    rep = calibration_report(
        scored, label_col=label_col, prob_col=prob_col, n_bins=n_bins
    )
    tot = rep.agg(F.sum("n").alias("nn"))
    return (
        rep.crossJoin(F.broadcast(tot))
        .agg(
            F.max("nn").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
            F.round(
                F.sum(
                    (F.col("n") / F.col("nn"))
                    * F.abs(F.col("pos_rate") - F.col("mean_prob"))
                ),
                6,
            ).alias("ece"),
        )
    )


def auc_by_group(
    scored: DataFrame,
    group_col: str,
    *,
    prob_col: str = "prob",
    label_col: str = "label",
) -> DataFrame:
    """Sliced ROC-AUC — :func:`auc_report` per ``group_col`` (language,
    source, …): the fairness audit that catches a quality filter scoring
    one slice of the corpus well and another at coin-flip, which the
    global AUC averages away. Same exact Mann-Whitney arithmetic, same
    distinct-score-histogram trick, with every window and aggregation
    PARTITIONED by the group — one row per group, NULL auc for
    single-class slices.

    Scale: one shuffle reduces the corpus to per-(group, score) counts;
    the cumulative window runs over each group's score histogram only.
    Output: (group_col, n_pos, n_neg, auc).
    """
    h = (
        scored.filter(F.col(prob_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), F.col(prob_col).alias("s"))
        .agg(
            F.sum(F.col(label_col).cast("bigint")).alias("p_s"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("g", "s", "p_s", (F.col("n_rows") - F.col("p_s")).alias("n_s"))
    )
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("s").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = (
        h.withColumn("cum_n", F.sum("n_s").over(w) - F.col("n_s"))
        .groupBy("g")
        .agg(
            F.sum("p_s").alias("n_pos"),
            F.sum("n_s").alias("n_neg"),
            F.sum(
                F.col("p_s") * F.col("cum_n")
                + F.lit(0.5) * F.col("p_s") * F.col("n_s")
            ).alias("_u"),
        )
    )
    return u.select(
        F.col("g").alias(group_col),
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(F.col("_u") / (F.col("n_pos") * F.col("n_neg")), 6),
        ).alias("auc"),
    )


def best_threshold(
    scored: DataFrame,
    *,
    prob_col: str = "prob",
    label_col: str = "label",
) -> DataFrame:
    """Operating-point selection for a probabilistic filter: the
    threshold maximizing Youden's J = TPR − FPR (public Youden 1950 —
    the ROC point farthest above the diagonal), computed from the same
    distinct-score histogram as :func:`auc_report`: for each candidate
    threshold (= a distinct score), TPR and FPR come from suffix sums
    over the histogram; the argmax is a TakeOrdered over histogram-sized
    data. Ties break toward the LOWER threshold (keep more data — the
    recall-friendly convention), then by J desc. Predict positive iff
    ``prob >= threshold``.

    Output: ONE row (threshold, tpr, fpr, j) rounded 6 dp; all-NULL when
    either class is absent (no ROC exists).

    Scale: one shuffle to per-score class counts; suffix sums via one
    cumulative window over the DISTINCT-score histogram; a 1-row cut.
    """
    h = (
        scored.filter(F.col(prob_col).isNotNull())
        .groupBy(F.col(prob_col).alias("s"))
        .agg(
            F.sum(F.col(label_col).cast("bigint")).alias("p_s"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("s", "p_s", (F.col("n_rows") - F.col("p_s")).alias("n_s"))
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = h.select(
        "s",
        F.sum("p_s").over(w).alias("tp"),
        F.sum("n_s").over(w).alias("fp"),
    )
    tot = h.agg(
        F.sum("p_s").alias("P"), F.sum("n_s").alias("N")
    )
    j = (
        cum.crossJoin(F.broadcast(tot))
        .filter((F.col("P") > 0) & (F.col("N") > 0))
        .select(
            "s",
            F.round(F.col("tp") / F.col("P").cast("double"), 6).alias("tpr"),
            F.round(F.col("fp") / F.col("N").cast("double"), 6).alias("fpr"),
            F.round(
                F.col("tp") / F.col("P").cast("double")
                - F.col("fp") / F.col("N").cast("double"),
                6,
            ).alias("j"),
        )
        .orderBy(F.col("j").desc(), F.col("s").asc())
        .limit(1)
    )
    return j.select(
        F.col("s").alias("threshold"), "tpr", "fpr", "j"
    )


def brier_score(
    scored: DataFrame,
    *,
    label_col: str = "label",
    prob_col: str = "prob",
) -> DataFrame:
    """Brier score of a probabilistic filter (public Brier 1950) — the
    proper scoring rule that grades calibration AND sharpness together,
    where ECE grades calibration alone: ``mean((prob − label)²)``. The
    report carries the climatology reference ``base_rate·(1−base_rate)``
    (the Brier of always predicting the base rate) and the skill score
    ``BSS = 1 − brier/reference`` — BSS ≤ 0 means the classifier is no
    better than predicting the prior, the honest release gate.

    Output: ONE row (n_rows, base_rate, brier, reference, bss), rounded
    6 dp; bss NULL on degenerate single-class inputs (reference 0).

    Scale: ONE partial-agg'd aggregation over the scored set — no join,
    no window, no shuffle beyond the final 1-row reduce.
    """
    y = F.col(label_col).cast("double")
    p = F.col(prob_col)
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.avg(y).alias("rate"),
        F.avg((p - y) * (p - y)).alias("b"),
    )
    ref = F.col("rate") * (F.lit(1.0) - F.col("rate"))
    return agg.select(
        "n_rows",
        F.round(F.col("rate"), 6).alias("base_rate"),
        F.round(F.col("b"), 6).alias("brier"),
        F.round(ref, 6).alias("reference"),
        F.round(
            F.when(ref > 0, F.lit(1.0) - F.col("b") / ref), 6
        ).alias("bss"),
    )
