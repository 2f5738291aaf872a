"""Cross-source corpus overlap: exact pairwise shingle Jaccard between
the corpus's source partitions — the "how much do my crawl snapshots /
data vendors overlap" audit that decides whether two sources should be
deduplicated against each other at all (a near-zero matrix means the
expensive cross-source near-dup pass can be skipped; a high cell means
one source is largely a re-crawl of the other).

Shingle space: the repo's standard 62-bit rolling-hash word-``n``-gram
ids (functions/gramkernel.py — the same ids duplicate_spans, novelty and
the MinHash family grade against), including the short-document
whole-text fallback shingle. Jaccard is computed over DISTINCT shingle
ids per source; hash collisions are theoretically possible and identical
in the DuckDB twin.

Scale design: the corpus crosses the Arrow boundary once (the
distinct-gram kernel — only each document's distinct ids leave the
kernel, as 8-byte ints, never text), then ONE corpus-wide shuffle: a
groupBy(gram) collecting the per-shingle source-SET (bounded by the
NUMBER OF SOURCES, single digits, not corpus size). Marginal per-source
gram counts and the pair intersections are both derived from that cached
table, and pair expansion happens inside codegen on the tiny set array —
no shingle-table self-join (which would shuffle the gram table twice and
explode on hot shingles), no second corpus pass. Output is #source-pairs
rows. The sketch path for 1000s of sources is MinHash-union
(operators/dedup.py signatures); this operator is the exact audit for
the common few-sources case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.functions.gramkernel import distinct_gram_table


def source_overlap_matrix(
    docs: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact pairwise word-``n``-gram-id Jaccard between sources.

    Returns one row per unordered source pair (a < b lexically):
    ``(source_a, source_b, grams_a, grams_b, n_common, jaccard)`` with
    jaccard rounded to 6 dp. Pairs sharing no shingles emit no row.
    """
    sg = distinct_gram_table(docs, source_col, text_col, n).select(
        F.col("id").alias("source"), "gram"
    )
    # ONE corpus-wide shuffle: groupBy gram with collect_set makes the
    # cross-document distinct implicit (set semantics), and the
    # per-source marginals are DERIVED from the collected sets (explode
    # over #grams rows), never a second corpus pass. Three branches (pairs
    # + the two marginal joins) read this table; they share its exchange.
    sets = sg.groupBy("gram").agg(F.array_sort(F.collect_set("source")).alias("ss"))
    per_source = (
        sets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    # per-gram source set (bounded by #sources) -> in-codegen pair fanout
    pairs = (
        sets.filter(F.size("ss") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ss"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ss"), i + 2, F.size("ss")
                            ),
                            lambda y: F.struct(
                                x.alias("a"), y.alias("b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = per_source.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    cb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        pairs.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("grams_a") + F.col("grams_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def corpus_divergence(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    n_buckets: int = 2048,
    alpha: float = 1.0,
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the groups' unigram
    distributions over hashed buckets — the DISTRIBUTIONAL companion to
    :func:`source_overlap_matrix` (overlap asks "do these sources share
    literal text?"; divergence asks "do they even speak the same
    language/register?") and the text-side sibling of diff.drift_report's
    numeric PSI. JSD is symmetric, bounded in [0, ln 2], and zero iff the
    smoothed distributions agree — the right default for a mixture
    dashboard.

    Each group's model is a bag of ``stable_hash64 % n_buckets`` unigram
    buckets with add-``alpha`` smoothing over the full bucket space (so
    never-seen buckets carry mass and the sum runs over all B buckets —
    exactly replayable). Output: (group_a, group_b, jsd) for group_a <
    group_b, rounded 6 dp.

    Scale: one corpus pass → (group, bucket) partial-agg'd counts; the
    per-group model is B rows, the full spine #groups × B, the pair join
    #groups² × B — all bounded by knobs, none by corpus size (the DSIR
    property again: the model never grows with the data).
    """
    from database2ogr_spark.functions.hashing import stable_hash64, words

    if n_buckets <= 1:
        raise ValueError(f"n_buckets must be > 1, got {n_buckets}")
    spark = df.sparkSession
    B = int(n_buckets)
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(words(text_col)).alias("w"),
    ).select("grp", (stable_hash64(F.col("w")) % B).alias("bucket"))
    counts = toks.groupBy("grp", "bucket").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("grp").agg(F.sum("c").alias("n"))
    spine = totals.select("grp", "n").crossJoin(
        spark.range(B).select(F.col("id").alias("bucket"))
    )
    a = F.lit(float(alpha))
    probs = (
        spine.join(counts, ["grp", "bucket"], "left")
        .select(
            "grp",
            "bucket",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + a)
                / (F.col("n") + F.lit(float(alpha * B)))
            ).alias("p"),
        )
    )
    pa = probs.select(
        F.col("grp").alias("group_a"), "bucket", F.col("p").alias("p_a")
    )
    pb = probs.select(
        F.col("grp").alias("group_b"), "bucket", F.col("p").alias("p_b")
    )
    pairs = pa.join(pb, "bucket").filter(F.col("group_a") < F.col("group_b"))
    m = (F.col("p_a") + F.col("p_b")) / F.lit(2.0)
    contrib = F.lit(0.5) * (
        F.col("p_a") * F.log(F.col("p_a") / m)
        + F.col("p_b") * F.log(F.col("p_b") / m)
    )
    return (
        pairs.groupBy("group_a", "group_b")
        .agg(F.round(F.sum(contrib), 6).alias("jsd"))
    )


def burrows_delta(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    top_n_words: int = 50,
) -> DataFrame:
    """Burrows' Delta stylometric distance between corpus groups (public
    Burrows 2002, the standard authorship-attribution measure): z-score
    each group's RELATIVE frequency of the corpus's ``top_n_words`` most
    frequent words (function words — style, not topic), then
    ``Delta(a,b) = mean_w |z_a(w) − z_b(w)|``. The third lens on the
    source matrix: source_overlap asks about literal sharing,
    corpus_divergence about vocabulary distribution, Delta about STYLE
    (two sources can share no text, differ in topic vocabulary, and
    still be the same generator — function-word habits give it away).

    Absent words count at relative frequency 0 (the group × MFW spine is
    #groups × top_n rows — bounded); words with zero variance across
    groups contribute 0. Output: (group_a, group_b, delta) for
    group_a < group_b, rounded 6 dp.

    Scale: one token explode → (group, word) partial-agg'd counts; the
    MFW cut is a corpus-wide TakeOrdered of the word counts; everything
    after (spine, z-scores, pair fold) runs on #groups × top_n rows.
    """
    from database2ogr_spark.functions.hashing import words

    if top_n_words < 1:
        raise ValueError(f"top_n_words must be >= 1, got {top_n_words}")
    toks = df.select(
        F.col(group_col).alias("g"), F.explode(words(text_col)).alias("w")
    )
    gc = toks.groupBy("g", "w").agg(F.count(F.lit(1)).alias("c"))
    sizes = gc.groupBy("g").agg(F.sum("c").alias("gn"))
    mfw = (
        gc.groupBy("w")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.col("tc").desc(), F.col("w").asc())
        .limit(top_n_words)
        .select("w")
    )
    spine = sizes.crossJoin(F.broadcast(mfw))
    rel = spine.join(gc, ["g", "w"], "left").select(
        "g",
        "w",
        (F.coalesce(F.col("c"), F.lit(0)) / F.col("gn").cast("double")).alias(
            "f"
        ),
    )
    stats = rel.groupBy("w").agg(
        F.avg("f").alias("mu"), F.stddev_pop("f").alias("sd")
    )
    z = rel.join(stats, "w").select(
        "g",
        "w",
        F.when(
            F.col("sd") > 0, (F.col("f") - F.col("mu")) / F.col("sd")
        ).otherwise(F.lit(0.0)).alias("z"),
    )
    a = z.select(F.col("w"), F.col("g").alias("group_a"), F.col("z").alias("za"))
    b = z.select(F.col("w"), F.col("g").alias("group_b"), F.col("z").alias("zb"))
    return (
        a.join(b, "w")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.round(F.avg(F.abs(F.col("za") - F.col("zb"))), 6).alias("delta"))
    )


def fightin_words(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.01,
    top_n: int = 10,
) -> DataFrame:
    """Distinctive terms per group — the Monroe/Colaresi/Quinn 2008
    'Fightin' Words' log-odds with a Dirichlet prior: what vocabulary
    characterizes THIS source against the rest of the corpus, with the
    prior shrinking rare-word noise that raw log-odds and PMI both
    amplify (the standard tool when tf-idf's 'distinctive' is really
    'hapax'). Per (group, token):

    δ = ln((y + α) / (n + αV − y − α)) − ln((Y + α) / (N + αV − Y − α))
    z = δ / √(1/(y + α) + 1/(Y + α))

    with y the in-group count, Y the rest-of-corpus count, n/N the
    totals, V the vocabulary size. Top-``top_n`` per group by
    (z DESC, token ASC) — deterministic cut.

    Output: (group_col, token, n_in, n_rest, zscore rounded 6).

    Scale: ONE (group, token) count is the corpus-sized work; token
    marginals reduce from it; the z arithmetic and per-group top-k
    window run on the count table (≤ V × #groups rows).
    """
    from database2ogr_spark.functions.hashing import words

    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    gt = (
        df.select(F.col(group_col).alias("g"), F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    tok = gt.groupBy("w").agg(F.sum("y").alias("ty"))
    grp = gt.groupBy("g").agg(F.sum("y").alias("n"))
    vocab = tok.agg(
        F.count(F.lit(1)).alias("v"), F.sum("ty").alias("nn")
    )
    a = float(alpha)
    j = (
        gt.join(tok, "w")
        .join(F.broadcast(grp), "g")
        .crossJoin(F.broadcast(vocab))
        .select(
            "g",
            "w",
            "y",
            (F.col("ty") - F.col("y")).alias("ry"),
            "n",
            (F.col("nn") - F.col("n")).alias("rn"),
            "v",
        )
    )
    av = F.lit(a) * F.col("v").cast("double")
    ly = F.col("y").cast("double") + F.lit(a)
    lr = F.col("ry").cast("double") + F.lit(a)
    delta = (
        F.log(ly / (F.col("n").cast("double") + av - ly))
        - F.log(lr / (F.col("rn").cast("double") + av - lr))
    )
    z = F.round(delta / F.sqrt(F.lit(1.0) / ly + F.lit(1.0) / lr), 6)
    ranked = j.select(
        "g", "w", "y", F.col("ry").alias("n_rest"), z.alias("zscore")
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("g").orderBy(
                F.col("zscore").desc(), F.col("w").asc()
            )
        ),
    )
    return ranked.filter(F.col("rk") <= top_n).select(
        F.col("g").alias(group_col),
        F.col("w").alias("token"),
        F.col("y").cast("bigint").alias("n_in"),
        F.col("n_rest").cast("bigint").alias("n_rest"),
        "zscore",
    )
