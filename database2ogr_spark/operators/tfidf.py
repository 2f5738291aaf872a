"""TF-IDF top terms per document — the canonical inverted-index aggregation
of a text pipeline (keyword extraction, corpus exploration, quality signals).

Shape: explode tokens once → term frequencies (groupBy doc,term) → document
frequencies (groupBy term) → join on term → score → per-doc top-n window.
Two shuffles (both partial-agg'd map-side) plus a term-keyed join; the
single-row corpus count is crossJoin-broadcast. Hot terms (stopwords) skew
the term join — at scale, filter stopwords upstream or salt; AQE splits the
residual.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.functions.hashing import words
from database2ogr_spark.operators.partitioning import finalize_lifecycle, spread


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    top_n: int = 3,
) -> DataFrame:
    """Top-n terms per doc by tf·idf, idf = ln(n_docs / df(term)).

    Deterministic tie-break: score desc, then term asc. Output:
    (doc_id, term, tfidf rounded to 6, rank).
    """
    tokens = spread(df).select(
        F.col(id_col).alias("id"), F.explode(words(text_col)).alias("term")
    )
    # tf is already the distinct (doc, term) set — document frequencies and
    # the corpus count derive from it instead of re-exploding and
    # re-shuffling the full token stream; its three readers share its
    # exchange (it holds ≤ one row per distinct doc-term pair).
    tf = tokens.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("id").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
        .select(F.col("id").alias(id_col), "term", "tfidf", "rank")
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 2,
    max_size: int | None = None,
) -> DataFrame:
    """Frequency-ranked vocabulary over the corpus — the tokenizer-prep
    aggregation (token, token_id, count): whitespace tokens of normalized
    text, counted corpus-wide, cut at ``min_count``, ranked by
    (count desc, token asc) so ids are deterministic; ``max_size`` keeps
    the top ids only.

    Scale: the explode+count is one partial-agg'd shuffle on the token key
    (hot stopwords are exactly what map-side combine flattens); the global
    rank window runs AFTER aggregation+cutoff, over vocabulary-sized data
    (10⁵–10⁶ rows — driver-adjacent by design, same bound every tokenizer
    trainer accepts). The corpus itself never sorts globally.
    """
    counts = (
        spread(df)
        .select(F.explode(words(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    ranked = counts.withColumn("token_id", F.row_number().over(w) - 1)
    if max_size is not None:
        ranked = ranked.filter(F.col("token_id") < max_size)
    return ranked.select("token", "token_id", "count")


def unigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram model — the self-trained stand-in for the CCNet/KenLM
    perplexity quality filter (public CCNet pipeline shape: score docs by
    LM fit, bucket by score): boilerplate and templated text scores high
    (common tokens), lorem-noise scores low.

    P(t) = count(t) / total_tokens over the whole corpus; a doc's score is
    ``round(mean(ln P(t)), 6)`` over its tokens. Self-trained, so every
    scored token has count ≥ 1 and no smoothing floor is needed — scoring
    a DIFFERENT corpus against this model would need one (join unseen
    tokens to a floor probability), which is deliberately out of scope
    here. Output: (id_col, n_tokens, logprob).

    Scale: token counts are one partial-agg'd shuffle (the build_vocab
    core); the per-token probability join is a shuffle join on the token
    key that AQE converts to broadcast while the vocabulary fits (~10⁶
    entries ≪ executor memory — the usual case; hot stopwords are exactly
    the keys partial aggregation flattened on the count side); the final
    per-doc mean is one agg on the id key. Everything JVM-side.
    """
    toks = spread(df).select(
        F.col(id_col).alias("id"), F.explode(words(text_col)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
    total = counts.agg(F.sum("__c").alias("__total"))
    probs = counts.crossJoin(F.broadcast(total)).select(
        "token",
        (F.col("__c").cast("double") / F.col("__total")).alias("__p"),
    )
    return (
        toks.join(probs, "token")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("__p"))), 6).alias("logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "logprob")
    )


def bigram_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean CONDITIONAL log-probability under the corpus's own
    bigram model — the next step up from :func:`unigram_logprob_score`
    toward the CCNet/KenLM perplexity filter: P(w₂|w₁) = c(w₁,w₂) / c(w₁·)
    with c(w₁·) the count of w₁ as a bigram left-member. Self-trained on
    the scored corpus, so every observed bigram has mass (no smoothing
    needed) and repetitive/templated word SEQUENCES — not just common
    words — score high while incoherent token soup scores low.

    Output: (id_col, n_bigrams, logprob) for documents with ≥1 bigram
    (single-token docs have no conditional events to score — filter or
    coalesce downstream). logprob = round(mean ln P, 6).

    Scale: bigram extraction is a narrow arrays_zip/slice expression; the
    model is one partial-agg'd count on the (w₁,w₂) key; left-member
    totals derive from the bigram counts (no second text pass); the
    probability join is keyed on (w₁,w₂) — AQE broadcasts while the model
    fits, and hot bigrams are exactly what map-side combine flattened.
    """
    w = words(text_col)
    pairs = (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.arrays_zip(
                    F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))).alias("w1"),
                    F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))).alias("w2"),
                )
            ).alias("bg"),
        )
        .select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c"))
    starts = counts.groupBy("w1").agg(F.sum("__c").alias("__s"))
    probs = counts.join(starts, "w1").select(
        "w1", "w2", (F.col("__c").cast("double") / F.col("__s")).alias("__p")
    )
    return (
        pairs.join(probs, ["w1", "w2"])
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("__p"))), 6).alias("logprob"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "logprob")
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer-fit report: per ``group_col``, the fraction of corpus
    tokens OUTSIDE a vocabulary (OOV rate) — the metric that decides
    whether a tokenizer/vocab needs retraining before a data mixture
    ships, and which sources drive the misfit.

    Plan: one token explode (shared ``words`` tokenization), a BROADCAST
    anti-join against the vocab (vocabulary-sized by build_vocab's own
    bound — always the small side), and two per-group counts that Catalyst
    computes from the same exploded stream. Rates rounded to 6 dp.
    Output: (group, n_tokens, n_oov, oov_rate).
    """
    toks = spread(df).select(
        F.col(group_col).alias("grp"), F.explode(words(text_col)).alias("token")
    )
    tot = toks.groupBy("grp").agg(F.count(F.lit(1)).alias("n_tokens"))
    oov = (
        toks.join(F.broadcast(vocab.select("token")), "token", "left_anti")
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    return (
        tot.join(oov, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("bigint").alias("n_oov"),
            F.round(
                F.coalesce(F.col("n_oov"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
    )


def stupid_backoff_score(
    df: DataFrame,
    train_filter: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean log-score under a TRIGRAM stupid-backoff model
    (public Brants et al. 2007, "Large Language Models in Machine
    Translation") — the completion of the unigram → bigram LM-filter
    ladder, and the first member with a real train/score split:
    the model fits on ``train_filter`` rows only, so held-out documents
    genuinely exercise the backoff chain (a self-trained trigram model
    never backs off — every scored trigram is in its own model).

        S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂)            if the trigram was seen
                   = α · S(w₃|w₂)                 otherwise
        S(w₃|w₂)   = c(w₂w₃)/c(w₂)               if the bigram was seen
                   = α · c(w₃)/N                  otherwise
        c(w₃)=0    → score floor α²·(1/N)         (OOV word)

    Scores are unnormalized ("stupid") by design — cheap, mergeable
    counts, no discount bookkeeping, the standard web-scale choice.
    Output: (id_col, n_trigrams, logprob) for docs with ≥1 trigram;
    logprob = round(mean ln S, 6).

    Scale: ONE train-corpus pass emits all three gram orders into one
    model-sized (o, w1, w2, w3, c) count table (partial-agg'd on token
    keys; r12), one trigram-event explode over the scored corpus, and a
    chain of equi-joins on token keys (AQE broadcasts whichever count
    tables fit); the train and scored corpora are each read once.
    """
    w = words(text_col)

    def grams(frame: DataFrame, n: int, cols: list[str]) -> DataFrame:
        n_out = F.greatest(F.size(w) - (n - 1), F.lit(0))
        return frame.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.arrays_zip(
                    *[
                        F.slice(w, i + 1, n_out).alias(cols[i])
                        for i in range(n)
                    ]
                )
            ).alias("g"),
        ).select("id", *[F.col(f"g.{c}").alias(c) for c in cols])

    from pyspark import StorageLevel

    # r11 (guide §2.2/§3): pre-merge each context total INTO its count
    # table (model-sized joins) — the corpus-sized event stream then
    # takes 3 keyed joins (trigram, bigram, unigram level) instead of 5.
    # The context totals c12/c2 are only read when the corresponding
    # count matched, so riding them on the count row is value-identical.
    # r12 (guide §2.3/§2.4): ONE train-corpus pass emits all three gram
    # orders — per document the uni/bi/tri event structs concat into a
    # single exploded array tagged by order — into ONE model-sized
    # persisted (o, w1, w2, w3, c) table; the three count tables are
    # order filters over the cache. The old shape ran the corpus
    # explode+agg once per order: three scans, three shuffles of the
    # same token stream, three cache materializations.
    train = spread(df.filter(train_filter))

    def order_structs(n: int):
        """Struct array of this order's gram events, padded with NULL
        w-slots on the left so all orders share (o, w1, w2, w3)."""
        n_out = F.greatest(F.size(w) - (n - 1), F.lit(0))
        z = F.arrays_zip(
            *[F.slice(w, i + 1, n_out).alias(f"c{i}") for i in range(n)]
        )
        pad = 3 - n
        return F.transform(
            z,
            lambda s: F.struct(
                F.lit(n).alias("o"),
                *[
                    F.lit(None).cast("string").alias(f"w{j + 1}")
                    for j in range(pad)
                ],
                *[s[f"c{i}"].alias(f"w{pad + i + 1}") for i in range(n)],
            ),
        )

    combined = (
        train.select(
            F.explode(
                F.concat(order_structs(1), order_structs(2), order_structs(3))
            ).alias("g")
        )
        .select("g.o", "g.w1", "g.w2", "g.w3")
        .groupBy("o", "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    uni = combined.filter(F.col("o") == 1).select("w3", F.col("c").alias("c1"))
    big = combined.filter(F.col("o") == 2).select(
        "w2", "w3", F.col("c").alias("c23")
    )
    tri = combined.filter(F.col("o") == 3).select(
        "w1", "w2", "w3", F.col("c").alias("c3")
    )
    big_ctx = big.groupBy("w2").agg(F.sum("c23").alias("c2"))
    tri_ctx = tri.groupBy("w1", "w2").agg(F.sum("c3").alias("c12"))
    totals = uni.agg(F.sum("c1").alias("n_tok"))
    tri_model = tri.join(tri_ctx, ["w1", "w2"])
    big_model = big.join(big_ctx, ["w2"])

    events = grams(spread(df), 3, ["w1", "w2", "w3"])
    d = "double"
    joined = (
        events.join(tri_model, ["w1", "w2", "w3"], "left")
        .join(big_model, ["w2", "w3"], "left")
        .join(uni, ["w3"], "left")
        .crossJoin(F.broadcast(totals))
    )
    a = F.lit(float(alpha))
    uni_s = F.when(
        F.col("c1").isNotNull(),
        F.col("c1").cast(d) / F.col("n_tok").cast(d),
    ).otherwise(F.lit(1.0) / F.col("n_tok").cast(d))
    bi_s = F.when(
        F.col("c23").isNotNull(), F.col("c23").cast(d) / F.col("c2").cast(d)
    ).otherwise(a * uni_s)
    s = F.when(
        F.col("c3").isNotNull(), F.col("c3").cast(d) / F.col("c12").cast(d)
    ).otherwise(a * bi_s)
    out = (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(F.avg(F.log(s)), 6).alias("logprob"),
        )
        .select(F.col("id").alias(id_col), "n_trigrams", "logprob")
    )
    return finalize_lifecycle(out, [combined])


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_n: int = 1000,
) -> DataFrame:
    """Zipf's-law fit over the term frequency distribution: OLS of
    ``ln(freq) ~ ln(rank)`` on the top-``top_n`` terms — the classic
    corpus-health audit (natural text fits slope ≈ −1; boilerplate-heavy
    or template-generated corpora bend the curve; a sudden slope change
    between snapshots flags a scrape regression).

    Plan: one explode+agg for term counts (map-side combinable), a
    distributed TakeOrdered for the top-``top_n`` cut with the
    (freq DESC, token ASC) deterministic tie-break, then ranks + the
    regression over that BOUNDED table (the single-partition window runs
    on ≤ top_n rows, never the vocabulary). Output is ONE row:
    ``(n_terms, slope, intercept, r2)`` rounded 6 dp, via the built-in
    regr_* aggregates on (y=ln freq, x=ln rank).
    """
    ws = words(F.col(text_col))
    freq = (
        df.select(F.explode(ws).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(top_n)
    )
    ranked = freq.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("w").asc()))
        .alias("r"),
    ).select(
        F.log(F.col("c").cast("double")).alias("y"),
        F.log(F.col("r").cast("double")).alias("x"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    max_df: int = 100,
    terms: str = "words",
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: document pairs whose cosine
    over the ``df <= max_df`` TERM SUBSPACE reaches ``threshold`` — the
    weighted-sparse sibling of the n-gram Jaccard join (set overlap) and
    the embedding cosine join (dense vectors).

    ``terms`` picks the term space: ``"words"`` (unigram tokens — the
    textbook TF-IDF) or ``"shingles"`` (the repo's standard 62-bit
    rolling-hash word-3-gram ids via the Arrow gram kernel — the same id
    space as duplicate_spans / MinHash). Shingles are the SCALE-ROBUST
    choice when the unigram vocabulary is small relative to the corpus
    (every word's df then exceeds any useful max_df and the rare-term
    subspace collapses to empty — measured on the synthetic corpus at
    sf0.1, whose whole vocabulary is 31 words); the shingle space grows
    combinatorially, keeping per-term df (and so the C(df,2) join
    fanout) bounded long after unigrams saturate.

    Semantics: terms with document frequency above ``max_df`` leave the
    computation ENTIRELY (weights, norms, and pair products) — a
    well-defined "rare-term subspace" cosine, not a truncated
    approximation of the full cosine. This is also the scale guard: the
    per-term pair fanout of the inverted-index self-join is C(df,2), so
    the guard bounds it at C(max_df,2) exactly as in
    dedup.ngram_jaccard_pairs — and unlike there, dropping high-df terms
    barely moves the statistic, because idf = ln(N/df) already sends
    their weights toward zero.

    Plan: one explode+agg for (doc, term, tf); df/idf via a term agg;
    norms via a doc agg; candidate products via the term-keyed
    equi-join (never all-pairs); one (id_a, id_b) agg. Four plan branches
    read the weighted (id, term, wt) table (pair sides a/b + both norm
    joins). The plan is returned lazily with nothing persisted: an
    interleaved A/B at sf0.1 measured the lazy plan faster than
    materializing the weighted table and checkpointing the result. Cosine
    is rounded 6 dp BEFORE the threshold compare, so the cut is
    engine-stable.

    Output: (id_a, id_b, cosine), id_a < id_b.
    """
    if terms == "shingles":
        from database2ogr_spark.functions.gramkernel import (
            gram_position_table,
        )

        term_stream = gram_position_table(df, id_col, text_col, 3).select(
            "id", F.col("gram").alias("w")
        )
    elif terms == "words":
        ws = words(F.col(text_col))
        term_stream = df.select(
            F.col(id_col).alias("id"), F.explode(ws).alias("w")
        )
    else:  # pragma: no cover - defensive
        raise ValueError(f"terms must be 'words' or 'shingles', got {terms!r}")
    tf = term_stream.groupBy("id", "w").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    dfreq = (
        tf.groupBy("w")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") <= max_df)
    )
    weighted = (
        tf.join(dfreq, "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "w",
            (
                F.col("tf").cast("double")
                * F.log(
                    F.col("n_docs").cast("double")
                    / F.col("dfreq").cast("double")
                )
            ).alias("wt"),
        )
    )
    norms = weighted.groupBy("id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    a = weighted.select(
        F.col("w"), F.col("id").alias("id_a"), F.col("wt").alias("wa")
    )
    b = weighted.select(
        F.col("w"), F.col("id").alias("id_b"), F.col("wt").alias("wb")
    )
    dots = (
        a.join(b, "w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    return (
        dots.join(
            norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na")),
            "id_a",
        )
        .join(
            norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def vocab_growth(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 16,
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct vocabulary
    vs cumulative token count at ``n_checkpoints`` points along the
    deterministic ``id_col``-ascending corpus order — the companion audit
    to :func:`zipf_fit` (natural text grows V(n) ≈ K·n^β with β ≈ 0.4–0.6;
    a flattening curve means the scrape is re-crawling itself, a
    super-linear one means encoding garbage is minting fake types).

    Checkpoint assignment is PURE INTEGER arithmetic on the id range
    (``k(id) = max(1, ceil((id−lo)·K/(hi−lo)))`` via integer DIV), so the
    curve is exactly reproducible in any engine — and every output column
    is an exact integer count (no float drift anywhere). Output:
    ``(checkpoint, cum_docs, cum_tokens, cum_vocab)``, one row per
    checkpoint, where a term counts toward ``cum_vocab`` at the FIRST
    checkpoint whose prefix contains a document using it.

    Scale: token counts per doc are in-row (``size(words)``, no explode);
    the vocabulary needs one explode + a per-term ``min(id)`` (single
    partial-agg'd shuffle on the term key — the build_vocab core); both
    reduce to K-row bucket tables joined on a ``spark.range`` spine, and
    the cumulative windows run over K rows. Nothing corpus-sized sorts,
    caches, or funnels through one task.
    """
    from database2ogr_spark.functions.hashing import words
    from database2ogr_spark.operators.partitioning import spread

    if n_checkpoints < 2:
        raise ValueError(f"n_checkpoints must be >= 2, got {n_checkpoints}")
    K = int(n_checkpoints)
    spark = df.sparkSession
    bounds = df.agg(
        F.min(F.col(id_col)).cast("bigint").alias("lo"),
        F.max(F.col(id_col)).cast("bigint").alias("hi"),
    )

    # bucket k(id) = max(1, ceil((id-lo)*K/(hi-lo))) in exact integer
    # arithmetic (ceil(a/b) = (a+b-1) DIV b); single-id corpora (hi == lo)
    # collapse to bucket 1
    num = (F.col(id_col).cast("bigint") - F.col("lo")) * F.lit(K) + (
        F.col("hi") - F.col("lo") - F.lit(1)
    )
    per_doc = spread(df).crossJoin(F.broadcast(bounds)).select(
        F.col(id_col).alias("id"),
        num.alias("__num"),
        F.size(words(text_col)).alias("__nt"),
        "lo", "hi",
    ).select(
        "id",
        F.when(
            F.col("hi") > F.col("lo"),
            F.greatest(F.lit(1), F.expr("CAST(__num DIV (hi - lo) AS INT)")),
        ).otherwise(F.lit(1)).alias("bucket"),
        F.greatest(F.col("__nt"), F.lit(0)).alias("__nt"),
    )
    doc_stats = per_doc.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("__nt").alias("n_tokens")
    )
    first_term = (
        spread(df)
        .select(F.col(id_col).alias("id"), F.explode(words(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.min("id").alias("first_id"))
        .crossJoin(F.broadcast(bounds))
        .select(
            (
                (F.col("first_id").cast("bigint") - F.col("lo")) * F.lit(K)
                + (F.col("hi") - F.col("lo") - F.lit(1))
            ).alias("__num"),
            "lo", "hi",
        )
        .select(
            F.when(
                F.col("hi") > F.col("lo"),
                F.greatest(F.lit(1), F.expr("CAST(__num DIV (hi - lo) AS INT)")),
            ).otherwise(F.lit(1)).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new_terms"))
    )
    spine = spark.range(1, K + 1).select(F.col("id").cast("int").alias("bucket"))
    merged = (
        spine.join(doc_stats, "bucket", "left")
        .join(first_term, "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_new_terms"), F.lit(0)).alias("n_new_terms"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return merged.select(
        F.col("bucket").alias("checkpoint"),
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("n_new_terms").over(w).cast("bigint").alias("cum_vocab"),
    )


def heaps_fit(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 16,
) -> DataFrame:
    """Heaps'-law OLS fit ``ln V ~ ln N`` over the :func:`vocab_growth`
    curve (checkpoints with ≥1 token): one row
    ``(n_points, beta, intercept, r2)`` rounded 6 dp — β is the Heaps
    exponent, exp(intercept) the K constant. Same bounded-regression shape
    as :func:`zipf_fit`: the regression input is K rows, never the corpus.
    """
    curve = vocab_growth(
        df, id_col=id_col, text_col=text_col, n_checkpoints=n_checkpoints
    ).filter(F.col("cum_tokens") > 0)
    pts = curve.select(
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.regr_slope("y", "x"), 6).alias("beta"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.regr_r2("y", "x"), 6).alias("r2"),
    )


def kneser_ney_logprob_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean log-probability under an INTERPOLATED KNESER-NEY
    bigram model (public Kneser & Ney 1995 / Chen & Goodman 1998) — the
    principled member of the LM-quality ladder (unigram → bigram →
    stupid-backoff → KN): absolute discounting plus the continuation-
    probability lower model, the smoothing that makes "San Francisco"
    score high while keeping "Francisco" rare as a continuation of
    anything else.

        P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
                   + (D · N₁₊(w₁·)/c(w₁·)) · N₁₊(·w₂)/N₁₊(··)

    with D = n₁/(n₁ + 2·n₂) estimated from the bigram count-of-counts
    (n₁, n₂ = #bigram types seen once, twice). Self-trained on the scored
    corpus, so every event has c(w₁·) > 0 and a positive continuation
    term — no OOV floor needed (scoring held-out text would add one, as
    in stupid_backoff_score's train/score split).

    Output: (id_col, n_bigrams, logprob) for docs with ≥1 bigram,
    logprob = round(mean ln P, 6).

    Scale: the model is the bigram-count table plus three aggregations
    DERIVED from it (left totals + distinct continuations per w₁,
    distinct left-contexts per w₂, one global count-of-counts row) — all
    partial-agg'd on token keys, nothing beyond bigram_logprob_score's
    cost class; the scoring join chain is the same keyed equi-join shape.
    """
    w = words(text_col)
    m = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.arrays_zip(
                    F.slice(w, 1, m).alias("w1"), F.slice(w, 2, m).alias("w2")
                )
            ).alias("bg"),
        )
        .select("id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    # four model aggregations derive from the bigram-count table, which
    # stays lazy (persisting it measured no faster in an interleaved A/B
    # at sf0.1); the per-key model tables are pre-merged into it
    # (model-sized joins) so the corpus-sized scoring stream is joined
    # ONCE on (w1,w2) instead of three times
    counts = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left = counts.groupBy("w1").agg(
        F.sum("c12").alias("c1dot"), F.count(F.lit(1)).alias("n1p_w1")
    )
    cont = counts.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_w2"))
    cc = counts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c12") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c12") == 2, 1).otherwise(0)).alias("n2"),
    )
    model = counts.join(left, ["w1"]).join(cont, ["w2"])
    d = "double"
    disc = F.when(
        (F.col("n1") + 2 * F.col("n2")) > 0,
        F.col("n1").cast(d) / (F.col("n1") + 2 * F.col("n2")).cast(d),
    ).otherwise(F.lit(0.0))
    scored = (
        pairs.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(cc))
        .withColumn("__D", disc)
        .withColumn(
            "__p",
            F.greatest(F.col("c12").cast(d) - F.col("__D"), F.lit(0.0))
            / F.col("c1dot").cast(d)
            + (F.col("__D") * F.col("n1p_w1").cast(d) / F.col("c1dot").cast(d))
            * (F.col("n1p_w2").cast(d) / F.col("n_types").cast(d)),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("__p"))), 6).alias("logprob"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "logprob")
    )
