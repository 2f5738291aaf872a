"""Text-analysis expressions for the training-data pipeline surface:
language-ID, quality scoring, token counting, fingerprinting.

All native Column expressions (BASELINE.json north star: these are first-class
operators alongside the reference's geospatial surface). Each has an exact
ANSI-SQL twin in ``__spark_entry__.oracle_sql`` — keep the two in sync.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from database2ogr_spark.functions.hashing import normalize_text, words


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
# Deliberately small + frozen: they are part of the operator's contract (the
# oracle SQL embeds the same lists).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "fr": ("le", "la", "les", "de", "des", "et", "est", "une", "que", "pour"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "es": ("el", "la", "los", "de", "que", "y", "es", "una", "por", "para"),
}

# BPE-ish tokenizer regex: letter runs | digit runs | single non-space symbol.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(col: Column | str) -> Column:
    """Token count under whitespace tokenization."""
    return F.size(words(col))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words(col), lambda t: F.array_contains(sw, t)))


def lang_id(col: Column | str) -> Column:
    """Stopword-vote language heuristic → 'en'|'fr'|'de'|'es'|'und'.

    Highest hit count wins; ties broken by the fixed language order above;
    zero hits → 'und' (undetermined). Deterministic, oracle-expressible.
    """
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    result = F.lit("und")
    # reversed so earlier languages win ties (last when() checked first wins
    # is avoided by building the chain in priority order instead):
    expr = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(result)


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters (0 for empty)."""
    c = _c(col)
    n = F.length(c)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str) -> Column:
    """English stopword tokens / total tokens (0 for empty docs)."""
    n = whitespace_token_count(col)
    return F.when(
        n > 0, stopword_hits(col, "en").cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def mean_word_length(col: Column | str) -> Column:
    ws = words(col)
    n = F.size(ws)
    total = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic doc-quality score in [0, 1].

    Components (equal thirds): length sweet-spot (100..20000 chars),
    punctuation ratio below 0.2, stopword ratio in 0.05..0.6. The formula is
    frozen — it is mirrored verbatim in the oracle SQL.
    """
    c = _c(col)
    n = F.length(c)
    len_ok = F.when((n >= 100) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(c) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    sw = stopword_ratio(c)
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + punct_ok + sw_ok) / F.lit(3.0), 6)


# ---------------------------------------------------------------------------
# Staged (single-tokenization) variants.
#
# Column-expression reuse in Python duplicates the expression *tree*, and a
# projection that falls out of whole-stage codegen re-evaluates every duplicate
# — measured 4x on topk_quality_docs at sf0.1, where the tokenizing
# split/filter appeared six times in one Project. The staged API materializes
# the token array under an alias in one Project and derives every stat from
# that alias in the next; Spark >= 3.3 CollapseProject refuses to re-inline a
# non-cheap alias referenced more than once, so the tokenization runs exactly
# once per row (verified via explain: two stacked Projects, `words(...)` only
# in the first).


def with_text_stats(
    df,
    col: str = "text",
    langs: tuple[str, ...] = ("en",),
    include_wordlen: bool = False,
    include_regex_tokens: bool = False,
    include_distinct: bool = False,
):
    """Append token-derived stat columns to ``df``, tokenizing ONCE per row.

    Adds ``__n_chars``, ``__n_punct``, ``__ws_tokens``, and ``__hits_<lang>``
    for each requested language; optionally ``__wordlen_total`` (sum of token
    lengths), ``__re_tokens`` (BPE-ish regex token count), and
    ``__distinct_toks`` (distinct token count — the diversity guard of the
    quality cascade). Downstream formulas (quality_from_stats /
    lang_id_from_hits) reference only these cheap integer columns.
    """
    c = F.col(col)
    extra1 = []
    if include_regex_tokens:
        extra1.append(F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)).alias("__re_tokens"))
    stage1 = df.select(
        "*",
        words(c).alias("__toks"),
        F.length(c).alias("__n_chars"),
        (F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))).alias("__n_punct"),
        *extra1,
    )
    toks = F.col("__toks")
    extra2 = [F.size(toks).alias("__ws_tokens")]
    def _hits(lang: str) -> Column:
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))

    for lang in langs:
        extra2.append(_hits(lang).alias(f"__hits_{lang}"))
    if include_wordlen:
        extra2.append(
            F.aggregate(toks, F.lit(0), lambda acc, w: acc + F.length(w)).alias(
                "__wordlen_total"
            )
        )
    if include_distinct:
        extra2.append(F.size(F.array_distinct(toks)).alias("__distinct_toks"))
    keep = [k for k in stage1.columns if k != "__toks"]
    return stage1.select(*keep, *extra2)


def quality_from_stats(
    n_chars: Column, n_punct: Column, ws_tokens: Column, en_hits: Column
) -> Column:
    """``quality_score`` computed from pre-staged stats — identical frozen
    formula, but each heavy input is a column reference, not a re-derivation."""
    len_ok = F.when((n_chars >= 100) & (n_chars <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    pr = F.when(
        n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    punct_ok = F.when(pr < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    sw = F.when(
        ws_tokens > 0, en_hits.cast("double") / ws_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    sw_ok = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + punct_ok + sw_ok) / F.lit(3.0), 6)


def lang_id_from_hits(hits: dict[str, Column]) -> Column:
    """``lang_id`` vote chain over pre-staged per-language hit counts."""
    best = F.greatest(*hits.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in STOPWORDS:
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def rolling_fingerprint(col: Column | str, modulus: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash (base 31, mod 1e9+7) over the characters of the
    normalized text — a content fingerprint that is cheap, order-sensitive,
    and exactly reproducible in SQL (the oracle mirrors it with list_reduce).
    """
    chars = F.split(normalize_text(col), "")
    chars = F.filter(chars, lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % F.lit(modulus),
    )


def content_fingerprint(col: Column | str) -> Column:
    """md5 of the normalized text — the exact-dup grouping key."""
    return F.md5(normalize_text(col))


def lexical_diversity(
    df,
    *,
    group_col: str = "source",
    text_col: str = "text",
):
    """Per-group lexical-diversity report — the text-side health metrics
    a mixture owner reads next to zipf_fit/vocab_growth: type-token ratio
    (distinct words / words), hapax rate (share of the group's vocabulary
    occurring exactly once), and distinct-bigram ratio (the distinct-n
    diversity metric of the self-BLEU family — templated/generated text
    collapses it long before TTR moves).

    Output: (group_col, n_tokens, n_types, ttr, hapax_rate,
    distinct_bigram_ratio), ratios rounded 6 dp. Groups whose docs have
    <2 words have NULL distinct_bigram_ratio (no bigrams to measure).

    Scale: one token explode feeding a (group, word) partial-agg'd count
    (type/hapax stats derive from that bounded table), plus one bigram
    explode feeding a (group, bigram) distinct-vs-total count pair of
    aggs sharing the exchange prefix. Everything downstream of the two
    gram streams is #groups-sized.
    """
    from pyspark.sql import functions as F

    from database2ogr_spark.functions.hashing import words

    ws = words(text_col)
    tok = df.select(F.col(group_col).alias("grp"), F.explode(ws).alias("w"))
    wc = tok.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("c"))
    uni = wc.groupBy("grp").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    n = F.size(ws)
    m = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(ws, 1, m), F.slice(ws, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = df.select(
        F.col(group_col).alias("grp"), F.explode(bigrams).alias("b")
    )
    bstats = bg.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.countDistinct("b").alias("n_distinct_bigrams"),
    )
    return (
        uni.join(bstats, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_types").cast("bigint").alias("n_types"),
            F.round(F.col("n_types") / F.col("n_tokens").cast("double"), 6).alias("ttr"),
            F.round(F.col("n_hapax") / F.col("n_types").cast("double"), 6).alias(
                "hapax_rate"
            ),
            F.round(
                F.col("n_distinct_bigrams") / F.col("n_bigrams").cast("double"), 6
            ).alias("distinct_bigram_ratio"),
        )
    )


def sentence_count(col: Column | str) -> Column:
    """Sentence count as terminal-punctuation RUNS (``[.!?]+`` — '?!'
    and '...' end ONE sentence), floored at 1 for any non-blank text so
    ratio denominators stay sane on fragments."""
    runs = F.size(
        F.filter(
            F.split(F.regexp_replace(_c(col), r"[.!?]+", "\x00"), "\x00"),
            lambda x: F.trim(x) != "",
        )
    )
    return F.greatest(runs, F.lit(1))


def syllable_count(col: Column | str) -> Column:
    """Approximate syllables: VOWEL GROUPS per word (the standard
    dictionary-free heuristic — each maximal run of [aeiouy] counts
    once), floored at one per word. Pure regex arithmetic, so the count
    is deterministic and engine-replayable — which an NLP-library
    syllabifier is not.
    """
    lower = F.lower(_c(col))
    # split on vowel runs: pieces - 1 == number of vowel groups
    vg = F.size(F.split(lower, r"[aeiouy]+")) - F.lit(1)
    words = whitespace_token_count(col)
    # every word has >= 1 syllable: take the max of the two estimates
    return F.greatest(vg, words)


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading ease (public 1948 formula): 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words); NULL on blank
    text. All three counts are the deterministic regex forms above."""
    w = whitespace_token_count(col).cast("double")
    s = sentence_count(col).cast("double")
    sy = syllable_count(col).cast("double")
    return F.when(
        w > 0,
        F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (sy / w),
    )
