"""Repetition quality metrics à la the Gopher repetition filters
[Rae et al., "Scaling Language Models: ... Gopher", arXiv:2112.11446 §A1.1]:
documents dominated by repeated fragments are low-quality training data and
are filtered on (a) the fraction of duplicate n-grams and (b) the share of
the single most-frequent n-gram.

Reference parity: the reference engine has no text-quality surface
(`src/from-ground-up.js` is a geospatial exporter); this module is part of
the beyond-reference training-data operators (BASELINE.json north star),
sibling to `functions/textstats.py`.

Scale design: n-gram identity is the same word-hash + rolling-hash
arithmetic as MinHash (`functions/hashing.py` — one md5 per word, everything
else integer ops, no n-gram strings). Every per-document count comes from
one shuffle-free Arrow pass (`functions/gramkernel.repetition_counts_table`);
the fractions are Column arithmetic over those counts, so no groupBy or
join runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    top_n: int = 2,
) -> DataFrame:
    """Per-document repetition metrics:

    - ``n_tokens`` — whitespace token count;
    - ``dup_token_frac`` — ``1 - distinct tokens / tokens`` (0.0 if empty);
    - ``dup_bigram_frac`` — same over word bigrams (0.0 if < 2 tokens);
    - ``top_ngram_count`` / ``top_ngram_frac`` — occurrences of the most
      frequent word ``top_n``-gram and its share of all ``top_n``-grams
      (0 / 0.0 for docs with < top_n tokens).

    Fractions are rounded to 6 places (oracle parity).

    The Arrow kernel computes every COUNT per document in one shuffle-free
    ``mapInPandas`` pass (the most-frequent-gram count is a per-document
    statistic, so it needs no explode, groupBy or join); the counts equal
    in-row specs over ``functions/hashing.py`` gram ids (pinned in
    tests/test_gramkernel.py).
    """
    from database2ogr_spark.functions.gramkernel import repetition_counts_table
    from database2ogr_spark.operators.partitioning import spread

    c = repetition_counts_table(spread(df), id_col, text_col, top_n)

    def frac(num, den):
        return F.round(
            F.lit(1.0) - num.cast("double") / den.cast("double"), 6
        )

    return c.select(
        F.col("id").alias(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.when(F.col("n_tokens") > 0, frac(F.col("nd_tokens"), F.col("n_tokens")))
        .otherwise(F.lit(0.0)).alias("dup_token_frac"),
        F.when(F.col("n_bigrams") > 0, frac(F.col("nd_bigrams"), F.col("n_bigrams")))
        .otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
        F.col("top_ngram_count"),
        F.when(
            F.col("total_ngrams") > 0,
            F.round(
                F.col("top_ngram_count").cast("double")
                / F.col("total_ngrams").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("top_ngram_frac"),
    )


def novelty_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 13,
) -> DataFrame:
    """Cross-document duplicated-n-gram fraction — the ACROSS-corpus
    complement of :func:`repetition_stats` (which is within-doc): for each
    document, the share of its k-word windows whose gram also occurs in at
    least one OTHER document (FineWeb/RefinedWeb-style "duplicated n-gram
    fraction" quality signal; high values flag boilerplate, mirror content,
    and memorization-risk passages that survive doc-level dedup).

    Output: (id_col, n_windows, n_dup_windows, dup_window_frac,
    max_gram_docs) — ``max_gram_docs`` is the document-frequency of the
    doc's most-copied window (how viral its hottest phrase is).

    Scale shape — same linear posting-list discipline as
    ``dedup.duplicate_spans``: gram ids are the md5 rolling hashes of the
    family (no n-gram strings cross the wire), posting lists are COUNTED
    (never self-joined), and the windows⋈gram-df equi-join is linear in
    total windows no matter how hot a phrase is. Two shuffles (distinct
    (gram, doc) df-count; the join back) plus the per-doc agg, which
    reuses the join's output partitioning.
    """
    from pyspark import StorageLevel

    from database2ogr_spark.functions.gramkernel import gram_position_table
    from database2ogr_spark.operators.partitioning import (
        finalize_lifecycle,
        spread,
    )

    pos_table = gram_position_table(spread(df), id_col, text_col, k_shingle)
    # read by the df-count agg AND the join side; released on exit
    pos_table = pos_table.persist(StorageLevel.MEMORY_AND_DISK)
    gram_df = (
        pos_table.filter(F.col("first"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gdf"))
    )
    out = (
        pos_table.join(gram_df, "gram")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("gdf") >= 2, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
            F.round(
                F.sum(F.when(F.col("gdf") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_window_frac"),
            F.max("gdf").alias("max_gram_docs"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            "n_dup_windows",
            "dup_window_frac",
            "max_gram_docs",
        )
    )
    return finalize_lifecycle(out, [pos_table])


def char_entropy(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution,
    ``H = -Σ p(c)·ln p(c)`` — a classic gibberish/compressibility signal:
    keyboard-mash and single-char runs score near 0, natural prose lands
    ~3-4.2 nats, random bytes approach ln(alphabet).

    Output: (id, n_chars_counted, char_entropy) — empty/NULL text yields
    entropy 0.0 with 0 chars (a row is never dropped by a quality signal;
    downstream filters decide).

    Scale: the explode is per-CHARACTER, so the shuffled key stream is
    corpus-character-sized — but it reduces immediately on (id, char) with
    map-side partial aggregation, and the second per-id reduce shares the
    same exchange prefix (one shuffle total). For a pure no-shuffle path
    at extreme scale the per-doc counting can move into an Arrow kernel
    (one ``mapInPandas`` pass, counts in-kernel — what
    :func:`repetition_stats` does via ``functions/gramkernel``); the
    declarative form here keeps the arithmetic oracle-replayable.
    """
    chars = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    # two-step: totals first, then p·ln p against the joined total — an
    # aggregate can't reference its own group total, so compute it via a
    # second groupBy sharing the same exchange prefix
    totals = counts.groupBy("id").agg(F.sum("c").alias("n"))
    ent = (
        counts.join(totals, "id")
        .groupBy("id")
        .agg(
            F.max("n").alias("n_chars_counted"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n"))
                    * F.log(F.col("c") / F.col("n"))
                ),
                decimals,
            ).alias("char_entropy"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(ent, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_chars_counted", F.lit(0)).alias("n_chars_counted"),
            F.coalesce("char_entropy", F.lit(0.0)).alias("char_entropy"),
        )
    )
