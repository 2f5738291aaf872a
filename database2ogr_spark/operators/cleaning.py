"""Corpus-cleaning operators for training-data pipelines: boilerplate line
removal (RefinedWeb/CCNet-style), a C4/Gopher-style quality-filter rule
cascade, and deterministic source-mixture resampling.

These extend the engine beyond the reference's surface (BASELINE.json north
star — the reference, ``/root/reference/src/from-ground-up.js``, has no corpus
operators; the closest analogue is its membership-validation filter F4).
Everything here is expression-tier (whole-stage codegen, no UDFs) with exact
DuckDB oracle twins in ``__spark_entry__.oracle_sql``.

100 TB design notes, per operator:

- ``remove_boilerplate``: one line-explode + groupBy(line-hash) to build the
  hot-line table (map-side ``array_distinct`` caps each doc's contribution at
  one row per distinct line, so the agg input is bounded by corpus line count,
  not line occurrences), then ONE broadcast join back (the hot-line table is
  tiny by construction — lines shared by >= min_df docs) and ONE shuffle by
  doc id to reassemble. No self-joins, no driver collects.
- ``quality_filter_flags``: purely narrow — a single projection over the
  staged token stats (functions/textstats.with_text_stats tokenizes once per
  row). Zero shuffles; filters compose with predicate pushdown.
- ``mix_sources``: per-source counts are a map-side-combined agg whose output
  is |sources| rows; the achievable-total reduction and per-source rates stay
  in-plan (crossJoin of two broadcast-sized aggregates — no driver collect),
  and the final keep-filter is a narrow hash predicate identical to
  operators/sampling.deterministic_sample, so the sample is stable under
  repartitioning, retries, and cluster resizes.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.functions import textstats as TS
from database2ogr_spark.functions.hashing import stable_hash64


def finite_or_null(c: Column) -> Column:
    """TRUE when ``c`` is NULL or a finite float — the metric ingestion
    predicate. At 100 TB a telemetry stream carries NaN/±Inf garbage;
    one Inf poisons every sum it reaches (or, cast to an integer cents
    column under ANSI mode, kills the whole job with CAST_OVERFLOW).
    NULL stays: an event without a metric is normal data and standard
    aggregate semantics (skip nulls) agree across engines. The DuckDB
    oracle mirror is ``(col IS NULL OR isfinite(col))``."""
    return c.isNull() | (~F.isnan(c) & (F.abs(c) < F.lit(float("inf"))))


def drop_nonfinite(df: DataFrame, col: str = "value") -> DataFrame:
    """Filter ``df`` to rows passing :func:`finite_or_null` on ``col`` —
    the one-line ingestion guard every metric-aggregating operator
    applies (probed by ``check_oracle.py --perturb nulls``). No-op on clean
    data; pushes as a scan-time predicate (no shuffle)."""
    return df.filter(finite_or_null(F.col(col)))


#: The engine-wide plausible event-time domain. Telemetry timestamped
#: before the epoch or beyond 2100 is corrupt ingest: pre-1970 epochs
#: expose the one arithmetic the engines genuinely disagree on (Spark's
#: unix_timestamp truncates seconds toward zero, SQL floor(epoch(ts))
#: goes toward -inf — off-by-one on every negative fraction). The domain
#: does NOT bound min→max time spines (gap-fill grids, day spines,
#: rolling windows): an in-domain epoch-zero row still stretches a spine
#: across decades, so plan cost stays a function of the dirtiest row
#: (gap_fill ×181, the rolling day spines ×658 on the times-perturbed
#: sf0.001 fixture; an open ROADMAP item). Probed by
#: ``check_oracle.py --perturb times``.
TIME_DOMAIN = ("1970-01-01 00:00:00", "2100-01-01 00:00:00")


def plausible_time(c: Column) -> Column:
    """TRUE when ``c`` lies inside :data:`TIME_DOMAIN` (NULL fails both
    comparisons, so the predicate subsumes the not-null event-time
    contract). DuckDB mirror:
    ``ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2100-01-01'``."""
    lo, hi = TIME_DOMAIN
    return (c >= F.lit(lo).cast("timestamp")) & (c < F.lit(hi).cast("timestamp"))


def within_time_domain(df: DataFrame, col: str = "ts") -> DataFrame:
    """Filter to rows whose ``col`` passes :func:`plausible_time` — the
    time-domain ingestion guard every event-time operator applies."""
    return df.filter(plausible_time(F.col(col)))


def _norm_lines(text_col: Column, sep: str) -> Column:
    """array<string> of trimmed non-empty ``sep``-separated segments.

    Trim strips spaces, tabs, AND carriage returns at both ends (not
    ``F.trim``, which is space-only): on CRLF corpora each ``\\n``-split
    line keeps a trailing ``\\r`` that would make identical boilerplate
    from LF vs CRLF docs never match. Mirrored in the oracle SQL.
    """
    parts = F.split(text_col, re.escape(sep))
    trimmed = F.transform(
        parts, lambda x: F.regexp_replace(x, r"^[\r\t ]+|[\r\t ]+$", "")
    )
    return F.filter(trimmed, lambda x: x != "")


def boilerplate_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 2,
) -> DataFrame:
    """Lines (trimmed, non-empty) occurring in >= ``min_df`` distinct docs,
    with their document frequency → (line, n_docs).

    ``array_distinct`` BEFORE the explode makes the count a document
    frequency without a count_distinct (two-shuffle) aggregate: each doc
    emits each of its distinct lines once, so a plain ``count(*)`` per line
    is the doc frequency — one shuffle total.
    """
    lines = df.select(
        F.explode(F.array_distinct(_norm_lines(F.col(text_col), sep))).alias("line")
    )
    return (
        lines.groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_df)
    )


def remove_boilerplate(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Drop lines shared by >= ``min_df`` docs from every document
    (RefinedWeb/CCNet boilerplate removal: nav menus, cookie banners, footers
    repeat across a crawl; real content lines don't).

    Output: (id, ``out_col``, n_removed) — kept lines rejoined with ``sep``
    in original order; a doc whose every line is boilerplate (or that had no
    non-empty lines) yields ``''``.

    Contract (frozen, mirrored in the oracle SQL): lines are trimmed
    (``[\\r\\t ]`` at both ends), empty lines are dropped *before* frequency
    counting and from the reassembled text, and matching is exact on the
    trimmed line.

    The flagging join carries no broadcast hint: the hot table (every
    trimmed line appearing in >= ``min_df`` docs) is bounded by the
    corpus's distinct-line count, which on a real crawl at ``min_df=2`` can
    be billions of rows — far past the broadcast limit. AQE broadcasts it
    when the runtime size qualifies.
    """
    arr = _norm_lines(F.col(text_col), sep)
    # sentinel: a doc with zero non-empty lines still needs a group row; ''
    # never matches a hot line (hot lines are non-empty) and rejoins to ''
    arr = F.when(F.size(arr) > 0, arr).otherwise(F.array(F.lit("")))
    hot = boilerplate_lines(df, text_col=text_col, sep=sep, min_df=min_df).select(
        "line", F.lit(True).alias("__hot")
    )
    exploded = df.select(F.col(id_col), F.posexplode(arr).alias("__pos", "line"))
    flagged = exploded.join(hot, "line", "left")
    kept = F.when(
        F.col("__hot").isNull() & (F.col("line") != ""),
        F.struct(F.col("__pos"), F.col("line")),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["line"]),
                sep,
            ).alias(out_col),
            F.sum(F.when(F.col("__hot").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


#: Frozen thresholds of the quality cascade (Gopher-rules flavor, scaled to
#: this corpus's short synthetic docs). Part of the operator contract — the
#: oracle SQL embeds the same numbers.
QUALITY_RULES = {
    "min_words": 20,
    "max_words": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_symbol_ratio": 0.1,
    "min_distinct_ratio": 0.2,
}


def quality_filter_flags(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4/Gopher-style quality-filter cascade → one boolean flag per rule
    plus the final ``keep`` verdict and a ``fail_reason`` (first failed rule
    in the fixed order, '' if kept).

    Rules (thresholds in :data:`QUALITY_RULES`): word-count window, mean
    word length window, symbol(punctuation)-to-char ratio cap, and a
    distinct-word diversity floor (degenerate repetition guard). Keeping the
    per-rule flags in the output — rather than just the verdict — is what a
    real pipeline audits: which rule fires how often per source/shard.
    """
    R = QUALITY_RULES
    s = TS.with_text_stats(
        df, text_col, langs=(), include_wordlen=True, include_distinct=True
    )
    n = F.col("__n_chars")
    ws = F.col("__ws_tokens").cast("double")
    mwl = F.when(ws > 0, F.col("__wordlen_total") / ws).otherwise(F.lit(0.0))
    sym = F.when(n > 0, F.col("__n_punct").cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    div = F.when(ws > 0, F.col("__distinct_toks").cast("double") / ws).otherwise(
        F.lit(0.0)
    )
    # NULL text must fail, not vanish: a NULL stat makes the raw comparison
    # NULL, which a keep-filter drops silently while the per-rule audit shows
    # no rule firing. Coalescing every flag to false makes keep=false and
    # fail_reason name the first rule for NULL/empty docs.
    flags = [
        (
            "ok_words",
            F.coalesce(
                (F.col("__ws_tokens") >= R["min_words"])
                & (F.col("__ws_tokens") <= R["max_words"]),
                F.lit(False),
            ),
        ),
        (
            "ok_word_len",
            F.coalesce(
                (mwl >= R["min_mean_word_len"]) & (mwl <= R["max_mean_word_len"]),
                F.lit(False),
            ),
        ),
        ("ok_symbols", F.coalesce(sym < R["max_symbol_ratio"], F.lit(False))),
        ("ok_diversity", F.coalesce(div >= R["min_distinct_ratio"], F.lit(False))),
    ]
    keep = flags[0][1]
    for _, c in flags[1:]:
        keep = keep & c
    reason = F.lit("")
    for name, c in reversed(flags):
        reason = F.when(~c, F.lit(name)).otherwise(reason)
    return s.select(
        F.col(id_col),
        *[c.alias(name) for name, c in flags],
        keep.alias("keep"),
        reason.alias("fail_reason"),
    )


def dedup_paragraphs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    out_col: str = "dedup_text",
) -> DataFrame:
    """Corpus-WIDE exact paragraph deduplication (C4/CCNet flavor): every
    duplicated paragraph keeps only its first occurrence — the doc with the
    smallest ``id_col``, then the smallest position within that doc — and
    every later occurrence is dropped from the reassembled text.

    Differs from :func:`remove_boilerplate` in semantics, not mechanics:
    boilerplate removal drops a shared line from EVERY doc once it crosses
    ``min_df``; paragraph dedup keeps exactly one copy in the corpus.

    Output: (id, ``out_col``, n_dropped). Contract mirrors _norm_lines:
    paragraphs are ``sep``-split, trimmed of ``[\\r\\t ]``, empties dropped
    before comparison and reassembly; matching is exact on the trimmed text.

    100 TB design: one wide shuffle — groupBy(paragraph) computing the
    global winner as ``min(struct(id, pos))`` (map-side combinable, payload
    is 16 bytes per distinct paragraph) — then an equi-join of the winner
    table back onto the exploded paragraphs on the paragraph key and one
    shuffle by doc id to reassemble. No self-joins, no windows over the
    whole corpus, no driver state. Hot paragraphs (the reason
    remove_boilerplate needs no guard here): a paragraph with d duplicates
    contributes d join rows — linear, not quadratic, so no max_df analogue
    is needed.
    """
    arr = _norm_lines(F.col(text_col), sep)
    arr = F.when(F.size(arr) > 0, arr).otherwise(F.array(F.lit("")))
    exploded = df.select(
        F.col(id_col).alias("__id"), F.posexplode(arr).alias("__pos", "para")
    ).filter(F.col("para") != "")
    winners = exploded.groupBy("para").agg(
        F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__w")
    )
    flagged = exploded.join(winners, "para").withColumn(
        "__keep",
        (F.col("__w.__id") == F.col("__id")) & (F.col("__w.__pos") == F.col("__pos")),
    )
    kept = F.when(F.col("__keep"), F.struct(F.col("__pos"), F.col("para")))
    reassembled = flagged.groupBy("__id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept)), lambda s: s["para"]), sep
        ).alias(out_col),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0)).cast("bigint").alias(
            "n_dropped"
        ),
    )
    # docs whose every paragraph was dropped (or that had none) still get a
    # row: left-join from the corpus and coalesce
    return (
        df.select(F.col(id_col))
        .join(reassembled, F.col(id_col) == F.col("__id"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("bigint").alias("n_dropped"),
        )
    )


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 11,
) -> DataFrame:
    """Resample the corpus to a target source mixture, deterministically and
    without upsampling: the output is the LARGEST corpus whose per-source
    share matches ``weights`` exactly (in expectation) using each source at
    most once.

    Achievable total ``T = min_s(n_s / w_s)`` over weighted sources; source
    ``s`` keeps ``w_s * T / n_s`` of its rows (the binding source keeps
    100%). Sources absent from ``weights`` are dropped. Row selection is the
    same md5 hash-mod rule as sampling.deterministic_sample — a row's fate
    depends only on its id and the weights, so mixtures are reproducible and
    nested across reruns.

    A weighted source with ZERO rows in ``df`` makes the target mixture
    unachievable; rather than silently returning a corpus that deviates from
    ``weights``, the achievable total is pinned to 0 (empty output) — the
    caller sees the violation instead of a skewed mixture. Checked in-plan
    (count of matched sources vs ``len(weights)``), no driver collect.
    """
    wcol = F.lit(None).cast("double")
    for src, w in sorted(weights.items()):
        wcol = F.when(F.col(source_col) == src, F.lit(float(w))).otherwise(wcol)
    counts = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).cast("double").alias("__n"))
        .withColumn("__w", wcol)
        .filter(F.col("__w").isNotNull())
    )
    total = counts.agg(
        F.when(F.count(F.lit(1)) < F.lit(len(weights)), F.lit(0.0))
        .otherwise(F.min(F.col("__n") / F.col("__w")))
        .alias("__T")
    )
    rates = counts.crossJoin(F.broadcast(total)).select(
        source_col, (F.col("__w") * F.col("__T") / F.col("__n")).alias("__rate")
    )
    bucket = (
        stable_hash64(F.col(id_col).cast("string"), seed=seed) % 1_000_000
    ).cast("double")
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(bucket < F.col("__rate") * 1_000_000.0)
        .drop("__rate")
    )


def strip_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 13,
    min_docs: int = 2,
) -> DataFrame:
    """The ACTION half of substring-level dedup (the detection half is
    dedup.duplicate_spans): cut every duplicated region out of every
    document's normalized token stream, keeping the surrounding text.

    Semantics: a token is removed when a duplicated k-window span covers
    its position. Removal is SYMMETRIC — the shared region disappears from
    ALL documents carrying it (the public Lee et al. 2022 tooling keeps
    one occurrence; symmetric removal is the deterministic,
    coordination-free variant: no cross-document election is needed, so
    the operator stays a per-doc join against the span table. Keep-one
    semantics require the doc-level group election of near_dup_groups —
    compose with it when that trade matters.)

    Output: (id_col, clean_text, n_tokens_kept, n_tokens_dropped) over the
    NORMALIZED token stream (the same whitespace normalization every gram
    operator applies — byte-level reconstruction would need original
    offsets, which rolling-gram ids deliberately do not carry).

    Scale: duplicate_spans' three linear shuffles, plus one posexplode of
    the corpus tokens joined per-doc against its spans (equi-join on the
    doc id; span count per doc is small) and a per-doc sorted
    reassembly — one more doc-keyed aggregation, no new quadratic.
    """
    from database2ogr_spark.functions.hashing import words
    from database2ogr_spark.operators.dedup import duplicate_spans

    spans = duplicate_spans(
        df, id_col, text_col, k_shingle=k_shingle, min_docs=min_docs
    ).select(F.col(id_col).alias("id"), "span_start", "span_end")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words(text_col)).alias("pos", "tok"),
    )
    covered = (
        toks.join(spans, "id")
        .filter(
            (F.col("pos") >= F.col("span_start"))
            & (F.col("pos") <= F.col("span_end"))
        )
        .select("id", "pos")
        .distinct()
    )
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    dropped_counts = covered.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens_dropped")
    )
    out = (
        kept.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_tokens_kept"),
        )
    )
    # docs whose every token was covered vanish from `kept` — resurface
    # them with empty text; docs with no spans have zero dropped
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        all_ids.join(out, "id", "left")
        .join(dropped_counts, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_tokens_kept"), F.lit(0)).alias("n_tokens_kept"),
            F.coalesce(F.col("n_tokens_dropped"), F.lit(0)).alias(
                "n_tokens_dropped"
            ),
        )
    )


def _nfc_col(col: Column) -> Column:
    """Unicode NFC normalization as an Arrow-batched pandas UDF.

    Spark has no native Unicode-normalize expression, so this is the one
    deliberate Python hop in the cleaning family: one Arrow batch transfer
    per partition, `unicodedata.normalize` per string (C-implemented in
    CPython). Known-ASCII corpora can skip it via
    ``normalize_text(..., nfc=False)`` and stay whole-stage-codegen.
    DuckDB's ``nfc_normalize`` implements the same Unicode algorithm —
    equality pinned in tests on composed/decomposed/ligature inputs.
    """
    import pandas  # noqa: F401 — resolves the UDF's string annotations

    def _apply(s: "pandas.Series") -> "pandas.Series":
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )

    _apply.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
    nfc = F.pandas_udf(_apply, "string")
    return nfc(col)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    *,
    nfc: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Canonical text normalization: Unicode NFC, control-character strip,
    space/tab-run collapse, blank-line-run collapse, edge trim.

    Every step after NFC is a native ``regexp_replace`` chain (JVM,
    whole-stage codegen) with patterns chosen to mean the same thing in
    Java regex and RE2 (character classes and bounded repetition only — no
    lookaround, no ``\\p`` classes): strip C0 controls + DEL except tab and
    newline, collapse ``[ \\t]{2,}`` to one space, collapse 3+ newlines
    (with optional surrounding spaces) to exactly two, trim
    ``[ \\t\\r\\n]`` at both ends. Order matters and is part of the
    contract: NFC first (so composed/decomposed forms collapse identically
    before any pattern matching), trims last.

    Scale: narrow, zero shuffle, composes with pushdown on other columns.
    With ``nfc=False`` the whole operator is expression-tier.
    """
    out = out_col or text_col
    c: Column = F.col(text_col)
    if nfc:
        c = _nfc_col(c)
    c = F.regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    c = F.regexp_replace(c, "[ \\t]{2,}", " ")
    c = F.regexp_replace(c, "[ \\t]*\\n([ \\t]*\\n)+[ \\t]*", "\n\n")
    c = F.regexp_replace(c, "^[ \\t\\r\\n]+|[ \\t\\r\\n]+$", "")
    return df.withColumn(out, c)


def winsorize(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    *,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization: clamp ``value_col`` into its group's exact
    interpolated [lo, hi] percentile band — outlier control before a metric
    feeds training or reweighting.

    One aggregation produces |groups| rows of bounds (``F.percentile`` —
    interpolated, bit-matching DuckDB's ``quantile_cont``, same portability
    contract as the green ``length_quantiles`` entry); the bounds broadcast
    back and the clamp is a narrow ``least/greatest``. The percentile agg
    itself shuffles the full value column to |groups| reducers — at extreme
    scale swap in ``percentile_approx`` (sketch, map-side mergeable) and
    accept the documented estimate semantics of the *_approx entries.
    Clamped output is rounded to 6 dp so engine float formatting can't leak
    into comparisons.

    NULL handling: NULL values stay NULL (explicit guard — least/greatest
    SKIP nulls in both engines, which would otherwise clamp a NULL to the
    lower bound).  Rows whose GROUP value is NULL pass through unclamped
    (rounded only): groupBy puts all NULL-group values in one bounds row,
    but an equi-join can never match it back (NULL ≠ NULL), so the round-4
    advisor found an inner join silently DROPPED those rows — the join is
    now a left join and missing bounds mean "no clamp".
    """
    out = out_col or f"{value_col}_w"
    # non-finite measurements are exactly the garbage winsorization exists
    # to control, and engines disagree on interpolated percentiles over
    # ±Inf — excluded up front (finite-or-null metric contract)
    df = drop_nonfinite(df, value_col)
    bounds = df.groupBy(group_col).agg(
        F.percentile(value_col, lo).alias("_w_lo"),
        F.percentile(value_col, hi).alias("_w_hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col, "left")
        .withColumn(
            out,
            # explicit NULL guard: Spark's least/greatest SKIP nulls (as do
            # DuckDB's), so without it a NULL value would silently clamp to
            # the lower bound instead of staying NULL
            F.when(
                F.col(value_col).isNull(), F.lit(None).cast("double")
            ).otherwise(
                F.round(
                    F.least(
                        F.greatest(F.col(value_col), F.col("_w_lo")),
                        F.col("_w_hi"),
                    ),
                    6,
                )
            ),
        )
        .drop("_w_lo", "_w_hi")
    )


#: pinned confusable map (1:1 char translate — public Unicode confusables
#: subset): Cyrillic + Greek lookalikes, smart punctuation, NBSP → ASCII
_HOMOGLYPH_FROM = (
    "\u0430\u0435\u043e\u0440\u0441\u0445\u0443"  # cyr a e o p c x y
    "\u0410\u0412\u0415\u041a\u041c\u041d\u041e\u0420\u0421\u0422\u0425"
    "\u03bf\u0391\u0392\u0395\u0396\u0397\u0399\u039a\u039c\u039d"
    "\u039f\u03a1\u03a4\u03a5\u03a7"
    "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
)
_HOMOGLYPH_TO = (
    "aeopcxy"
    "ABEKMHOPCTX"
    "oABEZHIKMN"
    "OPTYX"
    "''\"\"-- "
)
assert len(_HOMOGLYPH_FROM) == len(_HOMOGLYPH_TO)
#: zero-width / invisible characters stripped outright
_INVISIBLE_RE = "[\u200b\u200c\u200d\ufeff\u00ad]"


def normalize_homoglyphs(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Map Unicode confusables to their ASCII lookalikes and strip
    zero-width characters — the spoof-resistance step BEFORE
    fingerprinting/dedup: a crawler's copy of a document with Cyrillic
    'а' substituted for Latin 'a' (SEO spam, paywall evasion, adversarial
    dedup dodging) hashes differently from the original under every dedup
    operator in this repo unless the confusables are folded first.

    The map is a PINNED 1:1 ``translate`` (both engines share
    Postgres-style translate semantics) plus one regexp strip of invisible
    characters — narrow, whole-stage codegen, oracle-replayable.  This is
    deliberately a small curated subset of the public Unicode confusables
    table: high-frequency Cyrillic/Greek lookalikes, smart quotes, dashes,
    NBSP, zero-widths — extend the two constants to widen coverage.
    """
    out = out_col or text_col
    c = F.translate(F.col(text_col), _HOMOGLYPH_FROM, _HOMOGLYPH_TO)
    c = F.regexp_replace(c, _INVISIBLE_RE, "")
    return df.withColumn(out, c)


def blocklist_screen(
    df: DataFrame,
    terms: list[str] | DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hits: int = 0,
) -> DataFrame:
    """C4-style blocklist screening (public Raffel et al. 2020 §2.2 — the
    "bad words" document drop): count whole-token blocklist hits per
    document (case-insensitive, over the family's normalized whitespace
    tokenization) and flag documents exceeding ``max_hits`` (default 0 =
    any hit blocks, the C4 rule).

    ``terms`` is a Python list OR a single-column DataFrame (``term``) —
    real blocklists are datasets, not literals. Either way the term table
    rides a BROADCAST against the exploded token stream (word-exact
    membership — substring blocklists belong to redact()'s regex tier);
    one partial-agg'd shuffle on the doc id produces per-doc hit counts,
    and non-matching docs survive via the left join's coalesce. At 100 TB
    the explode is the corpus-linear cost every text operator pays; the
    blocklist side stays broadcast no matter the corpus size.

    Output: (id_col, n_hits, n_distinct_terms, blocked) — the caller
    filters on ``blocked`` (the ACTION half stays composable, same split
    as duplicate_spans/strip_duplicate_spans).
    """
    from database2ogr_spark.functions.hashing import words

    spark = df.sparkSession
    if isinstance(terms, DataFrame):
        tdf = terms.select(F.lower(F.col("term")).alias("term")).distinct()
    else:
        tdf = spark.createDataFrame(
            [(t.lower(),) for t in set(terms)], ["term"]
        )
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(words(text_col)).alias("term")
    )
    hits = (
        toks.join(F.broadcast(tdf), "term")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("term").alias("n_distinct_terms"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(hits, F.col(id_col) == F.col("__id"), "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.coalesce("n_distinct_terms", F.lit(0)).alias("n_distinct_terms"),
            (F.coalesce("n_hits", F.lit(0)) > max_hits).alias("blocked"),
        )
    )


def mad_outliers(
    df: DataFrame,
    *,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier flagging via median absolute deviation —
    the robust sibling of :func:`winsorize`: mean/stddev-based z-scores are
    dragged by the very outliers they are meant to find, while the
    median/MAD breakdown point is 50%.

    Output: (id, group, value, med, mad, robust_z, is_outlier) where
    ``robust_z = (x - med) / (1.4826 * mad)`` (the normal-consistency
    constant), rounded to 6, and ``is_outlier = |robust_z| > k``. A
    degenerate group (``mad = 0``: over half the values identical) yields
    NULL ``robust_z`` and flags exactly the rows that differ from the
    median at all — the only consistent reading of "deviation in MAD
    units" when the unit is zero.

    Scale: two grouped EXACT medians (one for ``med``, one for ``mad``
    over the residuals) — two shuffles on ``group_col`` — and the
    per-group stats come back via broadcast joins (group cardinality ~
    sources, never corpus-sized). Exact ``median`` buffers each group's
    values inside the aggregate, which is fine for the per-source
    cardinalities this targets; for millions of groups of millions of rows
    swap both aggregates to ``approx_percentile(…, 0.5, accuracy)`` — the
    operator shape (and this function's callers) stay identical. NULL
    group rows pass through unflagged (left joins), NULL values yield NULL
    stats for their row only.
    """
    med = df.groupBy(group_col).agg(F.median(F.col(value_col)).alias("med"))
    with_med = df.join(F.broadcast(med), group_col, "left")
    mad = (
        with_med.filter(F.col(value_col).isNotNull())
        .groupBy(group_col)
        .agg(F.median(F.abs(F.col(value_col) - F.col("med"))).alias("mad"))
    )
    z = F.round(
        (F.col(value_col) - F.col("med")) / (F.lit(1.4826) * F.col("mad")), 6
    )
    return (
        with_med.join(F.broadcast(mad), group_col, "left")
        .select(
            id_col,
            group_col,
            value_col,
            "med",
            "mad",
            F.when(F.col("mad") > 0, z).alias("robust_z"),
            F.when(
                F.col("mad") > 0, F.abs(z) > F.lit(float(k))
            )
            .otherwise(F.col(value_col) != F.col("med"))
            .alias("is_outlier"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    *,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    decimals: int = 6,
) -> DataFrame:
    """Cross-group score calibration: replace each row's value with the
    GLOBAL distribution's exact quantile at the row's within-group
    percent-rank — after this, every group's scores follow the same
    (pooled) distribution, so a single threshold means the same thing for
    every source. The classic fix for "source A's quality model scores run
    hot" before mixing corpora.

    normalized(x) = Q_global(percent_rank_within_group(x)), with linear
    interpolation between the two bracketing order statistics (the
    standard type-7 quantile). Single-row groups get percent_rank 0 (both
    engines define it so).

    Scale design — NO global sort: the within-group ranks are per-group
    windows (distributed by group), and the global quantile function is
    built from the DISTINCT-VALUE histogram: distinct values with counts,
    cumulatively summed in value order. That table is distinct-value-sized
    (scores are bounded-precision in practice), its window runs over that
    small table only, and it is broadcast into two range joins that pick
    the bracketing order statistics. Nothing corpus-sized is ever sorted
    or shuffled to one task — compare the textbook global row_number
    formulation, which funnels the corpus through a single partition.
    """
    n_total = df.filter(F.col(value_col).isNotNull()).count()
    if n_total == 0:
        return df.select(
            F.col(id_col), F.col(group_col), F.col(value_col),
            F.lit(None).cast("double").alias("pr"),
            F.lit(None).cast("double").alias("normalized"),
        ).limit(0)
    # within-group percent rank (deterministic: value, then id tie-break
    # does not matter for percent_rank — equal values share a rank)
    wg = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    ranked = df.filter(F.col(value_col).isNotNull()).withColumn(
        "pr", F.percent_rank().over(wg)
    )
    # global order statistics from the distinct-value histogram: value v
    # occupies 0-based positions [start, start + cnt)
    hist = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wv = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wv)).select(
        "v", (F.col("cum") - F.col("cnt")).alias("start"), F.col("cum")
    )
    pos = F.col("pr") * F.lit(float(n_total - 1))
    k_lo = F.floor(pos).cast("bigint")
    k_hi = F.ceil(pos).cast("bigint")
    ranked = ranked.withColumn("_klo", k_lo).withColumn("_khi", k_hi).withColumn(
        "_frac", pos - F.floor(pos)
    )
    lo = F.broadcast(cum.select(F.col("v").alias("_vlo"), "start", "cum"))
    hi = F.broadcast(cum.select(F.col("v").alias("_vhi"),
                                F.col("start").alias("s2"), F.col("cum").alias("c2")))
    out = (
        ranked.join(lo, (F.col("_klo") >= F.col("start")) & (F.col("_klo") < F.col("cum")))
        .join(hi, (F.col("_khi") >= F.col("s2")) & (F.col("_khi") < F.col("c2")))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.col(value_col),
            F.round("pr", 9).alias("pr"),
            F.round(
                F.col("_vlo") + F.col("_frac") * (F.col("_vhi") - F.col("_vlo")),
                decimals,
            ).alias("normalized"),
        )
    )
    return out
