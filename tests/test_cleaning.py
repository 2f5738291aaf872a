"""Corpus-cleaning operators (operators/cleaning.py): boilerplate-line
removal, the quality-filter cascade, and source-mixture resampling.

The graded entries live in __spark_entry__ (remove_boilerplate /
quality_flags / mix_sources) with exact DuckDB oracle twins; these tests pin
the contract edges the oracle data doesn't reach: CRLF trimming,
all-boilerplate docs, NULL text, missing weighted sources.
"""

from __future__ import annotations

import pytest

from database2ogr_spark.operators.cleaning import (
    QUALITY_RULES,
    boilerplate_lines,
    dedup_paragraphs,
    mix_sources,
    quality_filter_flags,
    remove_boilerplate,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_remove_boilerplate_basic(spark):
    df = _docs(
        spark,
        [
            (1, "COOKIE BANNER\nunique alpha\nfooter"),
            (2, "COOKIE BANNER\nunique beta\nfooter"),
            (3, "unique gamma"),
        ],
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_boilerplate(df).collect()
    }
    assert out[1] == ("unique alpha", 2)
    assert out[2] == ("unique beta", 2)
    assert out[3] == ("unique gamma", 0)


def test_remove_boilerplate_crlf_and_tabs_match_lf(spark):
    # CRLF docs and LF docs must agree on the trimmed line — F.trim would
    # leave '\r' and the banner would never reach min_df (ADVICE r2)
    df = _docs(
        spark,
        [
            (1, "COOKIE BANNER\r\nbody one"),
            (2, "\tCOOKIE BANNER \nbody two"),
        ],
    )
    hot = [r["line"] for r in boilerplate_lines(df).collect()]
    assert hot == ["COOKIE BANNER"]
    out = {r["doc_id"]: r["clean_text"] for r in remove_boilerplate(df).collect()}
    assert out == {1: "body one", 2: "body two"}


def test_remove_boilerplate_degenerate_docs(spark):
    # all-boilerplate and no-line docs both yield '' and still get a row
    df = _docs(
        spark,
        [(1, "same\nsame2"), (2, "same\nsame2"), (3, "   \n\t\n"), (4, None)],
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in remove_boilerplate(df).collect()
    }
    assert out[1] == ("", 2)
    assert out[2] == ("", 2)
    assert out[3] == ("", 0)
    assert out[4] == ("", 0)


def test_remove_boilerplate_preserves_order(spark):
    df = _docs(
        spark,
        [(1, "z last\nHOT\na first\nHOT\nm mid"), (2, "HOT")],
    )
    row = {
        r["doc_id"]: r
        for r in remove_boilerplate(df).collect()
    }
    assert row[1]["clean_text"] == "z last\na first\nm mid"
    assert row[1]["n_removed"] == 2


def test_dedup_paragraphs_first_occurrence_wins(spark):
    # the winner is (min doc_id, then min position) — doc 1 keeps both
    # copies' first occurrence; doc 2's copy of 'dup' is dropped, its own
    # unique line survives; in-doc repeats keep only the first
    df = _docs(
        spark,
        [
            (1, "dup\nunique one\ndup"),
            (2, "unique two\ndup"),
        ],
    )
    out = {
        r["doc_id"]: (r["dedup_text"], r["n_dropped"])
        for r in dedup_paragraphs(df).collect()
    }
    assert out[1] == ("dup\nunique one", 1)
    assert out[2] == ("unique two", 1)


def test_dedup_paragraphs_crlf_and_degenerate(spark):
    df = _docs(
        spark,
        [
            (1, "shared\r\nbody a"),
            (2, " shared \nbody b"),
            (3, "shared"),
            (4, "  \n\t"),
            (5, None),
        ],
    )
    out = {
        r["doc_id"]: (r["dedup_text"], r["n_dropped"])
        for r in dedup_paragraphs(df).collect()
    }
    assert out[1] == ("shared\nbody a", 0)
    assert out[2] == ("body b", 1)
    assert out[3] == ("", 1)
    assert out[4] == ("", 0)
    assert out[5] == ("", 0)


def test_quality_flags_good_and_bad(spark):
    # 30 unique words: diversity 1.0, mean word len ~5, no punctuation
    good = " ".join(f"word{i:02d}" for i in range(30))
    repeated = "word " * 60  # diversity 1/60 < 0.2
    short = "too few words"
    df = _docs(spark, [(1, good), (2, repeated), (3, short)])
    out = {r["doc_id"]: r for r in quality_filter_flags(df).collect()}
    assert out[1]["keep"] and out[1]["fail_reason"] == ""
    assert not out[2]["keep"] and out[2]["fail_reason"] == "ok_diversity"
    assert not out[3]["keep"] and out[3]["fail_reason"] == "ok_words"
    assert QUALITY_RULES["min_words"] == 20


def test_quality_flags_null_text_fails_closed(spark):
    # NULL text must fail with a named rule, not sail through as NULL flags
    # (ADVICE r2: null docs looked clean in the per-rule audit)
    df = _docs(spark, [(1, None), (2, "")])
    out = {r["doc_id"]: r for r in quality_filter_flags(df).collect()}
    for doc_id in (1, 2):
        r = out[doc_id]
        assert r["keep"] is False
        assert r["fail_reason"] == "ok_words"
        assert r["ok_words"] is False and r["ok_diversity"] is False


def _sourced(spark, counts: dict[str, int]):
    rows = []
    i = 0
    for src, n in counts.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_mix_sources_rates_and_determinism(spark):
    df = _sourced(spark, {"a": 1000, "b": 1000, "c": 500})
    out = mix_sources(df, {"a": 0.5, "b": 0.25, "c": 0.25})
    # T = min(1000/.5, 1000/.25, 500/.25) = 2000: a keeps 100%, b 50%, c 100%
    by_src = {r["source"]: r["n"] for r in out.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    assert by_src["a"] == 1000
    assert by_src["c"] == 500
    assert abs(by_src["b"] - 500) < 80  # hash-mod 50% of 1000
    assert sorted(out.collect()) == sorted(mix_sources(df, {"a": 0.5, "b": 0.25, "c": 0.25}).collect())


def test_mix_sources_drops_unweighted_sources(spark):
    df = _sourced(spark, {"a": 100, "junk": 100})
    out = mix_sources(df, {"a": 1.0})
    assert out.filter("source = 'junk'").count() == 0
    assert out.count() == 100


def test_mix_sources_missing_weighted_source_yields_empty(spark):
    # a weighted source with zero rows makes the mixture unachievable; the
    # contract is an EMPTY result, not a silently-skewed one (ADVICE r2)
    df = _sourced(spark, {"a": 100, "b": 100})
    assert mix_sources(df, {"a": 0.5, "ghost": 0.5}).count() == 0


def test_strip_duplicate_spans_cuts_shared_region(spark):
    from database2ogr_spark.operators.cleaning import strip_duplicate_spans

    rows = [
        (1, "aa bb one two three four five cc dd"),
        (2, "one two three four five xx yy zz"),
        (3, "nothing shared here at all right"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_kept, r.n_tokens_dropped)
        for r in strip_duplicate_spans(df, k_shingle=3).collect()
    }
    assert got[1] == ("aa bb cc dd", 4, 5)
    assert got[2] == ("xx yy zz", 3, 5)
    assert got[3] == ("nothing shared here at all right", 6, 0)


def test_strip_duplicate_spans_fully_covered_doc_survives_empty(spark):
    from database2ogr_spark.operators.cleaning import strip_duplicate_spans

    rows = [(1, "one two three four"), (2, "one two three four")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens_kept, r.n_tokens_dropped)
        for r in strip_duplicate_spans(df, k_shingle=3).collect()
    }
    assert got == {1: ("", 0, 4), 2: ("", 0, 4)}


# ---------------------------------------------------------------------------
# normalize_text / winsorize (round-4 additions)


def test_normalize_text_nfc_unifies_forms(spark):
    """Composed vs decomposed 'é' normalize to one representation; the
    DuckDB oracle covers the corpus — this covers the unicode cases the
    synthetic corpus lacks."""
    import unicodedata

    from database2ogr_spark.operators.cleaning import normalize_text

    composed = "café"             # é as one codepoint
    decomposed = "café"          # e + combining acute
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, "ﬁle")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in normalize_text(df, "text").collect()}
    assert out[1] == out[2] == unicodedata.normalize("NFC", composed)
    # NFC does NOT decompose ligatures (that's NFKC) — contract check
    assert out[3] == "ﬁle"


def test_normalize_text_whitespace_and_controls(spark):
    from database2ogr_spark.operators.cleaning import normalize_text

    raw = "  a\x07b\t\tc  \n \n\n\nd  "
    df = spark.createDataFrame([(1, raw)], "doc_id long, text string")
    out = normalize_text(df, "text").collect()[0].text
    # bell stripped, tab-run collapsed, 3+ blank-line run -> exactly one
    # blank line, edges trimmed
    assert out == "ab c\n\nd"


def test_normalize_text_expression_tier_when_nfc_off(spark):
    """nfc=False must stay whole-stage codegen: no Python evals in the plan."""
    from database2ogr_spark.operators.cleaning import normalize_text

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        normalize_text(df, "text", nfc=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_winsorize_matches_numpy_linear_interpolation(spark):
    import numpy as np

    from database2ogr_spark.operators.cleaning import winsorize

    vals = [1.0, 2.0, 3.0, 4.0, 100.0]
    df = spark.createDataFrame(
        [(i, "g", v) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    out = {r.event_id: r.value_w for r in winsorize(df).collect()}
    lo = np.percentile(vals, 5, method="linear")
    hi = np.percentile(vals, 95, method="linear")
    for i, v in enumerate(vals):
        assert out[i] == round(float(np.clip(v, lo, hi)), 6)


def test_winsorize_groups_do_not_leak(spark):
    from database2ogr_spark.operators.cleaning import winsorize

    rows = [(i, "small", float(i % 3)) for i in range(30)] + [
        (100 + i, "big", 1000.0 + i) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = winsorize(df).collect()
    for r in out:
        if r.event_type == "small":
            assert r.value_w <= 2.0
        else:
            assert r.value_w >= 1000.0


def test_normalize_text_idempotent_on_random_unicode(spark):
    """normalize(normalize(x)) == normalize(x) — canonicalization property,
    on unicode including combining marks, controls, and whitespace."""
    from hypothesis import given, settings, strategies as st

    from database2ogr_spark.operators.cleaning import normalize_text

    texts = st.lists(
        st.text(max_size=50), min_size=1, max_size=5
    )

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(texts=texts)
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        once = normalize_text(df, "text", out_col="n1")
        twice = normalize_text(once, "n1", out_col="n2")
        for r in twice.collect():
            assert r.n2 == r.n1

    check()


def test_normalize_and_winsorize_null_handling(spark):
    from database2ogr_spark.operators.cleaning import normalize_text, winsorize

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert normalize_text(df, "text").collect()[0].text is None
    ev = spark.createDataFrame(
        [(1, "a", None), (2, "a", 5.0)],
        "event_id long, event_type string, value double",
    )
    out = {r.event_id: r.value_w for r in winsorize(ev).collect()}
    # null value clamps to null; percentile ignores nulls in both engines
    assert out[1] is None and out[2] == 5.0


def test_winsorize_null_group_rows_pass_through(spark):
    """Round-4 advisor catch: an inner bounds join silently DROPPED rows
    whose group value is NULL (equi-join can't match NULL).  They must
    survive, unclamped."""
    from database2ogr_spark.operators.cleaning import winsorize

    ev = spark.createDataFrame(
        [(1, None, 100.0), (2, "a", 1.0), (3, "a", 2.0), (4, "a", 3.0)],
        "event_id long, event_type string, value double",
    )
    rows = {r.event_id: r for r in winsorize(ev).collect()}
    assert set(rows) == {1, 2, 3, 4}  # nothing dropped
    assert rows[1].value_w == 100.0  # NULL-group row is NOT clamped
    assert rows[4].value_w < 3.0  # grouped rows still clamp at p95


def test_normalize_homoglyphs_folds_confusables(spark):
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.cleaning import normalize_homoglyphs

    df = spark.createDataFrame(
        [
            (1, "spаrk jоins"),          # cyrillic а, о
            (2, "“quoted” – dаsh​"),  # quotes, dash, zwsp
            (3, "plain ascii text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.t
        for r in normalize_homoglyphs(df, "text", out_col="t").collect()
    }
    assert out[1] == "spark joins"
    assert out[2] == '"quoted" - dash'
    assert out[3] == "plain ascii text"


def test_normalize_homoglyphs_restores_dedup(spark):
    """The point of the operator: a homoglyph-disguised copy must hash
    back into its original's dedup group after folding."""
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.cleaning import normalize_homoglyphs
    from database2ogr_spark.operators.dedup import dedup_exact

    text = "the quick brown fox jumps over the lazy dog"
    disguised = text.replace("a", "а").replace("o", "о")
    df = spark.createDataFrame(
        [(1, text), (2, disguised)], "doc_id long, text string"
    )
    # without folding: two distinct fingerprints
    assert dedup_exact(df).count() == 2
    folded = normalize_homoglyphs(df, "text")
    groups = dedup_exact(folded).collect()
    assert len(groups) == 1 and groups[0].dup_count == 2


def test_blocklist_screen_counts_and_threshold(spark):
    from database2ogr_spark.operators.cleaning import blocklist_screen

    docs = spark.createDataFrame(
        [
            (1, "the BAD word here bad and Evil"),  # 3 hits, 2 terms
            (2, "clean text only"),
            (3, "badness is not the word bad"),     # substring ≠ token: 1 hit
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: (r.n_hits, r.n_distinct_terms, r.blocked)
        for r in blocklist_screen(docs, ["bad", "evil"]).collect()
    }
    assert rows == {1: (3, 2, True), 2: (0, 0, False), 3: (1, 1, True)}
    # threshold mode: only docs with MORE than 2 hits block
    rows2 = {
        r.doc_id: r.blocked
        for r in blocklist_screen(docs, ["bad", "evil"], max_hits=2).collect()
    }
    assert rows2 == {1: True, 2: False, 3: False}


def test_blocklist_screen_accepts_dataframe_terms(spark):
    from database2ogr_spark.operators.cleaning import blocklist_screen

    docs = spark.createDataFrame([(1, "alpha beta"), (2, "gamma")], ["doc_id", "text"])
    terms = spark.createDataFrame([("ALPHA",), ("alpha",)], ["term"])
    rows = {r.doc_id: r.n_hits for r in blocklist_screen(docs, terms).collect()}
    assert rows == {1: 1, 2: 0}  # terms lowercased + deduped


def test_mad_outliers_flags_extreme_and_degenerate(spark):
    from database2ogr_spark.operators.cleaning import mad_outliers

    df = spark.createDataFrame(
        [
            (1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0), (4, "a", 4.0),
            (5, "a", 100.0),
            # degenerate group: mad = 0, only the off-median row flags
            (6, "b", 5.0), (7, "b", 5.0), (8, "b", 5.0), (9, "b", 7.0),
            # NULL group passes through unflagged
            (10, None, 50.0),
        ],
        "doc_id long, source string, val double",
    )
    out = {r.doc_id: r for r in mad_outliers(df, value_col="val").collect()}
    assert len(out) == 10
    assert out[3].med == 3.0 and out[3].mad == 1.0
    assert out[5].is_outlier and not out[1].is_outlier
    assert abs(out[5].robust_z - round(97 / 1.4826, 6)) < 1e-9
    # degenerate group: NULL z, only the deviating row flagged
    assert out[9].robust_z is None and out[9].is_outlier
    assert out[6].is_outlier is False
    # NULL group: stats NULL, not flagged
    assert out[10].med is None and out[10].is_outlier is None


def test_quantile_normalize_known_distribution(spark):
    from database2ogr_spark.operators.cleaning import quantile_normalize

    # group a runs hot (10x), group b cold; after normalization both map
    # onto the pooled distribution by rank
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
         (4, "b", 1.0), (5, "b", 2.0), (6, "b", 3.0)],
        "doc_id long, source string, score double",
    )
    out = {r.doc_id: r for r in quantile_normalize(df, value_col="score").collect()}
    # pooled sorted: [1,2,3,10,20,30]; pr in each 3-row group: 0, .5, 1
    # pos = pr*5 -> 0, 2.5, 5 -> Q = 1.0, (3+10)/2=6.5, 30.0 for BOTH groups
    for lo_id, mid_id, hi_id in ((1, 2, 3), (4, 5, 6)):
        assert out[lo_id].normalized == 1.0
        assert out[mid_id].normalized == 6.5
        assert out[hi_id].normalized == 30.0


def test_quantile_normalize_single_row_group_and_ties(spark):
    from database2ogr_spark.operators.cleaning import quantile_normalize

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 5.0), (3, "b", 100.0)],
        "doc_id long, source string, score double",
    )
    out = {r.doc_id: r for r in quantile_normalize(df, value_col="score").collect()}
    # ties share percent_rank 0 -> both map to the pooled minimum
    assert out[1].normalized == out[2].normalized == 5.0
    # single-row group: pr defined as 0 -> pooled minimum
    assert out[3].pr == 0.0 and out[3].normalized == 5.0
