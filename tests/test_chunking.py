"""Chunking UDTF semantics (operators/chunking.py)."""

from __future__ import annotations

from database2ogr_spark.operators.chunking import chunk_documents


def _chunks(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, **kw).collect()
    return sorted((r.doc_id, r.chunk_id, r.chunk, r.n_tokens) for r in out)


def test_window_and_stride(spark):
    got = _chunks(spark, [(1, "a b c d e f g")], size=4, stride=3)
    assert got == [
        (1, 0, "a b c d", 4),
        (1, 1, "d e f g", 4),
        (1, 2, "g", 1),  # final short window starts at token 6
    ]


def test_exact_multiple_no_phantom_tail(spark):
    # n == size: exactly one window, no empty trailing chunk
    got = _chunks(spark, [(1, "a b c")], size=3, stride=3)
    assert got == [(1, 0, "a b c", 3)]


def test_empty_and_whitespace_docs_yield_nothing(spark):
    got = _chunks(spark, [(1, ""), (2, "   "), (3, None), (4, "x")], size=2, stride=2)
    assert got == [(4, 0, "x", 1)]


def test_whitespace_normalization(spark):
    got = _chunks(spark, [(1, "  a\tb\n c  "), (2, "\xa0alpha beta\x85")], size=2, stride=2)
    # only ASCII whitespace splits: U+00A0 and U+0085 stay inside tokens,
    # as in the DuckDB twin
    assert got == [(1, 0, "a b", 2), (1, 1, "c", 1), (2, 0, "\xa0alpha beta\x85", 2)]


# ---------------------------------------------------------------------------
# truncate_to_budget


def test_truncate_prefix_stops_at_first_overflow(spark):
    """Prefix contract: a later small segment must NOT be spliced in after
    an overflowing one."""
    from database2ogr_spark.operators.chunking import truncate_to_budget

    #       seg tokens:  3        |      4       | 1
    text = "a1 a2 a3\n\nb1 b2 b3 b4\n\nc1"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = truncate_to_budget(df, "text", max_tokens=5, sep="\n\n").collect()[0]
    # only the first segment fits (3 <= 5; 3+4 > 5); c1 would fit numerically
    # but splicing it past b* is forbidden
    assert r.text_trunc == "a1 a2 a3"
    assert r.n_tokens == 3


def test_truncate_first_segment_overflow_hard_cuts(spark):
    from database2ogr_spark.operators.chunking import truncate_to_budget

    text = "  t1  t2\tt3 t4 t5 t6  "
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = truncate_to_budget(df, "text", max_tokens=4, sep="\n\n").collect()[0]
    # token-level cut, whitespace normalized to single spaces
    assert r.text_trunc == "t1 t2 t3 t4"
    assert r.n_tokens == 4


def test_truncate_keeps_whole_doc_within_budget_and_empty_doc(spark):
    from database2ogr_spark.operators.chunking import truncate_to_budget

    df = spark.createDataFrame(
        [(1, "p one\n\np two"), (2, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in truncate_to_budget(df, "text", max_tokens=100, sep="\n\n").collect()}
    assert out[1].text_trunc == "p one\n\np two" and out[1].n_tokens == 4
    assert out[2].text_trunc == "" and out[2].n_tokens == 0


def test_truncate_is_expression_tier(spark):
    """No Python evals: the whole operator must stay in codegen."""
    from database2ogr_spark.operators.chunking import truncate_to_budget

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        truncate_to_budget(df, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # narrow, zero shuffle


def test_truncate_matches_python_reference_on_random_texts(spark):
    """Property test: the expression-tier prefix/fallback semantics equal a
    straightforward Python reference on random multi-segment texts."""
    from hypothesis import given, settings, strategies as st

    from database2ogr_spark.operators.chunking import truncate_to_budget

    word = st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
        min_size=1,
        max_size=5,
    )
    seg = st.lists(word, min_size=0, max_size=6).map(" ".join)
    texts = st.lists(
        st.lists(seg, min_size=1, max_size=4).map("\n\n".join),
        min_size=1,
        max_size=5,
    )

    def reference(text, budget):
        paras = text.split("\n\n")
        toks = [len([w for w in p.split() if w]) for p in paras]
        kept, total = 0, 0
        for c in toks:
            if total + c > budget:
                break
            total, kept = total + c, kept + 1
        if kept == 0:
            words = [w for w in paras[0].split() if w][:budget]
            return " ".join(words), len(words)
        return "\n\n".join(paras[:kept]), total

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(texts=texts, budget=st.integers(min_value=0, max_value=8))
    def check(texts, budget):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.text_trunc, r.n_tokens)
            for r in truncate_to_budget(
                df, "text", max_tokens=budget, sep="\n\n"
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == reference(t, budget), (t, budget)

    check()


def test_truncate_null_text_propagates_null(spark):
    from database2ogr_spark.operators.chunking import truncate_to_budget

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = truncate_to_budget(df, "text", max_tokens=5).collect()[0]
    assert r.text_trunc is None
