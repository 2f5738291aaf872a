"""BPE merge learning + segmentation vs a pure-Python reference
implementation of the classic algorithm (same counting, tie-break, and
leftmost-non-overlapping application semantics)."""

from __future__ import annotations

from collections import Counter

import pytest

from database2ogr_spark.operators.bpe import learn_bpe, segment_corpus


def _ref_bpe(word_freqs: dict[str, int], num_merges: int):
    """Pure-Python classic BPE: overlapping pair counts, argmax with
    (count desc, pair asc) tie-break, leftmost merge application."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for rank in range(num_merges):
        stats: Counter = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] += f
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((rank, best[0], best[1], best[0] + best[1], stats[best]))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges, vocab


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def _learned(df, **kw):
    return [
        (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_freq)
        for r in learn_bpe(df, **kw).orderBy("merge_rank").collect()
    ]


def test_classic_corpus_matches_reference(spark):
    texts = ["low low low low low", "lower lower widest widest widest",
             "newest newest newest newest newest newest"]
    wf = Counter(w for t in texts for w in t.split())
    ref, _ = _ref_bpe(dict(wf), 6)
    got = _learned(_docs(spark, texts), num_merges=6)
    assert got == ref
    # the famous first merges of this corpus: 'es' then 'est'
    assert (got[0][1] + got[0][2], got[1][3]) == ("es", "est")


def test_overlapping_pairs_count_and_merge_leftmost(spark):
    # 'aaaa': (a,a) counts 3 per occurrence; one merge yields 'aa aa'
    ref, vocab = _ref_bpe({"aaaa": 2, "ab": 1}, 1)
    got = _learned(_docs(spark, ["aaaa aaaa ab"]), num_merges=1)
    assert got == ref and got[0][4] == 6
    assert tuple(sorted(vocab)) == (("a", "b"), ("aa", "aa"))


def test_tie_break_is_lexicographic(spark):
    # 'xy' and 'ab' both appear twice → 'a b' wins (pair asc)
    got = _learned(_docs(spark, ["xy xy ab ab"]), num_merges=1)
    assert (got[0][1], got[0][2]) == ("a", "b")


def test_min_word_freq_and_charset_gate(spark):
    # 'zz' appears once → filtered at min_word_freq=2; 'héllo' fails the
    # ASCII gate; only 'oo' from 'oo oo' remains mergeable
    got = _learned(
        _docs(spark, ["zz héllo héllo oo oo"]), num_merges=3, min_word_freq=2
    )
    assert [(m[1], m[2]) for m in got] == [("o", "o")]


def test_early_stop_when_no_pairs(spark):
    assert _learned(_docs(spark, ["a b c a b"]), num_merges=5) == []


def test_segment_corpus_counts_and_oov(spark):
    df = _docs(spark, ["banana banana bandana", "héllo banana"])
    merges = learn_bpe(df, num_merges=3)
    out = {
        r.doc_id: (r.n_words, r.n_tokens, r.chars_per_token)
        for r in segment_corpus(df, merges).collect()
    }
    rules = [
        (r.lhs, r.rhs) for r in merges.orderBy("merge_rank").collect()
    ]

    def seg_len(word):
        syms = list(word)
        for a, b in rules:
            out_s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out_s.append(a + b)
                    i += 2
                else:
                    out_s.append(syms[i])
                    i += 1
            syms = out_s
        return len(syms)

    n0 = seg_len("banana") * 2 + seg_len("bandana")
    assert out[0] == (3, n0, round((6 * 2 + 7) / n0, 6))
    # héllo is out-of-charset → ONE OOV token
    n1 = 1 + seg_len("banana")
    assert out[1] == (2, n1, round((5 + 6) / n1, 6))


def test_local_and_distributed_merge_loops_agree(spark):
    """The r11 driver-side merge tier (vocab under local_vocab_cap) must be
    bit-identical to the distributed pair-count/argmax loop — including
    overlapping-pair counts, the (cnt desc, pair asc) tie-break, and
    leftmost-non-overlapping application on repeated symbols."""
    texts = [
        "low low low low low", "lower lower widest widest widest",
        "newest newest newest newest newest newest",
        "aaa aaa aa a aaaa", "x y x y x y zz zz",
    ]
    df = _docs(spark, texts)
    local = _learned(df, num_merges=8)  # default cap >> vocab
    dist = _learned(df, num_merges=8, local_vocab_cap=0)  # force distributed
    assert local == dist


def test_learn_leaves_nothing_persisted(spark):
    learn_bpe(_docs(spark, ["aa bb aa bb aa"]), num_merges=2).collect()
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_subword_vocab_counts_match_reference(spark):
    from database2ogr_spark.operators.bpe import learn_bpe, subword_vocab

    texts = ["low low lower newest", "newest newest widest low"]
    df = _docs(spark, texts)
    merges = learn_bpe(df, num_merges=3)
    got = {
        r.subword: (r.subword_id, r["count"])  # .count is the Row method
        for r in subword_vocab(df, merges).collect()
    }
    # reference: segment each word with the same rules, count units
    wf = Counter(w for t in texts for w in t.split())
    rules = [(r.lhs, r.rhs) for r in merges.orderBy("merge_rank").collect()]
    units = Counter()
    for word, f in wf.items():
        syms = list(word)
        for a, b in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        for s in syms:
            units[s] += f
    ranked = sorted(units.items(), key=lambda kv: (-kv[1], kv[0]))
    expect = {s: (i, c) for i, (s, c) in enumerate(ranked)}
    assert got == expect
    # ids are dense 0..n-1
    assert sorted(i for i, _ in got.values()) == list(range(len(got)))


def test_bpe_matches_reference_on_random_corpora(spark):
    """Property: on arbitrary small ASCII corpora, the distributed learner
    reproduces the pure-Python classic algorithm merge-for-merge
    (counting, tie-break, and application order all agree)."""
    from hypothesis import given, settings, strategies as st

    word = st.text(alphabet="abcdef", min_size=1, max_size=6)
    texts_strategy = st.lists(
        st.lists(word, min_size=1, max_size=8).map(" ".join),
        min_size=1,
        max_size=4,
    )

    @settings(max_examples=8, deadline=None, derandomize=True)
    @given(texts=texts_strategy)
    def check(texts):
        wf = Counter(w for t in texts for w in t.split())
        ref, _ = _ref_bpe(dict(wf), 4)
        got = _learned(_docs(spark, texts), num_merges=4)
        assert got == ref

    check()


def test_tokenizer_fertility_hand_computed(spark):
    from database2ogr_spark.operators.bpe import (
        MERGES_SCHEMA,
        tokenizer_fertility,
    )

    # no merges -> every ASCII word segments to its characters; the
    # non-ASCII word is OOV and counts as ONE token
    df = spark.createDataFrame(
        [
            ("en", "ab ab cd"),     # words 3, tokens 2+2+2=6, chars 6
            ("zh", "日本 ab"),       # words 2, oov 1, tokens 1+2=3, chars 4
        ],
        "lang string, text string",
    )
    merges = spark.createDataFrame([], MERGES_SCHEMA)
    out = {r.lang: r for r in tokenizer_fertility(df, merges).collect()}
    en, zh = out["en"], out["zh"]
    assert (en.n_words, en.n_oov, en.n_tokens) == (3, 0, 6)
    assert abs(en.fertility - 2.0) < 1e-9
    assert abs(en.chars_per_token - 1.0) < 1e-9
    assert (zh.n_words, zh.n_oov, zh.n_tokens) == (2, 1, 3)
    assert abs(zh.fertility - 1.5) < 1e-9
    # parity: best fertility is zh's 1.5 -> zh parity 1.0, en 2/1.5
    assert abs(zh.parity - 1.0) < 1e-9
    assert abs(en.parity - 2.0 / 1.5) < 1e-6


def test_tokenizer_fertility_merges_lower_fertility(spark):
    from database2ogr_spark.operators.bpe import learn_bpe, tokenizer_fertility

    df = spark.createDataFrame(
        [("en", "hello hello hello"), ("de", "welt welt")],
        "lang string, text string",
    )
    no_merge = tokenizer_fertility(
        df, learn_bpe(df, num_merges=0)
    ).where("lang = 'en'").collect()[0]
    merged = tokenizer_fertility(
        df, learn_bpe(df, num_merges=4)
    ).where("lang = 'en'").collect()[0]
    assert merged.fertility < no_merge.fertility
    assert merged.n_words == no_merge.n_words == 3
