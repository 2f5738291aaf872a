"""The Arrow gram kernel (functions/gramkernel.py) against its spec: every
kernel table must equal the in-row Column expressions of
functions/hashing.py — same md5 halves, same rolling chains, same fallback
semantics — on adversarial inputs: empty text, single word, exactly k
words, k-1 words, repeated tokens, mixed case and whitespace runs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import database2ogr_spark.functions.gramkernel as GK
import database2ogr_spark.operators.dedup as DD
from database2ogr_spark.functions.hashing import (
    minhash_coeffs,
    minhash_member,
    shingle_ids_of,
    shingle_structs_of,
    simhash64,
    word_hash_structs,
    words,
)

TEXTS = [
    (0, ""),
    (1, "one"),
    (2, "two words"),
    (3, "exactly three words"),
    (4, "a a a a a a"),
    (5, "the quick brown fox jumps over the lazy dog"),
    (6, "Tabs\tand\nnewlines   collapse  into one space"),
    (7, "repeat repeat repeat repeat repeat"),
    (8, "MiXeD CaSe TOKENS lower identically"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _spec(df, k):
    """(id, wh, ss, ids): the spec's word hashes, k-shingle structs and
    62-bit shingle ids, each staged in its own projection (see
    ``shingle_structs_of``)."""
    wh = df.select(F.col("doc_id").alias("id"), word_hash_structs("text").alias("wh"))
    ss = wh.select("id", "wh", shingle_structs_of(F.col("wh"), k).alias("ss"))
    return ss.select("id", "wh", "ss", shingle_ids_of(F.col("ss")).alias("ids"))


def _minhash_sig(num_hashes):
    def member(c):
        return lambda s: minhash_member(s["s1"], s["s2"], c)

    return F.array(
        *[
            F.array_min(F.transform(F.col("ss"), member(c)))
            for c in minhash_coeffs(num_hashes)
        ]
    )


def test_minhash_signatures_tier_equivalence(docs):
    kernel = GK.minhash_signature_table(docs, "doc_id", "text", 3, 16)
    spec = _spec(docs, 3).select("id", _minhash_sig(16).alias("sig"))
    assert _rows(kernel) == _rows(spec)


def test_simhash_signatures_tier_equivalence(docs):
    kernel = GK.simhash_table(docs, "doc_id", "text")
    spec = docs.select(
        F.col("doc_id").alias("id"), simhash64(words("text")).alias("sim")
    )
    assert _rows(kernel) == _rows(spec)


def test_repetition_stats_tier_equivalence(spark, docs):
    # every count of repetition_counts_table as an in-row array expression:
    # docs with fewer than 2 (top_n) tokens count 0 bigrams (top grams),
    # never the whole-doc fallback gram; doc 9 repeats its grams unevenly,
    # so the top count is not every gram's count
    docs = docs.union(
        spark.createDataFrame(
            [(9, "to be or not to be to be or not")], "doc_id long, text string"
        )
    )
    wh = F.col("wh")
    n = F.size(wh)
    word_ids = F.transform(
        wh, lambda w: w["h1"] * F.lit(1 << 31).cast("bigint") + w["h2"]
    )
    bigrams = shingle_ids_of(shingle_structs_of(wh, 2))
    for top_n in (2, 3):
        top = shingle_ids_of(shingle_structs_of(wh, top_n))
        top_count = F.array_max(
            F.transform(
                F.array_distinct(top),
                lambda g: F.size(F.filter(top, lambda x: x == g)),
            )
        )
        spec = _spec(docs, 1).select(
            "id",
            n.cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct(word_ids)).cast("bigint").alias("nd_tokens"),
            F.when(n >= 2, F.size(bigrams)).otherwise(0).cast("bigint"),
            F.when(n >= 2, F.size(F.array_distinct(bigrams))).otherwise(0).cast("bigint"),
            F.when(n >= top_n, top_count).otherwise(0).cast("bigint"),
            F.when(n >= top_n, F.size(top)).otherwise(0).cast("bigint"),
        )
        kernel = GK.repetition_counts_table(docs, "doc_id", "text", top_n)
        assert _rows(kernel) == _rows(spec), top_n


def test_gram_position_table_tier_equivalence(docs):
    # (id, pos, gram, first): posexplode of the spec ids; ``first`` marks
    # each (doc, gram) first occurrence
    spec = (
        _spec(docs, 3)
        .select("id", "ids", F.posexplode("ids").alias("pos", "gram"))
        .select(
            "id",
            "pos",
            "gram",
            (F.array_position("ids", F.col("gram")) == F.col("pos") + 1).alias("first"),
        )
    )
    kernel = GK.gram_position_table(docs, "doc_id", "text", 3)
    assert _rows(kernel) == _rows(spec)


def test_distinct_gram_table_tier_equivalence(docs):
    u = _spec(docs, 3).select("id", F.array_distinct("ids").alias("u"))
    spec = u.select(
        "id", F.explode("u").alias("gram"), F.size("u").cast("bigint").alias("n")
    )
    kernel = GK.distinct_gram_table(docs, "doc_id", "text", 3, with_count=True)
    assert _rows(kernel) == _rows(spec)
    plain = GK.distinct_gram_table(docs, "doc_id", "text", 3)
    assert _rows(plain) == _rows(spec.select("id", "gram"))


def test_decontaminate_tier_equivalence(spark, docs):
    # survivors = the docs whose spec 3-gram set misses every benchmark
    # gram; the benchmark shares a trigram with doc 5 and the whole-doc
    # fallback gram of doc 1
    bench = spark.createDataFrame(
        [(100, "over the lazy dog"), (101, "ONE")], "doc_id long, text string"
    )
    bench_grams = {
        g for r in _spec(bench, 3).select("ids").collect() for g in r.ids
    }
    want = sorted(
        r.id
        for r in _spec(docs, 3).select("id", "ids").collect()
        if not bench_grams.intersection(r.ids)
    )
    assert want == [0, 2, 3, 4, 6, 7, 8]
    got = sorted(r.doc_id for r in DD.decontaminate(docs, bench, k=3).collect())
    assert got == want


def test_distinct_gram_table_fallback_semantics(spark, docs):
    # every doc yields >= 1 gram: short docs fall back to a whole-doc gram,
    # the empty doc to gram 0 — mirroring shingle_structs_of exactly
    out = GK.distinct_gram_table(docs, "doc_id", "text", 3)
    per_doc = {r.id: r["count"] for r in out.groupBy("id").count().collect()}
    assert per_doc[0] == 1  # empty text -> single fallback gram
    assert out.filter((F.col("id") == 0) & (F.col("gram") == 0)).count() == 1
    assert per_doc[1] == 1  # one word -> whole-doc fallback
    assert per_doc[3] == 1  # exactly k words -> one real gram
    assert per_doc[4] == 1  # identical trigrams dedup to one


def test_tier_equivalence_property(spark):
    # random unicode corpora: the kernel signatures must equal the spec
    # byte-for-byte (tokenization uses the explicit ASCII whitespace class
    # on both sides, so unicode spaces and case oddities must flow through
    # identically)
    from hypothesis import given, settings, strategies as st

    texts_strategy = st.lists(
        st.text(max_size=60), min_size=1, max_size=6
    )
    sig, sim = _minhash_sig(16), simhash64(words("text"))

    @settings(max_examples=10, deadline=None, derandomize=True)
    @given(texts=texts_strategy)
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = _rows(GK.minhash_signature_table(df, "doc_id", "text", 3, 16))
        b = _rows(_spec(df, 3).select("id", sig.alias("sig")))
        assert a == b
        c = _rows(GK.simhash_table(df, "doc_id", "text"))
        d = _rows(df.select(F.col("doc_id").alias("id"), sim.alias("sim")))
        assert c == d

    check()
