"""Unit tests for the scalar/geometry/hash expression library, modeled on the
reference's fixture-driven style (SURVEY.md §5; test/testy_stuff.js)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from database2ogr_spark.functions import geometry as G
from database2ogr_spark.functions import hashing as H
from database2ogr_spark.functions import text as X
from database2ogr_spark.functions import textstats as TS


def one(spark, col, **named_cols):
    df = spark.range(1).select(col.alias("v"), *[c.alias(n) for n, c in named_cols.items()])
    return df.collect()[0]


def test_slugify_all_spaces(spark):
    # bug-ledger pin: replace ALL spaces, unlike JS String.replace
    r = one(spark, X.slugify(F.lit("Rescue Cache Two Words")))
    assert r.v == "rescue-cache-two-words"


def test_reverse_color(spark):
    # rrggbbaa -> aabbggrr (KML color encoding, X2)
    assert one(spark, X.reverse_str(F.lit("55ff0088"))).v == "8800ff55"


def test_split_join_roundtrip(spark):
    r = one(spark, X.join_coords(X.split_coords(F.lit("-117.5, 50.25"))))
    assert r.v == "-117.5, 50.25"


def test_casts_and_validation(spark):
    r = one(
        spark,
        X.to_double(F.lit("-117.5")),
        i=X.to_int(F.lit("15")),
        v_ok=X.validate_in(F.lit(15), [11, 15], 11),
        v_bad=X.validate_in(F.lit(13), [11, 15], 11),
    )
    assert r.v == -117.5 and r.i == 15 and r.v_ok == 15 and r.v_bad == 11


def test_unescape_quotes(spark):
    assert one(spark, X.unescape_quotes(F.lit(r"it\'s"))).v == "it's"


def test_json_quote_escaping(spark):
    r = one(spark, X.json_quote(F.lit('say "hi"\nback\\slash')))
    assert json.loads(r.v) == 'say "hi"\nback\\slash'


POINT = '{"type":"Point","coordinates":[-117.5,50.25]}'
LINE = '{"type":"LineString","coordinates":[[-118,49],[-117,50],[-116.5,50.5]]}'
POLY_HOLE = (
    '{"type":"Polygon","coordinates":[[[-118,49],[-117,49],[-117,50],[-118,49]],'
    "[[-117.8,49.2],[-117.2,49.2],[-117.2,49.8],[-117.8,49.2]]]}"
)
MPOLY = (
    '{"type":"MultiPolygon","coordinates":[[[[-118,49],[-117,49],[-117,50],[-118,49]]],'
    "[[[-116,49],[-115,49],[-115,50],[-116,49]]]]}"
)


def test_envelope_linestring(spark):
    r = one(spark, G.envelope_geojson(F.lit(LINE)))
    g = json.loads(r.v)
    assert g["type"] == "Polygon"
    ring = g["coordinates"][0]
    assert ring[0] == [-118.0, 49.0] and ring[2] == [-116.5, 50.5] and ring[4] == ring[0]


def test_envelope_point_degenerates_to_point(spark):
    g = json.loads(one(spark, G.envelope_geojson(F.lit(POINT))).v)
    assert g == {"type": "Point", "coordinates": [-117.5, 50.25]}


def test_coords_key_matches_reference_shape(spark):
    # reference: join(', ') over flattened coordinates (from-ground-up.js:224-234)
    assert one(spark, G.coords_key(F.lit(LINE))).v == "-118, 49, -117, 50, -116.5, 50.5"


def test_kml_geometry_kinds(spark):
    r = one(
        spark,
        G.kml_geometry(F.lit(POINT)),
        line=G.kml_geometry(F.lit(LINE)),
        poly=G.kml_geometry(F.lit(POLY_HOLE)),
        mp=G.kml_geometry(F.lit(MPOLY)),
    )
    assert r.v == "<Point><coordinates>-117.5,50.25</coordinates></Point>"
    assert r.line.startswith("<LineString><coordinates>-118.0,49.0 ")
    assert "<innerBoundaryIs>" in r.poly and r.poly.count("<LinearRing>") == 2
    assert r.mp.startswith("<MultiGeometry>") and r.mp.count("<Polygon>") == 2


def test_kml_roundtrip_coords_key_parity(spark):
    # the warnify group key must be identical whether geometry is GeoJSON or KML
    r = one(spark, G.coords_key(F.lit(POINT)), k=G.coords_key(G.kml_geometry(F.lit(POINT))))
    assert r.v == r.k


def test_stable_hash64_range_and_determinism(spark):
    r1 = one(spark, H.stable_hash64(F.lit("hello"), seed=3))
    r2 = one(spark, H.stable_hash64(F.lit("hello"), seed=3))
    r3 = one(spark, H.stable_hash64(F.lit("hello"), seed=4))
    assert r1.v == r2.v != r3.v
    assert 0 <= r1.v < 2**60


def test_stable_hash64_numeric_input_all_seeds(spark):
    # ADVICE r6: md5 accepts only string/binary, so a numeric column used
    # to analyze-fail at seed=0 while working at seed!=0 (concat coerced
    # it). The explicit string cast must make seed=0 work AND leave the
    # seeded digest identical to the old concat-coerced one.
    r0 = one(spark, H.stable_hash64(F.lit(42).cast("bigint"), seed=0))
    rs = one(spark, H.stable_hash64(F.lit("42"), seed=0))
    assert r0.v == rs.v  # numeric hashes as its string form
    r7 = one(spark, H.stable_hash64(F.lit(42).cast("bigint"), seed=7))
    r7s = one(spark, H.stable_hash64(F.lit("42"), seed=7))
    assert r7.v == r7s.v


def test_words_twin_splits_on_vertical_tab(spark):
    """Java's ``\\s`` (Spark's ``normalize_text``) includes U+000B and RE2's
    ``\\s`` (DuckDB) does not: the twin tokenizer ``_WORDS_SQL`` must split
    every text where ``hashing.words`` does."""
    import duckdb

    import __spark_entry__ as entrymod

    text = "Alpha\x0bbeta \t gamma\x0c\x0bDELTA\x0b"
    got = one(spark, H.words(F.lit(text))).v
    twin = duckdb.execute(
        f"SELECT {entrymod._WORDS_SQL} FROM (SELECT ? AS text)", [text]
    ).fetchone()[0]
    assert got == ["alpha", "beta", "gamma", "delta"]
    assert twin == got


def test_shingles_short_doc_fallback(spark):
    r = one(spark, H.shingles(F.lit("only two"), 3))
    assert r.v == ["only two"]


def test_shingles_k3(spark):
    r = one(spark, H.shingles(F.lit("a b c d"), 3))
    assert r.v == ["a b c", "b c d"]


def test_simhash_similar_docs_close(spark):
    a = "the quick brown fox jumps over the lazy dog again and again today"
    b = "the quick brown fox jumps over the lazy dog again and again tonight"
    c = "completely different words about spark partitions and shuffles here"
    r = one(
        spark,
        H.hamming64(H.simhash64(H.words(F.lit(a))), H.simhash64(H.words(F.lit(b)))),
        far=H.hamming64(H.simhash64(H.words(F.lit(a))), H.simhash64(H.words(F.lit(c)))),
    )
    assert r.v < r.far


def test_lang_id_and_quality(spark):
    en = "the cat and the dog sat in that house for it was warm " * 10
    fr = "le chat et la souris est une des choses que pour les gens " * 10
    r = one(spark, TS.lang_id(F.lit(en)), fr=TS.lang_id(F.lit(fr)), und=TS.lang_id(F.lit("zzz qqq")))
    assert r.v == "en" and r.fr == "fr" and r.und == "und"
    q = one(spark, TS.quality_score(F.lit(en)))
    assert 0.0 <= q.v <= 1.0


def test_rolling_fingerprint_deterministic_and_order_sensitive(spark):
    r = one(
        spark,
        TS.rolling_fingerprint(F.lit("abc")),
        same=TS.rolling_fingerprint(F.lit("ABC  ")),  # normalization: lower+trim
        diff=TS.rolling_fingerprint(F.lit("cba")),
    )
    assert r.v == r.same != r.diff
    # polynomial base-31 over ascii: 'abc' -> ((97*31)+98)*31+99
    assert r.v == ((97 * 31 + 98) * 31 + 99) % 1_000_000_007


# ---------------------------------------------------------------------------
# weighted_median (GROUPED_AGG pandas UDF)


def test_weighted_median_hand_computed(spark):
    from database2ogr_spark.functions.aggregates import weighted_median

    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 10.0, 1), ("a", 100.0, 2), ("b", 5.0, 7)],
        "g string, v double, w long",
    )
    out = {
        r.g: r.wm
        for r in df.groupBy("g").agg(weighted_median()("v", "w").alias("wm")).collect()
    }
    # group a: cum weights [1,2,4], half=2 -> first value reaching 2 is 10.0
    assert out == {"a": 10.0, "b": 5.0}


def test_weighted_median_reduces_to_lower_median_with_unit_weights(spark):
    import numpy as np

    from database2ogr_spark.functions.aggregates import weighted_median
    from pyspark.sql import functions as F

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    df = spark.createDataFrame(
        [("g", v, 1) for v in vals], "g string, v double, w long"
    )
    out = df.groupBy("g").agg(weighted_median()("v", "w").alias("wm")).collect()[0].wm
    s = sorted(vals)
    cw = np.arange(1, len(s) + 1)
    expect = s[int(np.searchsorted(cw, len(s) / 2.0, side="left"))]
    assert out == expect


def test_vocab_coverage_hand_computed(spark):
    from database2ogr_spark.operators.tfidf import vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "a a b zzz", "s1"),      # 4 tokens, zzz OOV -> 1/4
            (2, "a b b b", "s2"),        # 0 OOV
            (3, "qq ww", "s3"),          # all OOV
        ],
        "doc_id long, text string, source string",
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    rep = {
        r.source: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in vocab_coverage(docs, vocab).collect()
    }
    assert rep == {
        "s1": (4, 1, 0.25),
        "s2": (4, 0, 0.0),
        "s3": (2, 2, 1.0),
    }


def test_windowed_pmi_window1_matches_bigrams(spark):
    from database2ogr_spark.operators.collocations import (
        pmi_bigrams,
        windowed_pmi,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        (r.token_a, r.token_b): (r.n_pair, r.pmi)
        for r in pmi_bigrams(docs, min_count=5, top_n=40).collect()
    }
    b = {
        (r.token_a, r.token_b): (r.n_pair, r.pmi)
        for r in windowed_pmi(docs, window=1, min_count=5, top_n=40).collect()
    }
    assert a == b  # window=1 degenerates to the adjacent-bigram operator


def test_windowed_pmi_counts_hand_computed(spark):
    from database2ogr_spark.operators.collocations import windowed_pmi

    docs = spark.createDataFrame(
        [(1, "a b c a b")], "doc_id long, text string"
    )
    out = {
        (r.token_a, r.token_b): r.n_pair
        for r in windowed_pmi(
            docs, window=2, min_count=1, top_n=100
        ).collect()
    }
    # offsets 1..2 over [a b c a b]:
    # d=1: (a,b) (b,c) (c,a) (a,b); d=2: (a,c) (b,a) (c,b)
    assert out[("a", "b")] == 2
    assert out[("b", "c")] == 1
    assert out[("c", "a")] == 1
    assert out[("a", "c")] == 1
    assert out[("b", "a")] == 1
    assert out[("c", "b")] == 1


def test_zipf_fit_exact_power_law(spark):
    from database2ogr_spark.operators.tfidf import zipf_fit

    # counts follow freq = 24 / rank exactly over consecutive ranks
    # 1..4 (slope -1): 24, 12, 8, 6
    rows = []
    for r in (1, 2, 3, 4):
        rows += [(f"t{r:02d}",)] * (24 // r)
    docs = spark.createDataFrame(
        [(1, " ".join(w for (w,) in rows))], "doc_id long, text string"
    )
    out = zipf_fit(docs, top_n=10).collect()[0]
    assert out.n_terms == 4
    # ln f = ln 24 - 1 * ln r  -> perfect fit (6-dp rounding tolerance)
    assert abs(out.slope + 1.0) <= 2e-6
    assert abs(out.r2 - 1.0) <= 2e-6


def test_tfidf_cosine_pairs_hand_computed(spark):
    import math

    from database2ogr_spark.operators.tfidf import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana date"),
            (3, "unrelated words entirely"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.id_a, r.id_b): r.cosine
        for r in tfidf_cosine_pairs(
            docs, threshold=0.0, max_df=10
        ).collect()
    }
    # only (1,2) share terms; all terms have df<=2, idf in {ln3, ln3/2}
    assert set(out) == {(1, 2)}
    w_shared = math.log(3 / 2)  # apple, banana: df=2
    w_rare = math.log(3)        # cherry / date: df=1
    dot = 2 * w_shared * w_shared
    nrm = math.sqrt(2 * w_shared**2 + w_rare**2)
    assert abs(out[(1, 2)] - round(dot / (nrm * nrm), 6)) < 1e-6


def test_tfidf_cosine_pairs_shingle_terms(spark):
    from database2ogr_spark.operators.tfidf import tfidf_cosine_pairs

    # docs 1 and 2 share the 3-gram "b c d" (plus "a b c"); doc 3 shares
    # no 3-gram window with either -> exactly one pair in shingle space
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),
            (3, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_cosine_pairs(
        docs, threshold=0.0, max_df=10, terms="shingles"
    ).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}
    assert 0.0 < out[0].cosine < 1.0  # shared subset, not identical


def test_tfidf_cosine_pairs_max_df_guard_drops_hot_terms(spark):
    from database2ogr_spark.operators.tfidf import tfidf_cosine_pairs

    # 'the' appears in all 4 docs; with max_df=3 it leaves the subspace
    # entirely, so docs sharing ONLY 'the' produce no pair
    docs = spark.createDataFrame(
        [
            (1, "the alpha"),
            (2, "the beta"),
            (3, "the gamma"),
            (4, "the delta"),
        ],
        "doc_id long, text string",
    )
    assert (
        tfidf_cosine_pairs(docs, threshold=0.0, max_df=3).count() == 0
    )


def test_vocab_growth_curve_exact(spark):
    from database2ogr_spark.operators.tfidf import vocab_growth

    # ids 0..3, K=4, lo=0 hi=3: bucket = max(1, ceil(id*4/3))
    #   id0->1, id1->ceil(4/3)=2, id2->ceil(8/3)=3, id3->4
    rows = [
        (0, "a b"),          # tokens 2, new terms {a,b}
        (1, "b c c"),        # tokens 3, new terms {c}
        (2, ""),             # tokens 0, nothing new
        (3, "a d"),          # tokens 2, new terms {d}
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.checkpoint: r for r in vocab_growth(df, n_checkpoints=4).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    assert (out[1].cum_docs, out[1].cum_tokens, out[1].cum_vocab) == (1, 2, 2)
    assert (out[2].cum_docs, out[2].cum_tokens, out[2].cum_vocab) == (2, 5, 3)
    assert (out[3].cum_docs, out[3].cum_tokens, out[3].cum_vocab) == (3, 5, 3)
    assert (out[4].cum_docs, out[4].cum_tokens, out[4].cum_vocab) == (4, 7, 4)


def test_vocab_growth_single_doc_and_validation(spark):
    import pytest as _pytest

    from database2ogr_spark.operators.tfidf import vocab_growth

    df = spark.createDataFrame([(5, "x y z")], "doc_id long, text string")
    out = {r.checkpoint: r for r in vocab_growth(df, n_checkpoints=3).collect()}
    # hi == lo: everything lands in bucket 1, later checkpoints carry over
    assert (out[1].cum_docs, out[1].cum_tokens, out[1].cum_vocab) == (1, 3, 3)
    assert (out[3].cum_docs, out[3].cum_tokens, out[3].cum_vocab) == (1, 3, 3)
    with _pytest.raises(ValueError):
        vocab_growth(df, n_checkpoints=1)


def test_heaps_fit_recovers_exponent(spark):
    import math

    from database2ogr_spark.operators.tfidf import heaps_fit

    # synthetic corpus with an exact power law V(n) = n^0.5: doc i adds
    # tokens so that cumulative tokens = (i+1)^2 and introduces exactly one
    # new term (vocab = i+1) -> ln V = 0.5 ln N exactly at every checkpoint
    rows = []
    for i in range(64):
        n_new = (i + 1) ** 2 - i**2  # tokens this doc
        toks = [f"t{i}"] * n_new  # one NEW type, repeated
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = heaps_fit(df, n_checkpoints=8).collect()[0]
    assert r.n_points == 8
    assert abs(r.beta - 0.5) < 1e-6, r
    assert abs(r.intercept) < 1e-6, r
    assert abs(r.r2 - 1.0) < 1e-6, r
    assert math.isfinite(r.beta)


def test_lexical_diversity_hand_computed(spark):
    from database2ogr_spark.functions.textstats import lexical_diversity

    df = spark.createDataFrame(
        [
            ("a", "x y x"),     # tokens 3, types {x,y}, hapax {y}
            ("a", "z"),         # +1 token, +1 type, z hapax; no bigram
            ("b", "w w w w"),   # tokens 4, 1 type, 0 hapax
        ],
        "source string, text string",
    )
    out = {r.source: r for r in lexical_diversity(df).collect()}
    a, b = out["a"], out["b"]
    assert (a.n_tokens, a.n_types) == (4, 3)
    assert abs(a.ttr - 3 / 4) < 1e-9
    assert abs(a.hapax_rate - 2 / 3) < 1e-6
    # bigrams of 'a': (x y), (y x) -> 2 distinct / 2 total
    assert abs(a.distinct_bigram_ratio - 1.0) < 1e-9
    # group b: 'w w' x3 -> 1 distinct / 3 total
    assert (b.n_tokens, b.n_types) == (4, 1)
    assert b.hapax_rate == 0.0
    assert abs(b.distinct_bigram_ratio - 1 / 3) < 1e-6


def test_lexical_diversity_no_bigrams_is_null(spark):
    from database2ogr_spark.functions.textstats import lexical_diversity

    df = spark.createDataFrame([("s", "solo")], "source string, text string")
    r = lexical_diversity(df).collect()[0]
    assert r.n_tokens == 1 and r.distinct_bigram_ratio is None


def test_kneser_ney_matches_python_replay(spark):
    import math

    from database2ogr_spark.operators.tfidf import kneser_ney_logprob_score

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ran"),
        (3, "a dog sat"),
    ]

    def replay():
        import re
        from collections import Counter, defaultdict

        bigrams = []
        per_doc = {}
        for i, t in rows:
            ws = [w for w in re.sub(r"\s+", " ", t.lower()).strip().split() if w]
            bg = list(zip(ws, ws[1:]))
            per_doc[i] = bg
            bigrams += bg
        c = Counter(bigrams)
        c1dot = defaultdict(int); n1p_w1 = defaultdict(int); n1p_w2 = defaultdict(int)
        for (w1, w2), n in c.items():
            c1dot[w1] += n; n1p_w1[w1] += 1; n1p_w2[w2] += 1
        n_types = len(c)
        n1 = sum(1 for v in c.values() if v == 1)
        n2 = sum(1 for v in c.values() if v == 2)
        D = n1 / (n1 + 2 * n2) if (n1 + 2 * n2) else 0.0
        out = {}
        for i, bg in per_doc.items():
            lps = []
            for w1, w2 in bg:
                p = max(c[(w1, w2)] - D, 0.0) / c1dot[w1] + (
                    D * n1p_w1[w1] / c1dot[w1]
                ) * (n1p_w2[w2] / n_types)
                lps.append(math.log(p))
            out[i] = (len(bg), round(sum(lps) / len(lps), 6))
        return out

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_bigrams, r.logprob)
        for r in kneser_ney_logprob_score(df).collect()
    }
    ref = replay()
    assert set(got) == set(ref)
    for i in ref:
        assert got[i][0] == ref[i][0]
        assert abs(got[i][1] - ref[i][1]) < 1e-5, (i, got[i], ref[i])


def test_term_dispersion_gries_dp(spark):
    from database2ogr_spark.operators.collocations import term_dispersion

    # two equal-size parts; 'even' appears equally, 'clump' only in part a
    df = spark.createDataFrame(
        [
            ("a", "even even clump clump clump clump"),
            ("b", "even even x x x x"),
        ],
        "source string, text string",
    )
    out = {r.term: r for r in term_dispersion(df, min_count=4, top_n=10).collect()}
    # part shares s = 0.5/0.5. 'even': v=(.5,.5) -> DP 0. 'clump': present
    # only in a: 0.5*(|1-.5| + 1-.5) = 0.5. 'x' same.
    assert out["even"].dp == 0.0 and out["even"]["count"] == 4
    assert out["clump"].dp == 0.5 and out["clump"]["count"] == 4
    assert out["x"].dp == 0.5
    # ordering: clumped terms first, term asc tie-break
    terms = [r.term for r in term_dispersion(df, min_count=4, top_n=10).collect()]
    assert terms == ["clump", "x", "even"]


def test_entropy_rate_deterministic_vs_varied(spark):
    import math

    from database2ogr_spark.operators.collocations import entropy_rate

    df = spark.createDataFrame(
        [
            # fully deterministic chain: every w1 has ONE continuation
            ("det", "a b a b a b a b"),
            # after 'x' the continuation is a fair coin between y and z
            ("mix", "x y x z x y x z"),
        ],
        "source string, text string",
    )
    out = {r.source: r for r in entropy_rate(df).collect()}
    assert out["det"].h_cond == 0.0  # next word fully determined
    assert out["det"].info_gain == out["det"].h_uni
    # mix: bigrams (x,y)x2 (y,x)x2 (x,z)x2 (z,x)x1 -> H(w2|w1) =
    # p(x as w1)=4/7 with H=ln2; others deterministic
    exp = (4 / 7) * math.log(2)
    assert abs(out["mix"].h_cond - exp) < 1e-5
    assert out["mix"].info_gain > 0


def test_apply_phrases_leftmost_greedy(spark):
    from database2ogr_spark.operators.collocations import apply_phrases

    phrases = spark.createDataFrame(
        [("a", "a"), ("x", "y"), ("y", "z")], "w1 string, w2 string"
    )
    df = spark.createDataFrame(
        [
            (1, "a a a"),        # -> a_a a
            (2, "a a a a"),      # -> a_a a_a
            (3, "x y z"),        # leftmost wins -> x_y z
            (4, "q x y q y z"),  # -> q x_y q y_z
            (5, "plain words"),  # untouched
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text, r.n_merges) for r in apply_phrases(df, phrases).collect()}
    assert out[1] == ("a_a a", 1)
    assert out[2] == ("a_a a_a", 2)
    assert out[3] == ("x_y z", 1)
    assert out[4] == ("q x_y q y_z", 2)
    assert out[5] == ("plain words", 0)


def test_detect_phrases_scores(spark):
    from database2ogr_spark.operators.collocations import detect_phrases

    # 'new york' always together; 'the' pairs with everything
    text = " ".join(["new york is big and the city the end the"] * 10)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    ph = {(r.w1, r.w2): r.score for r in
          detect_phrases(df, min_count=5, threshold=0.0, delta=1).collect()}
    assert ("new", "york") in ph
    # (new, york) scores far above (the, city): c1 c2 small and exclusive
    assert ph[("new", "york")] > 2 * ph.get(("the", "city"), 0.0)


def test_readability_functions(spark):
    from pyspark.sql import functions as F

    from database2ogr_spark.functions.textstats import (
        flesch_reading_ease,
        sentence_count,
        syllable_count,
    )

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),
            (2, "Incomprehensibility notwithstanding... onwards?!"),
            (3, "no terminal punctuation here"),
        ],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in df.select(
            "id",
            sentence_count("text").alias("s"),
            syllable_count("text").alias("sy"),
            F.round(flesch_reading_ease("text"), 3).alias("f"),
        ).collect()
    }
    assert out[1].s == 2           # two sentences
    assert out[2].s == 2           # '...' and '?!' are one terminator each
    assert out[3].s == 1           # floor at 1
    # 'the cat sat' -> vowel groups e/a/a = 3; doc 1 has 6 words, 6 groups
    assert out[1].sy == 6
    # simple monosyllabic text scores as very easy (high Flesch)
    assert out[1].f > 90
    # polysyllabic text scores much harder
    assert out[2].f < out[1].f - 50
