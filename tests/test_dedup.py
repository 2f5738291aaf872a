"""Dedup operator semantics on crafted corpora (exact, MinHash LSH, SimHash,
n-gram Jaccard) — the pytest side of the rows-only entries."""

from __future__ import annotations

from database2ogr_spark.operators import dedup as DD

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "The  quick brown fox jumps over the lazy dog near the river bank "),  # normalized dup
    (4, "the quick brown fox jumps over the lazy dog near the river today"),  # near dup
    (5, "spark shuffles partition data across executors for wide joins"),  # unrelated
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact_groups_normalized(spark):
    out = DD.dedup_exact(_docs(spark)).collect()
    groups = {r.survivor_id: r.dup_count for r in out}
    # 1,2,3 collapse (case/whitespace normalization); 4 and 5 stand alone
    assert groups[1] == 3 and groups[4] == 1 and groups[5] == 1


def test_dedup_exact_survivors(spark):
    ids = {r.doc_id for r in DD.dedup_exact_survivors(_docs(spark)).collect()}
    assert ids == {1, 4, 5}


def test_minhash_lsh_finds_near_dups(spark):
    pairs = DD.minhash_lsh_pairs(_docs(spark), num_hashes=16, bands=8, threshold=0.3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # exact dups always collide on every band
    assert (1, 2) in got and (1, 3) in got
    # unrelated doc never pairs with the fox docs
    assert not any(5 in p for p in got)
    # est_jaccard of identical docs is 1.0
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(1, 2)] == 1.0


def test_simhash_pairs_rank_near_dups(spark):
    pairs = DD.simhash_pairs(_docs(spark), max_hamming=12).collect()
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham.get((1, 2)) == 0  # identical → identical signature
    if (1, 4) in ham:  # near dup, small distance when caught
        assert ham[(1, 4)] <= 12


def test_ngram_jaccard_exact_values(spark):
    pairs = DD.ngram_jaccard_pairs(_docs(spark), k_shingle=3, threshold=0.5).collect()
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == 1.0 and jac[(1, 3)] == 1.0
    # doc 4 differs in last word: 10 shingles of 12 shared with doc 1:
    # jaccard = 10 / (11 + 11 - 10)
    assert abs(jac[(1, 4)] - 10 / 12) < 1e-6
    assert not any(5 in p for p in jac)


def test_ngram_jaccard_guard_paths_equivalent(spark):
    # the max_df guard has two implementations — in-kernel searchsorted mask
    # (default) and distributed anti-join fallback (forced via
    # hot_broadcast_limit=0) — and both must equal the pairs computed here
    # from the spec gram sets of functions/hashing.py. Corpus crafted so
    # the guard bites: a shingle shared by ALL docs (df=6 > 2).
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from database2ogr_spark.functions.hashing import (
        shingle_ids_of,
        shingle_structs_of,
        word_hash_structs,
    )

    common = "alpha beta gamma"
    rows = [
        (i, f"{common} doc{i % 3} unique{i} tail{i} words here and more")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    max_df, threshold = 2, 0.05

    def run(**kw):
        return sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in DD.ngram_jaccard_pairs(
                df, k_shingle=3, threshold=threshold, max_df=max_df, **kw
            ).collect()
        )

    staged = df.select("doc_id", word_hash_structs("text").alias("wh"))
    sets = {
        r.doc_id: set(r.g)
        for r in staged.select(
            "doc_id",
            F.array_distinct(
                shingle_ids_of(shingle_structs_of(F.col("wh"), 3))
            ).alias("g"),
        ).collect()
    }
    gdf: dict[int, int] = {}
    for grams in sets.values():
        for g in grams:
            gdf[g] = gdf.get(g, 0) + 1
    kept = {i: {g for g in grams if gdf[g] <= max_df} for i, grams in sets.items()}
    expected = []
    for a in sorted(kept):
        for b in sorted(kept):
            shared = len(kept[a] & kept[b])
            if a < b and shared:
                # Spark's round(double, 6): HALF_UP on the shortest decimal form
                jac = float(
                    Decimal(repr(shared / len(kept[a] | kept[b]))).quantize(
                        Decimal("1e-6"), ROUND_HALF_UP
                    )
                )
                if jac >= threshold:
                    expected.append((a, b, jac))

    assert expected  # the guard must not empty the result entirely
    assert run() == expected
    assert run(hot_broadcast_limit=0) == expected


def test_containment_guard_paths_equivalent(spark):
    """VERDICT r9 #2 dirty contract: containment_pairs now carries the
    same max_df hot-shingle guard as its sibling. Corpus crafted so the
    guard bites (a boilerplate shingle in ALL docs, df=7 > 2): the
    in-kernel searchsorted mask and the distributed anti-join fallback
    must agree exactly, a vacuous cutoff must reproduce the unguarded
    result, and the guarded scores must be the exact containment of the
    df-FILTERED sets (the embedded excerpt still scores 1.0 after the
    boilerplate leaves its shingle universe)."""
    common = "alpha beta gamma"
    rows = [
        (i, f"{common} doc{i % 3} unique{i} tail{i} words here and more")
        for i in range(6)
    ]
    # doc 100 = a verbatim excerpt of doc 0 (prefix incl. the hot shingle):
    # containment must survive the guard via the df-filtered sizes
    rows.append((100, f"{common} doc0 unique0 tail0"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**kw):
        return sorted(
            (r.id_a, r.id_b, r.n_a, r.n_b, r.shared, r.containment, r.jaccard)
            for r in DD.containment_pairs(
                df, k_shingle=3, threshold=0.5, max_df=2, **kw
            ).collect()
        )

    kernel = run()
    fallback = run(hot_broadcast_limit=0)
    assert kernel == fallback
    emb = {(a, b): (na, nb, c) for a, b, na, nb, _s, c, _j in kernel}
    # doc 100 has 4 shingles; "alpha beta gamma" (df=7) and "beta gamma
    # doc0" (df=3: docs 0, 3, 100) exceed the df>2 cutoff, so 2 survive
    # ("gamma doc0 unique0", "doc0 unique0 tail0") — both inside doc 0
    # → containment 2/2 = 1.0 over the filtered sets
    assert emb[(0, 100)][1] == 2 and emb[(0, 100)][2] == 1.0
    # vacuous cutoff ≡ unguarded operator, bit for bit
    vacuous = sorted(
        (r.id_a, r.id_b, r.n_a, r.n_b, r.shared, r.containment, r.jaccard)
        for r in DD.containment_pairs(
            df, k_shingle=3, threshold=0.5, max_df=10_000
        ).collect()
    )
    unguarded = sorted(
        (r.id_a, r.id_b, r.n_a, r.n_b, r.shared, r.containment, r.jaccard)
        for r in DD.containment_pairs(df, k_shingle=3, threshold=0.5).collect()
    )
    assert vacuous == unguarded
    # and the guard genuinely changed the universe (hot shingles dropped:
    # the unguarded embed pair counts all 4 excerpt shingles)
    ung = {(r[0], r[1]): r[3] for r in unguarded}
    assert ung[(0, 100)] == 4


def test_simhash_pairs_complete_at_high_threshold(spark):
    # pigeonhole completeness: every pair with hamming <= max_hamming must be
    # found, for thresholds well beyond the old fixed 4-chunk limit of 3 —
    # brute-force over all signature pairs is the ground truth
    from pyspark.sql import functions as F

    from database2ogr_spark.functions.hashing import hamming64
    from database2ogr_spark.operators.dedup import simhash_pairs, simhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    max_h = 14
    sigs = simhash_signatures(docs)
    brute = (
        sigs.alias("l")
        .join(sigs.alias("r"), F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.sim"), F.col("r.sim")).alias("h"),
        )
        .filter(F.col("h") <= max_h)
    )
    truth = {(r.id_a, r.id_b) for r in brute.collect()}
    got = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(docs, max_hamming=max_h).collect()
    }
    assert truth, "fixture corpus should contain at least one near-dup pair"
    assert got == truth


def test_decontaminate_removes_gram_overlap(spark):
    # corpus doc 11 shares the benchmark's "alpha beta gamma" trigram; doc 12
    # is clean; doc 13 is an identical short doc (whole-doc fallback gram);
    # doc 14 is a different short doc
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "tiny doc")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (11, "words before alpha beta gamma and after"),
            (12, "completely unrelated content about spark shuffles"),
            (13, "tiny doc"),
            (14, "other short"),
        ],
        "doc_id long, text string",
    )
    survivors = {
        r.doc_id for r in DD.decontaminate(corpus, bench, k=3).collect()
    }
    assert survivors == {12, 14}


def test_dedup_incremental_idempotent_ingestion(spark):
    store0 = spark.createDataFrame([], "fingerprint string")
    batch = spark.createDataFrame(
        [(1, "doc one"), (2, "doc two"), (3, "doc one"), (4, "doc three")],
        "doc_id long, text string",
    )
    admitted = DD.dedup_incremental(batch, store0)
    got = {r.doc_id for r in admitted.collect()}
    assert got == {1, 2, 4}  # in-batch dup 3 collapsed to min-id survivor 1
    # advance the store with the admitted fingerprints; replaying the same
    # batch admits nothing (idempotent ingestion, retry-safe)
    store1 = admitted.select("fingerprint")
    assert DD.dedup_incremental(batch, store1).count() == 0
    # a genuinely new doc still lands
    batch2 = spark.createDataFrame(
        [(9, "doc one"), (10, "brand new")], "doc_id long, text string"
    )
    assert {r.doc_id for r in DD.dedup_incremental(batch2, store1).collect()} == {10}


def test_decontaminate_bloom_no_false_negatives(spark):
    # the Bloom twin may drop EXTRA docs (false positives) but never keeps a
    # contaminated one: bloom survivors ⊆ exact survivors, always
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id % 20 = 0")
    corpus = docs.filter("doc_id % 20 <> 0")
    exact = {r.doc_id for r in DD.decontaminate(corpus, bench, k=13).collect()}
    bloom = {
        r.doc_id for r in DD.decontaminate_bloom(corpus, bench, k=13).collect()
    }
    assert bloom.issubset(exact)
    # at 2^23 bits for a fixture-sized gram set the fp rate is ~0: identical
    assert bloom == exact


def test_decontaminate_bloom_small_filter_still_one_sided(spark):
    # degenerate 2^10-bit filter: heavy false positives are allowed, a kept
    # contaminated doc is not
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id % 20 = 0")
    corpus = docs.filter("doc_id % 20 <> 0")
    exact = {r.doc_id for r in DD.decontaminate(corpus, bench, k=13).collect()}
    bloom = {
        r.doc_id
        for r in DD.decontaminate_bloom(
            corpus, bench, k=13, num_bits=1 << 10, num_hashes=2
        ).collect()
    }
    assert bloom.issubset(exact)


def test_repetition_stats_exact_fracs(spark):
    from database2ogr_spark.operators.repetition import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),  # tokens: 4 (2 distinct); bigrams: aa,aa,ab
            (2, "x y z"),  # no repetition
            (3, "solo"),  # < 2 tokens: bigram stats must be 0
            (4, ""),  # empty doc: everything 0
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs, top_n=2).collect()}
    r1 = rows[1]
    assert r1.n_tokens == 4
    assert abs(r1.dup_token_frac - 0.5) < 1e-9
    assert abs(r1.dup_bigram_frac - (1 - 2 / 3)) < 1e-6
    assert r1.top_ngram_count == 2 and abs(r1.top_ngram_frac - 2 / 3) < 1e-6
    r2 = rows[2]
    assert r2.dup_token_frac == 0.0 and r2.dup_bigram_frac == 0.0
    assert r2.top_ngram_count == 1 and abs(r2.top_ngram_frac - 1 / 2) < 1e-6
    assert rows[3].n_tokens == 1 and rows[3].top_ngram_count == 0
    assert rows[4].n_tokens == 0 and rows[4].dup_token_frac == 0.0


def test_duplicate_spans_exact_boundaries(spark):
    # docs 1 and 2 share the 5-word run "one two three four five" starting
    # at word 2 in doc 1 and word 0 in doc 2; k=3 → duplicated window
    # starts {2,3,4} in doc 1 / {0,1,2} in doc 2, merging to one span each
    rows = [
        (1, "aa bb one two three four five cc dd"),
        (2, "one two three four five xx yy zz"),
        (3, "nothing in common with the others at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_windows)
        for r in DD.duplicate_spans(df, k_shingle=3).collect()
    }
    assert spans == {1: (2, 6, 3), 2: (0, 4, 3)}


def test_duplicate_spans_merge_gap_splits_distant_repeats(spark):
    # two shared 3-word phrases separated by >k unique words form two
    # spans, not one
    rows = [
        (1, "p q r u1 u2 u3 u4 u5 u6 u7 x y z"),
        (2, "p q r a1 a2 a3 a4 a5 a6 a7 x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in DD.duplicate_spans(df, k_shingle=3).collect()
    )
    assert spans == [(1, 0, 2), (1, 10, 12), (2, 0, 2), (2, 10, 12)]


def test_duplicate_spans_no_shared_grams_is_empty(spark):
    rows = [(1, "alpha beta gamma delta"), (2, "five six seven eight")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert DD.duplicate_spans(df, k_shingle=3).count() == 0


def test_dedup_incremental_lsh_near_and_replay(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    store_docs = spark.createDataFrame(
        [(1, base), (2, "completely different content about spark plans here")],
        "doc_id long, text string",
    )
    store = DD.minhash_band_table(store_docs)
    batch = spark.createDataFrame(
        [
            (10, base),  # exact replay of stored doc 1
            (11, base + " extra"),  # near-dup of stored doc 1
            (12, "novel text that matches nothing in the stored corpus"),
            (13, "novel text that matches nothing in the stored corpus"),  # in-batch dup of 12
        ],
        "doc_id long, text string",
    )
    out = DD.dedup_incremental_lsh(batch, store, threshold=0.5)
    assert sorted(r.doc_id for r in out.collect()) == [12]

    # advancing the store with the admitted rows makes a replay a no-op
    admitted = batch.filter("doc_id = 12")
    store2 = store.union(DD.minhash_band_table(admitted))
    out2 = DD.dedup_incremental_lsh(batch, store2, threshold=0.5)
    assert out2.count() == 0


def test_duplicate_spans_matches_bruteforce_property(spark):
    # random word corpora drawn from a tiny vocabulary (to force shared
    # k-grams): the operator must agree with a direct python reference
    # (shared-window detection + gap merge) on every corpus
    from hypothesis import given, settings, strategies as st

    vocab = ["aa", "bb", "cc", "dd"]
    docs_strategy = st.lists(
        st.lists(st.sampled_from(vocab), min_size=1, max_size=12),
        min_size=2,
        max_size=4,
    )

    def reference(texts, k=2, gap=2):
        grams = {
            d: [tuple(ws[i : i + k]) for i in range(max(1, len(ws) - k + 1))]
            if len(ws) >= k
            else [tuple(ws)]
            for d, ws in enumerate(texts)
        }
        out = []
        for d, gs in grams.items():
            dup_pos = [
                p
                for p, g in enumerate(gs)
                if any(g in set(o) for dd, o in grams.items() if dd != d)
            ]
            spans = []
            for p in dup_pos:
                if spans and p - spans[-1][1] <= gap:
                    spans[-1] = (spans[-1][0], p, spans[-1][2] + 1)
                else:
                    spans.append((p, p, 1))
            out += [(d, s, e + k - 1, n) for s, e, n in spans]
        return sorted(out)

    @settings(max_examples=8, deadline=None, derandomize=True)
    @given(docs=docs_strategy)
    def check(docs):
        texts = [" ".join(ws) for ws in docs]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = sorted(
            (r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in DD.duplicate_spans(df, k_shingle=2).collect()
        )
        # reference positions are in WINDOW space; short docs (<k words)
        # collapse to a single whole-doc shingle at position 0, matching
        # the operator's fallback
        assert got == reference([t.split() for t in texts])

    check()


def test_contamination_fraction_exact_shares(spark):
    """Hand-computed overlap shares, zero-hit docs included at frac 0."""
    from database2ogr_spark.operators.dedup import contamination_fraction

    bench = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # trigrams (k=3): {abc, bcd, cde, def} — hits {abc, bcd} → 2/4
            (11, "a b c d e f"),
            # no shared trigram → 0/2
            (12, "x y z w"),
            # identical doc: trigrams {abc, bcd} both hit → 2/2
            (13, "a b c d"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in contamination_fraction(corpus, bench, k=3).collect()
    }
    assert len(out) == 3  # zero-hit docs are present
    assert (out[11].n_grams, out[11].n_hits, out[11].frac) == (4, 2, 0.5)
    assert (out[12].n_grams, out[12].n_hits, out[12].frac) == (2, 0, 0.0)
    assert (out[13].n_grams, out[13].n_hits, out[13].frac) == (2, 2, 1.0)


def test_decontaminate_fraction_zero_threshold_equals_any_hit(spark):
    """max_frac=0.0 must reproduce the any-hit rule exactly."""
    from database2ogr_spark.operators.dedup import (
        decontaminate,
        decontaminate_fraction,
    )

    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    strict = {r.doc_id for r in decontaminate(corpus, bench, k=13).collect()}
    frac0 = {
        r.doc_id
        for r in decontaminate_fraction(corpus, bench, k=13, max_frac=0.0).collect()
    }
    assert strict == frac0


def test_decontaminate_fraction_spares_incidental_overlap(spark):
    """A long doc with one shared gram survives a 10% threshold; a verbatim
    copy does not."""
    from database2ogr_spark.operators.dedup import decontaminate_fraction

    bench = spark.createDataFrame(
        [(1, "p q r")], "doc_id long, text string"
    )
    long_text = " ".join(f"w{i}" for i in range(40)) + " p q r"
    corpus = spark.createDataFrame(
        [(11, long_text), (12, "p q r")], "doc_id long, text string"
    )
    kept = {
        r.doc_id
        for r in decontaminate_fraction(
            corpus, bench, k=3, max_frac=0.1
        ).collect()
    }
    assert kept == {11}


def test_priority_survivors_prefer_curated_source(spark):
    """A near-dup pair spanning (web, curated) keeps the CURATED doc even
    when the web copy has the smaller id; singleton groups always survive."""
    from database2ogr_spark.operators.dedup import near_dup_survivors_by_priority

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, text, "web"),                    # near-dup of 2, lower id
            (2, text, "curated"),                # higher priority -> wins
            (3, "совершенно unrelated text here", "web"),
        ],
        "doc_id long, text string, source string",
    )
    kept = {
        r.doc_id
        for r in near_dup_survivors_by_priority(
            docs, {"curated": 0, "web": 5}, threshold=0.5
        ).collect()
    }
    assert kept == {2, 3}
    # without priorities the min id wins — the behavior this op replaces
    kept_plain = {
        r.doc_id
        for r in near_dup_survivors_by_priority(docs, {}, threshold=0.5).collect()
    }
    assert kept_plain == {1, 3}


def test_priority_survivors_key_domain(spark):
    """Round-4 advisor catch: lpad TRUNCATES overlong input.  Ids beyond
    12 digits must now sort correctly (20-char pad covers all nonnegative
    int64), and out-of-domain priorities must raise instead of silently
    corrupting the key."""
    import pytest

    from database2ogr_spark.operators.dedup import near_dup_survivors_by_priority

    text = "alpha beta gamma delta epsilon zeta eta theta"
    big, small = 10_000_000_000_000, 9_999_999_999_999  # 14 vs 13 digits
    docs = spark.createDataFrame(
        [(big, text, "web"), (small, text, "web")],
        "doc_id long, text string, source string",
    )
    kept = {
        r.doc_id
        for r in near_dup_survivors_by_priority(docs, {}, threshold=0.5).collect()
    }
    # under the old 12-char pad both keys truncated and the wrong doc
    # could win; min id must survive
    assert kept == {small}
    with pytest.raises(ValueError):
        near_dup_survivors_by_priority(docs, {"web": -1})
    with pytest.raises(ValueError):
        near_dup_survivors_by_priority(docs, {"web": 1_000_000})


def test_dedup_operators_release_intermediate_caches(spark):
    """VERDICT r4 item 8: each pair operator unpersists its signature/gram intermediates before
    returning — after the action, the only persistent RDD added is the
    operator's own (small, result-sized) checkpoint, never the cached
    corpus-sized intermediate."""
    from database2ogr_spark.operators.dedup import (
        dedup_incremental_lsh,
        duplicate_spans,
        minhash_band_table,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext

    def persistent_ids() -> set:
        # Snapshot the *ids* of currently-persisted RDDs. Asserting on the
        # id-set difference (not a global count delta) is immune to Spark's
        # async ContextCleaner reclaiming unreferenced RDDs from earlier
        # calls mid-test (r11 driver flake: the global count dropped by 6
        # between before/after snapshots and a `>= 1` delta check failed).
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    results = []  # keep results alive so their checkpoints stay accounted
    for call in (
        lambda: minhash_lsh_pairs(df, threshold=0.5),
        lambda: simhash_pairs(df, max_hamming=10),
        lambda: ngram_jaccard_pairs(df, threshold=0.2),               # fast tier
        lambda: ngram_jaccard_pairs(df, threshold=0.2, max_df=10_000),  # guard, 0 hot
        lambda: ngram_jaccard_pairs(df, threshold=0.2, max_df=3),       # guard, masked
        lambda: ngram_jaccard_pairs(
            df, threshold=0.2, max_df=3, hot_broadcast_limit=0
        ),                                                            # guard, anti-join
        lambda: duplicate_spans(df, k_shingle=8),
        lambda: dedup_incremental_lsh(
            df, minhash_band_table(df.limit(50)), threshold=0.5
        ),
    ):
        before = persistent_ids()
        out = call()
        out.count()
        results.append(out)
        # at most the one checkpointed result; the MEMORY_AND_DISK
        # intermediates must be gone
        assert len(persistent_ids() - before) <= 1


def test_novelty_stats_exact_fractions(spark):
    from database2ogr_spark.operators.repetition import novelty_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),      # windows: abc bcd cde
            (2, "a b c x y"),      # windows: abc bcx cxy — shares abc with 1
            (3, "a b c d q"),      # windows: abc bcd cdq — shares abc, bcd
            (4, "zz qq"),          # short doc → one whole-text window
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in novelty_stats(docs, k_shingle=3).collect()}
    assert (rows[1].n_windows, rows[1].n_dup_windows) == (3, 2)
    assert rows[1].dup_window_frac == round(2 / 3, 6)
    assert rows[1].max_gram_docs == 3          # 'a b c' is in docs 1,2,3
    assert (rows[2].n_windows, rows[2].n_dup_windows) == (3, 1)
    assert (rows[3].n_windows, rows[3].n_dup_windows) == (3, 2)
    assert (rows[4].n_dup_windows, rows[4].max_gram_docs) == (0, 1)


def test_novelty_stats_within_doc_repeat_is_not_cross_doc(spark):
    from database2ogr_spark.operators.repetition import novelty_stats

    # 'a b c' repeats WITHIN doc 1 only → df counts distinct docs, so the
    # windows stay novel (that's repetition_stats' job, not this one's)
    docs = spark.createDataFrame(
        [(1, "a b c z a b c"), (2, "q w e r t")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in novelty_stats(docs, k_shingle=3).collect()}
    assert rows[1].n_dup_windows == 0 and rows[1].max_gram_docs == 1


def test_novelty_stats_releases_cache(spark):
    """Same contract as the dedup family: after the action, at most the
    operator's own checkpointed result is persistent — the corpus-sized
    position table must be unpersisted."""
    from database2ogr_spark.operators.repetition import novelty_stats

    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = novelty_stats(docs, k_shingle=3)
    out.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() - before <= 1


def test_winnow_fingerprints_classic_selection(spark):
    from database2ogr_spark.operators.dedup import winnow_fingerprints

    # 6 words -> 4 3-gram positions 0..3; window=2 -> windows {0,1},{1,2},
    # {2,3}: each selects its min gram id (rightmost on tie). Cross-check
    # against a direct python replay of the same rule on the same gram ids.
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x x x x")], "doc_id long, text string"
    )
    from database2ogr_spark.functions.gramkernel import gram_position_table

    grams = {
        (r.id, r.pos): r.gram
        for r in gram_position_table(df, "doc_id", "text", 3).collect()
    }
    w = 2

    def replay(doc):
        poss = sorted(p for (d, p) in grams if d == doc)
        n = len(poss)
        out = set()
        for j in range(max(n - w + 1, 1)):
            win = poss[j : j + w]
            mn = min(grams[(doc, p)] for p in win)
            pos = max(p for p in win if grams[(doc, p)] == mn)
            out.add((mn, pos))
        return out

    got = {
        d: {(r.fp, r.fp_pos) for r in rows}
        for d, rows in __import__("itertools").groupby(
            sorted(
                winnow_fingerprints(df, window=w).collect(), key=lambda r: r.id
            ),
            key=lambda r: r.id,
        )
    }
    assert got[1] == replay(1)
    # doc 2: all grams identical -> rightmost tie inside each window;
    # distinct set collapses
    assert got[2] == replay(2)


def test_winnow_pairs_shared_passage(spark):
    import pytest as _pytest

    from database2ogr_spark.operators.dedup import winnow_pairs

    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, "intro words here " + shared),
            (2, shared + " totally different ending material follows now"),
            (3, "completely unrelated text about other topics entirely"),
        ],
        "doc_id long, text string",
    )
    out = winnow_pairs(df, window=3, min_shared=2).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    with _pytest.raises(ValueError):
        winnow_pairs(df, min_shared=0)
    with _pytest.raises(ValueError):
        winnow_pairs(df, window=0)


def test_winnow_guarantee_property(spark):
    """Schleimer et al.'s correctness guarantee: any shared token run of
    length >= window + k - 1 produces at least one SHARED fingerprint.
    Randomized docs embedding a common passage at random offsets."""
    import random

    from database2ogr_spark.operators.dedup import winnow_fingerprints

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]
    k, w = 3, 4
    passage = [rng.choice(vocab) for _ in range(w + k - 1)]  # minimal run
    rows = []
    for doc in range(6):
        pre = [rng.choice(vocab) for _ in range(rng.randrange(0, 12))]
        post = [rng.choice(vocab) for _ in range(rng.randrange(0, 12))]
        rows.append((doc, " ".join(pre + passage + post)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(df, k_shingle=k, window=w).collect():
        fps.setdefault(r.id, set()).add(r.fp)
    for a in range(6):
        for b in range(a + 1, 6):
            assert fps[a] & fps[b], (a, b)


def test_containment_pairs_catches_embedded_duplicate(spark):
    from database2ogr_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_doc = (
        "intro words here first. " + short + " and then a very long tail "
        "of unrelated filler content continues onward for a while with "
        "many extra distinct tokens one two three four five six seven"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "completely different text body")],
        "doc_id long, text string",
    )
    out = {(r.id_a, r.id_b): r for r in containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r.containment >= 0.9          # short doc fully embedded
    assert r.jaccard < 0.5               # symmetric Jaccard is diluted
    assert (1, 3) not in out and (2, 3) not in out


def test_gram_operators_have_one_execution_tier():
    # the gram operators run only the Arrow kernel (functions/gramkernel.py);
    # its spec is pinned in tests/test_gramkernel.py, so no public function
    # takes a parameter that selects the tier
    import inspect

    from database2ogr_spark.operators import repetition

    for mod in (DD, repetition):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            params = inspect.signature(fn).parameters
            assert not [p for p in params if "arrow" in p], name
