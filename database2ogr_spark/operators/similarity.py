"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — query side is small and explicitly
``broadcast()``, so the corpus is scanned exactly once with no shuffle until
the final per-query top-k (a groupBy on num_queries keys).

Scale path: sign-LSH bucketing (random-hyperplane sketch, deterministic
seeds) — corpus is pre-bucketed; queries probe only matching buckets, cutting
the scanned fraction ~2^-bits per probe. At 100 TB the bucketed corpus would
be written bucketed-by(bucket) so probes prune at the file level.

Two expression tiers, both JVM-side with no Python in the loop. The
generic tier (``dot``, ``l2_norm``, ``cosine``) folds with the
``zip_with`` + ``aggregate`` higher-order functions and takes any dim.
When the dim is known at build time, the unrolled tier
(``cosine_unrolled_expr``, ``signs_bucket_expr``, the late-interaction and
label-diversity kernels) writes every element product into ONE parsed SQL
string: the same left-to-right float order, whole-stage codegen, and one
py4j call to build instead of one per Column operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.functions.hashing import stable_hash64


def is_valid_embedding(e: Column) -> Column:
    """The engine-wide embedding ingestion contract, as one boolean column.

    A 100 TB embedding corpus contains encoder failures: null vectors,
    empty arrays, NaN/Inf-poisoned elements, and all-zero vectors. Each
    breaks a different downstream kernel — ragged arrays kill Arrow
    batch stacking, zero norms turn cosine into DIVIDE_BY_ZERO (ANSI)
    or NaN, one NaN element poisons every centroid it touches. The
    contract: validate ONCE at ingestion, so every operator below may
    assume rectangular, finite, non-degenerate vectors instead of
    re-guarding (and re-paying) per kernel. All four predicates are
    JVM-side higher-order functions over the array — one scan-time pass,
    no shuffle, and a no-op on clean corpora.

    The DuckDB oracle twins apply the byte-identical predicate
    (``EMB_VALID_SQL`` in ``__spark_entry__``), so driver-graded results
    agree on dirty data too (probed by
    ``scripts/check_oracle.py --perturb nulls``).
    """
    finite = F.forall(
        e,
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )
    nonzero = F.exists(e, lambda x: x != F.lit(0.0))
    return e.isNotNull() & (F.size(e) > 0) & finite & nonzero


def valid_embeddings(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Filter ``df`` to rows whose ``col`` passes ``is_valid_embedding``."""
    return df.filter(is_valid_embedding(F.col(col)))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in float64, left-to-right (matches the oracle's list ops)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself if ids collide).

    Output: (query_id, vec_id, cosine_sim, rank). Deterministic tie-break:
    sim desc, then vec_id asc. The query side is broadcast — the corpus-side
    scan is embarrassingly parallel and shuffles only (query_id, top-k-widths)
    rows into the ranking stage.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_embeddings(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = max|x|/127``,
    ``q_i = round(x_i/scale)`` ∈ [-127, 127] (zero vector → scale 0, all-zero
    codes). Pure Column expressions; exact DuckDB oracle twin
    (``embedding_quantize``).

    The scale story this exists for: a 100 TB embedding store at float32 is
    4 bytes/dim; int8 codes + one float scale cut memory and scan bandwidth
    ~4× — the standard first compression tier of an ANN index (IVF lists and
    LSH buckets store codes, not floats). Ranking error is bounded by the
    quantization step; re-rank the top candidates against the float vectors
    when exactness matters (same two-stage shape as ivf_topk's probe).

    Output: (id, scale double, qvec array<tinyint>).
    """
    v = F.col(vec_col)
    scale = (
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    )
    # staged: scale materialized under an alias first, the codes derived from
    # it in the next projection (tokenize-once pattern — see textstats)
    staged = df.select(F.col(id_col).alias("id"), scale.alias("scale"), v.alias("__v"))
    q = F.when(
        F.col("scale") > 0,
        F.transform(
            F.col("__v"),
            lambda x: F.round(x.cast("double") / F.col("scale"), 0).cast("tinyint"),
        ),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0).cast("tinyint")))
    return staged.select("id", "scale", q.alias("qvec"))


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors (both sides quantized
    via :func:`quantize_embeddings`): cosine computed on the codes — the
    scales cancel in the cosine ratio up to per-element rounding, so no
    rescaling is even needed. Approximate by construction (rows-only entry);
    recall vs the float path is pinned in tests/test_similarity.py.
    """
    cq = quantize_embeddings(corpus, id_col=id_col, vec_col=vec_col).select(
        F.col("id").alias("vec_id"), F.col("qvec").alias("c_vec")
    )
    qq = F.broadcast(
        quantize_embeddings(queries, id_col=query_id_col, vec_col=vec_col).select(
            F.col("id").alias("query_id"), F.col("qvec").alias("q_vec")
        )
    )
    scored = (
        cq.crossJoin(qq)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _dot_sql(a: str, b: str, dim: int) -> str:
    """Unrolled Σ ``CAST(a[j] AS DOUBLE) * CAST(b[j] AS DOUBLE)`` over
    ``dim`` elements of the array columns named ``a`` and ``b``, as SQL
    text. SQL ``+`` is left-associative, so the sum runs left to right
    from 0.0, the float order of the ``aggregate`` fold in :func:`dot`.
    For a self-dot (``a == b``) the leading 0.0 cannot change a bit: each
    term x·x is +0.0, positive, +inf, NaN or null, never -0.0, so
    ``0.0 + x0·x0`` equals ``x0·x0``."""
    terms = " + ".join(
        f"CAST({a}[{j}] AS DOUBLE) * CAST({b}[{j}] AS DOUBLE)" for j in range(dim)
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def cosine_unrolled_expr(a_name: str, b_name: str, dim: int) -> Column:
    """:func:`cosine` for a ``dim`` known at build time, as ONE parsed SQL
    string — the same left-to-right float order and element casts as the
    fold, but whole-stage codegen instead of interpreted higher-order
    functions (~10× the throughput on brute-force pair scans), and one
    py4j call to build instead of ~6·dim Column operations (a 64-dim
    Column tree took seconds of driver time). Takes column NAMES
    (``arr[i]`` is 0-based in SQL, matching ``element_at(arr, i+1)``)."""
    return F.expr(
        f"{_dot_sql(a_name, b_name, dim)} / "
        f"(SQRT({_dot_sql(a_name, a_name, dim)}) * "
        f"SQRT({_dot_sql(b_name, b_name, dim)}))"
    )


def signs_bucket_expr(
    vec_name: str, *, bits: int, dim: int, plane_offset: int = 0
) -> Column:
    """Random-hyperplane sign sketch → integer bucket in [0, 2^bits), as
    ONE parsed SQL string (see :func:`cosine_unrolled_expr` for why).

    Hyperplane j's component i is the md5-derived ±1 ``int_sign(j, i)`` —
    reproducible anywhere, no stored model. A ±1 hyperplane sketch is
    standard sign-LSH up to a diagonal scaling. Each plane's projection is
    summed left to right from 0.0 and votes 1 when ``>= 0``; the first
    plane is the most significant bit.

    ``plane_offset`` selects the hyperplane window ``[offset, offset+bits)``
    so BANDED schemes (each band an independent bucket over its own plane
    set — :func:`decontaminate_semantic_lsh`) reuse the same deterministic
    plane family without collisions between bands."""
    planes = []
    for j in range(plane_offset, plane_offset + bits):
        terms = " + ".join(
            (
                f"CAST({vec_name}[{i}] AS DOUBLE)"
                if int_sign(j, i) > 0
                else f"(- CAST({vec_name}[{i}] AS DOUBLE))"
            )
            for i in range(dim)
        )
        planes.append(
            f"(CASE WHEN (CAST(0.0 AS DOUBLE) + {terms}) >= CAST(0.0 AS DOUBLE) "
            f"THEN 1 ELSE 0 END)"
        )
    expr = "0"
    for p in planes:
        expr = f"(({expr}) * 2 + {p})"
    return F.expr(expr)


_SIGN_CACHE: dict[tuple[int, int], int] = {}


def int_sign(j: int, i: int) -> int:
    """Deterministic ±1 for hyperplane j, dimension i (md5-derived)."""
    key = (j, i)
    if key not in _SIGN_CACHE:
        import hashlib

        h = hashlib.md5(f"plane:{j}:{i}".encode()).digest()
        _SIGN_CACHE[key] = 1 if h[0] % 2 == 0 else -1
    return _SIGN_CACHE[key]


def _infer_dim(corpus: DataFrame, vec_col: str) -> int | None:
    """First vector's length, or None for an empty corpus (callers return an
    empty result instead of crashing on len(None))."""
    row = corpus.select(vec_col).first()
    return None if row is None or row[0] is None else len(row[0])


def _empty(corpus: DataFrame, schema: str) -> DataFrame:
    return corpus.sparkSession.createDataFrame([], schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    bits: int = 4,
    dim: int | None = None,
    multi_probe: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe only corpus vectors in the query's sign-LSH
    bucket. ``multi_probe=n`` additionally probes every bucket within
    Hamming distance 1 on ``n`` of the sketch bits (n=bits → all 1-bit
    neighbors) — the standard recall lever: scanned fraction grows from
    2^-bits to ~(1+n)·2^-bits while staying bucket-pruned. ``dim`` defaults
    to the first corpus vector's length and must be uniform.
    """
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
        if dim is None:
            return _empty(corpus, "query_id long, vec_id long, cosine_sim double, rank int")
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        signs_bucket_expr(vec_col, bits=bits, dim=dim).alias("bucket"),
    )
    q_base = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        signs_bucket_expr(vec_col, bits=bits, dim=dim).alias("bucket"),
    )
    if multi_probe > 0:
        flips = F.array(
            F.lit(0), *[F.lit(1 << j) for j in range(min(multi_probe, bits))]
        )
        q_base = q_base.select(
            "query_id",
            "q_vec",
            F.explode(
                F.array_distinct(
                    F.transform(flips, lambda m: F.col("bucket").bitwiseXOR(m))
                )
            ).alias("bucket"),
        )
    q = F.broadcast(q_base)
    scored = (
        c.join(q, on="bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_pairs_exact(
    corpus: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: all (id_a < id_b) pairs with
    rounded cosine ≥ threshold. O(n²) compute by definition — the oracle
    baseline the LSH variant (:func:`embedding_near_dup_pairs`) approximates;
    at corpus scale the LSH sibling is the default path and this kernel is
    the audit tool.

    Physical strategy — fully distributed block matmul, nothing on the
    driver: rows are hashed into ``blocks`` disjoint blocks; every unordered
    block pair (i ≤ j) is one task, and each row is shipped to exactly the
    ``blocks`` tasks it participates in (one explode → one shuffle with
    replication factor B = ``blocks``). Each task scores its two blocks with
    one vectorized numpy matmul inside ``applyInPandas`` and emits only the
    surviving pairs, each materialized exactly once (diagonal tasks mask to
    the upper triangle; off-diagonal tasks own their pair disjointly).

    Scale: shuffle volume is B·|corpus|; per-task memory is 2·(n/B)·d·8
    bytes, so B is chosen so two blocks fit an executor — B ≈
    n·d·16/executor_mem, independent of cluster size. Default B targets
    local parallelism.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    B = blocks or max(4, int(spark.sparkContext.defaultParallelism ** 0.5) + 1)
    thr = float(threshold)

    sel = corpus.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("va")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))
    tasks = sel.select(
        "id",
        "va",
        "blk",
        F.explode(
            F.array_distinct(
                F.array(
                    *[
                        F.struct(
                            F.least(F.col("blk"), F.lit(t)).alias("ti"),
                            F.greatest(F.col("blk"), F.lit(t)).alias("tj"),
                        )
                        for t in range(B)
                    ]
                )
            )
        ).alias("task"),
    ).select("id", "va", "blk", F.col("task.ti").alias("ti"), F.col("task.tj").alias("tj"))

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        ti, tj = int(pdf["ti"].iat[0]), int(pdf["tj"].iat[0])
        with np.errstate(divide="ignore", invalid="ignore"):
            if ti == tj:
                ids = pdf["id"].to_numpy()
                m = np.array(pdf["va"].tolist(), dtype=np.float64)
                norms = np.sqrt(np.einsum("ij,ij->i", m, m))
                cos = np.round((m @ m.T) / (norms[:, None] * norms[None, :]), 6)
                mask = (cos >= thr) & (ids[:, None] < ids[None, :])
                ii, jj = np.nonzero(mask)
                id_a, id_b, sim = ids[ii], ids[jj], cos[ii, jj]
            else:
                left = pdf[pdf["blk"] == ti]
                right = pdf[pdf["blk"] == tj]
                if left.empty or right.empty:
                    return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
                la, ra = left["id"].to_numpy(), right["id"].to_numpy()
                lm = np.array(left["va"].tolist(), dtype=np.float64)
                rm = np.array(right["va"].tolist(), dtype=np.float64)
                ln = np.sqrt(np.einsum("ij,ij->i", lm, lm))
                rn = np.sqrt(np.einsum("ij,ij->i", rm, rm))
                cos = np.round((lm @ rm.T) / (ln[:, None] * rn[None, :]), 6)
                ii, jj = np.nonzero(cos >= thr)
                id_a = np.minimum(la[ii], ra[jj])
                id_b = np.maximum(la[ii], ra[jj])
                sim = cos[ii, jj]
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine_sim": sim})

    return tasks.groupBy("ti", "tj").applyInPandas(
        score, schema="id_a long, id_b long, cosine_sim double"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted lists
    by nearest centroid; each query scans only its ``n_probe`` closest lists.

    Centroids are deterministic (the corpus vectors whose ids hash lowest —
    reproducible without a trained model; swap in k-means centroids for
    better recall, the plan shape is identical). Scanned fraction ≈
    n_probe / n_centroids. At 100 TB the assignment column becomes the
    table's ``bucketBy``/partition key so probes prune at the file level;
    here assignment is an expression over a broadcast centroid matrix.

    Output: (query_id, vec_id, cosine_sim, rank) — rows-only correctness
    (approximate by construction; recall measured in tests against the
    brute-force baseline).
    """
    import numpy as np
    import pandas as pd

    sel = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"))
    cents = _hash_centroid_matrix(sel, n_centroids)
    if cents is None:
        return _empty(corpus, "query_id long, vec_id long, cosine_sim double, rank int")
    bc = corpus.sparkSession.sparkContext.broadcast(cents)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["c_vec"].tolist(), dtype=np.float64)
            norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = (m / norms) @ c.T
            out = pdf[["vec_id", "c_vec"]].copy()
            out["list_id"] = sims.argmax(axis=1).astype("int64")
            yield out

    vec_type = dict(corpus.dtypes)[vec_col]
    assigned = sel.mapInPandas(
        assign, schema=f"vec_id long, c_vec {vec_type}, list_id long"
    )

    def probe(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["q_vec"].tolist(), dtype=np.float64)
            norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = (m / norms) @ c.T
            # a tiny corpus can have fewer lists than n_probe — probe
            # them all instead of crashing on the repeat-length mismatch
            eff = min(n_probe, sims.shape[1])
            lists = np.argsort(-sims, axis=1)[:, :eff]
            rows = {
                "query_id": np.repeat(pdf["query_id"].to_numpy(), eff),
                "q_vec": [v for v in pdf["q_vec"] for _ in range(eff)],
                "list_id": lists.reshape(-1),
            }
            yield pd.DataFrame(rows)

    q_sel = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q_lists = F.broadcast(
        q_sel.mapInPandas(
            probe, schema=f"query_id long, q_vec {vec_type}, list_id long"
        )
    )

    scored = (
        assigned.join(q_lists, on="list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    *,
    threshold: float = 0.95,
    bits: int = 6,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH blocking: exact
    cosine is computed only within buckets (near-identical vectors land in the
    same bucket with high probability). Output (id_a < id_b, cosine_sim)."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
        if dim is None:
            return _empty(corpus, "id_a long, id_b long, cosine_sim double")
    b = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        signs_bucket_expr(vec_col, bits=bits, dim=dim).alias("bucket"),
    )
    pairs = (
        b.alias("l")
        .join(b.alias("r"), (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine(F.col("l.vec"), F.col("r.vec")), 6).alias("cosine_sim"),
        )
    )
    return pairs.filter(F.col("cosine_sim") >= threshold)


def label_centroids(
    embeddings: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-label centroid (element-wise mean vector), emitted in LONG form
    (label, dim, mean) — the grouped-map ``applyInPandas`` surface: state
    that is awkward as SQL aggregation (whole-vector math) but trivial as a
    numpy reduction per group.

    Scale: one shuffle on the label key; each group reduces n×d floats to d
    on the executor. Long-form output keeps the result oracle-comparable
    cell-by-cell. For centroid *seeding* of IVF see :func:`ivf_topk` (which
    uses deterministic data-point seeds instead of means on purpose).
    """
    import pandas as pd

    label_type = dict(embeddings.dtypes)[label_col]

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        m = np.stack(pdf[vec_col].to_numpy())
        # sum then divide (not .mean) so the arithmetic is the plain
        # sequential sum an oracle engine reproduces at double precision
        mean = m.astype(np.float64).sum(axis=0) / m.shape[0]
        return pd.DataFrame(
            {
                "label": pdf[label_col].iloc[0],
                "dim": np.arange(m.shape[1], dtype=np.int32),
                "mean": np.round(mean, round_to),
            }
        )

    return embeddings.select(label_col, vec_col).groupBy(label_col).applyInPandas(
        centroid, schema=f"label {label_type}, dim int, mean double"
    )


def project_embeddings(
    corpus: DataFrame,
    *,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` dimensions —
    the cheap-ANN / storage-reduction companion to int8 quantization
    (quantize shrinks bytes per component; projection shrinks components).

    The projection matrix is the same md5-derived ±1 family as the sign-LSH
    hyperplanes (``int_sign`` — deterministic everywhere, no stored model),
    scaled by 1/√out_dim so expected pairwise dot products are preserved
    (the standard ±1 JL construction, public Achlioptas 2003). Output
    components are rounded to 6 decimals — the cross-engine sum-order
    contract, which is what lets the DuckDB oracle replay the projection
    as literal signed sums.

    Execution: one narrow ``mapInPandas`` matmul per batch against a
    broadcast out_dim×dim sign matrix — zero shuffle, Arrow-batched,
    identical plan shape at any corpus size.
    """
    import numpy as np

    dim = _infer_dim(corpus, vec_col)
    if dim is None:
        return _empty(corpus, f"vec_id long, proj array<double>")
    signs = np.array(
        [[int_sign(j, i) for i in range(dim)] for j in range(out_dim)],
        dtype=np.float64,
    )
    bc = corpus.sparkSession.sparkContext.broadcast(signs / np.sqrt(out_dim))

    def project(batches):
        import pandas as pd

        r = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["v"].tolist(), dtype=np.float64)
            proj = np.round(m @ r.T, 6)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": list(proj)}
            )

    sel = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    return sel.mapInPandas(project, schema="vec_id long, proj array<double>")


def _hash_centroid_matrix(sel: DataFrame, n_centroids: int):
    """The deterministic centroid pick shared by ivf_topk and the
    persistent index: the n vectors whose ids hash lowest (seed 11),
    L2-normalized, ordered by hash — row index IS list_id. Returns a
    numpy (n, dim) matrix or None on an empty corpus."""
    import numpy as np

    cent_rows = (
        sel.withColumn("_h", stable_hash64(F.col("vec_id").cast("string"), seed=11))
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    if not cent_rows:
        return None
    cents = np.array([r.c_vec for r in cent_rows], dtype=np.float64)
    return cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)


def build_ivf_index(
    corpus: DataFrame,
    out_dir: str,
    *,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Materialize an IVF index as a DATASET: ``out_dir/centroids`` (k rows:
    list_id, centroid) and ``out_dir/lists`` (the corpus, partitioned by
    ``list_id`` directories). Returns ``out_dir``.

    :func:`ivf_topk` re-assigns the whole corpus on every call — right for
    one-shot queries, wasteful for a query SERVICE. The index pays
    assignment once; because inverted lists are parquet *partition
    directories*, a probe reads only the ``n_probe`` lists it needs —
    file-level pruning (``PartitionFilters`` in the scan, pinned in
    tests/test_similarity.py), which is exactly how the ivf_topk docstring
    says the 100 TB deployment should store the assignment. Centroid choice
    and assignment are bit-identical to :func:`ivf_topk` (shared kernel),
    so index-backed results equal the in-memory operator's exactly.
    """
    import numpy as np

    sel = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"))
    cents = _hash_centroid_matrix(sel, n_centroids)
    if cents is None:
        raise ValueError("cannot build an IVF index over an empty corpus")
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(cents)

    def assign(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["c_vec"].tolist(), dtype=np.float64)
            norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            out = pdf[["vec_id", "c_vec"]].copy()
            out["list_id"] = ((m / norms) @ c.T).argmax(axis=1).astype("int64")
            yield out

    vec_type = dict(corpus.dtypes)[vec_col]
    assigned = sel.mapInPandas(
        assign, schema=f"vec_id long, c_vec {vec_type}, list_id long"
    )
    (
        assigned.repartition(F.col("list_id"))
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{out_dir}/lists")
    )
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "list_id long, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/centroids")
    return out_dir


def ivf_index_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    *,
    k: int = 5,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a :func:`build_ivf_index` dataset: per query, scan only its
    ``n_probe`` nearest inverted lists. Results are identical to
    :func:`ivf_topk` with the same hyperparameters (pinned in pytest AND by
    sharing the ivf_topk DuckDB oracle).

    The probed-list set (≤ #queries·n_probe small ints) is collected so the
    list filter is a LITERAL ``IN`` on the partition column — that is what
    turns it into file-level partition pruning instead of a post-scan
    filter. Queries assign against the k-row centroid table (driver
    broadcast, same shape as ivf_topk's probe kernel).
    """
    import numpy as np
    import pandas as pd

    cent_rows = spark.read.parquet(f"{index_dir}/centroids").orderBy("list_id").collect()
    cents = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast(cents)

    def probe(batches):
        c = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["q_vec"].tolist(), dtype=np.float64)
            norms = np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            lists = np.argsort(-((m / norms) @ c.T), axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["query_id"].to_numpy(), lists.shape[1]),
                    "q_vec": [v for v in pdf["q_vec"] for _ in range(lists.shape[1])],
                    "list_id": lists.reshape(-1),
                }
            )

    vec_type = dict(queries.dtypes)[vec_col]
    q_sel = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q_lists = q_sel.mapInPandas(
        probe, schema=f"query_id long, q_vec {vec_type}, list_id long"
    )
    probed = sorted({r.list_id for r in q_lists.select("list_id").distinct().collect()})
    lists = spark.read.parquet(f"{index_dir}/lists").filter(
        F.col("list_id").isin(probed)
    )
    scored = (
        lists.join(F.broadcast(q_lists), on="list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Semantic benchmark decontamination: drop corpus rows whose embedding
    is cosine-similar (≥ ``threshold``) to ANY benchmark embedding — the
    embedding-space complement of the n-gram rules (paraphrased eval
    leakage that shares no 13-gram still lands near the benchmark vector).

    Plan: the benchmark (eval suites — tiny vs the corpus) broadcasts; the
    contamination test is a broadcast nested-loop semi probe with the
    cosine as the join condition, so the corpus is never shuffled and each
    partition streams against the in-memory benchmark matrix. Cost is
    |corpus|·|benchmark| dot products — fine while the benchmark is
    thousands of rows; for large benchmarks switch the probe to the
    LSH-bucketed pair path (``embedding_near_dup_pairs``) and keep the same
    anti-join tail. Comparison on ``round(cos, 6)`` keeps the boundary
    engine-portable.
    """
    bench = F.broadcast(
        benchmark.select(F.col(vec_col).alias("_bv"))
    )
    contaminated = (
        corpus.alias("c")
        .join(
            bench,
            F.round(cosine(F.col(vec_col), F.col("_bv")), 6)
            >= F.lit(threshold),
            "leftsemi",
        )
        .select(id_col)
    )
    return corpus.join(contaminated, id_col, "left_anti")


def decontaminate_semantic_lsh(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 4,
    bits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Banded sign-LSH semantic decontamination — the 100 TB tier of
    :func:`decontaminate_semantic`, whose exact probe is
    Θ(|corpus|·|benchmark|) dot products (measured growing with the
    SIZE PRODUCT across the sf0.1 → sf1-equivalent decade when both
    sides scale — SCALE.md round 11).

    Plan: both sides compute ``bands`` independent sign-LSH buckets
    (band b = :func:`signs_bucket_expr` over its own hyperplane window
    ``[b·bits, (b+1)·bits)`` of the shared md5-derived plane family),
    posexplode to (band, bucket) keys, and equi-join on them — candidate
    generation is a BUCKETED join shipping bands·(|corpus|+|bench|)
    fixed-width rows, never the cross product. Candidates deduped per
    (corpus, bench) pair, then verified with the EXACT rounded cosine —
    so false positives are impossible; the trade is recall < 1 (a true
    contamination pair is missed iff its vectors land in different
    buckets in EVERY band, probability ((1−(1−θ/π)^bits))-ish per the
    standard banding analysis — drive it up with more bands). Survivors
    are therefore a SUPERSET of the exact operator's (pinned in
    tests/test_similarity.py), and an identical-vector contamination is
    caught with probability 1 (identical vectors share every bucket).
    Fully deterministic given the pinned hyperplanes, so a DuckDB twin
    replays candidate generation and verification exactly.
    """
    d = dim or _infer_dim(corpus, vec_col) or 0
    if d == 0:
        return corpus

    def banded(df: DataFrame, idc: str, vc: str) -> DataFrame:
        # one bucket expression PER union branch, not an array of all of
        # them in one projection: the unrolled 64-dim plane sums are ~16 KB
        # of generated code per band, and bands of them in a single
        # generate/project stage blow janino's 64 KB method limit — the
        # whole stage then silently falls back to interpreted eval, which
        # is exactly the non-codegen path this operator exists to avoid.
        # Each union branch compiles as its own whole-stage pipeline (same
        # rows as a posexplode over the bucket array, and the same shape
        # as the DuckDB twin's UNION ALL).
        parts = [
            df.select(
                F.col(idc),
                F.col(vc),
                F.lit(b).alias("_band"),
                signs_bucket_expr(
                    vc, bits=bits, dim=d, plane_offset=b * bits
                ).alias("_bucket"),
            )
            for b in range(bands)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    c = banded(corpus.select(id_col, vec_col), id_col, vec_col)
    b = banded(
        benchmark.select(
            F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bv")
        ),
        "_bid",
        "_bv",
    )
    contaminated = (
        c.join(b, ["_band", "_bucket"])
        # a pair matching in several bands verifies once, not per band
        .dropDuplicates([id_col, "_bid"])
        .filter(
            F.round(cosine(F.col(vec_col), F.col("_bv")), 6) >= F.lit(threshold)
        )
        .select(id_col)
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")



def late_interaction_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    n_tokens: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Late-interaction (MaxSim) retrieval — the multi-vector scoring rule
    of ColBERT (public Khattab & Zaharia 2020): a document is represented
    by SEVERAL token vectors and score(q, d) = Σ over query tokens of the
    max cosine against any document token — fine-grained term matching
    that single-vector cosine blurs away.

    Here each stored ``dim``-dim embedding is deterministically reshaped
    into ``n_tokens`` contiguous sub-vectors (the multi-vector layout a
    token-level embedder would emit natively — plumbing, scoring, and plan
    shape are identical to the real thing).

    Determinism: per-token cosines are quantized to scaled BIGINTs
    (round(cos·10⁶)) BEFORE the max/sum aggregations, so scoring is exact
    integer arithmetic — order-independent across partitions and engines
    (a float Σ of maxes would be partition-order-dependent).  Output:
    (query_id, vec_id, score_x1e6 bigint, rank int).

    Scale: the token-expanded queries broadcast (still tiny), the corpus
    token table is scanned once; the n_tokens² cosines per (query, doc)
    collapse through two map-side-combinable aggs before the per-query
    top-k window — the same broadcast-scan-window shape as cosine_topk,
    never a corpus shuffle.
    """
    if dim % n_tokens != 0:
        raise ValueError(f"dim {dim} not divisible by n_tokens {n_tokens}")
    sub = dim // n_tokens

    def toks(df: DataFrame, id_alias: str, tv_alias: str) -> DataFrame:
        slices = ", ".join(
            f"struct({i} AS tok, slice({vec_col}, {i * sub + 1}, {sub}) AS tv)"
            for i in range(n_tokens)
        )
        return df.selectExpr(id_alias, f"explode(array({slices})) AS t").selectExpr(
            id_alias, f"t.tok AS {tv_alias}_tok", f"t.tv AS {tv_alias}"
        )

    c_tok = toks(
        corpus.select(F.col(id_col).alias("vec_id"), vec_col), "vec_id", "cv"
    )
    q_tok = toks(
        queries.select(F.col(query_id_col).alias("query_id"), vec_col),
        "query_id",
        "qv",
    )
    # the n_tokens² cosines per (query, doc) are the hot loop: the generic
    # `cosine()` folds with interpreted higher-order functions, so the dot
    # products are unrolled element products (whole-stage codegen, the same
    # left-to-right float order as the fold), and the per-token norms are
    # computed once per token row instead of once per pair
    c_tok = c_tok.withColumn("_cn", F.expr(f"SQRT({_dot_sql('cv', 'cv', sub)})"))
    q_tok = q_tok.withColumn("_qn", F.expr(f"SQRT({_dot_sql('qv', 'qv', sub)})"))
    sim = F.round(
        (F.expr(_dot_sql("cv", "qv", sub)) / (F.col("_cn") * F.col("_qn")))
        * F.lit(1_000_000.0)
    ).cast("long")
    per_qtok = (
        c_tok.crossJoin(F.broadcast(q_tok))
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id", "qv_tok")
        .agg(F.max(sim).alias("_max_sim"))
    )
    scored = per_qtok.groupBy("query_id", "vec_id").agg(
        F.sum("_max_sim").alias("score_x1e6")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_x1e6").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score_x1e6", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining: for each query, the ``k`` most similar corpus
    vectors with a DIFFERENT label — the contrastive-training counterpart
    of :func:`cosine_topk` (similar-but-wrong examples are the ones a
    retrieval or classification model learns most from).

    Output: (query_id, query_label, vec_id, neg_label, cosine_sim, rank);
    ties break sim desc then id asc, like every top-k in this module.
    Same scale shape as ``cosine_topk``: the (small) query set is
    broadcast, the corpus scan is embarrassingly parallel, and only the
    per-query top-k survivors reach the ranking shuffle. The label filter
    runs inside the scan stage — negatives are never materialized for
    same-label pairs.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.col(label_col).alias("query_label"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("neg_label"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neg_label") != F.col("query_label"))
        .select(
            "query_id",
            "query_label",
            "vec_id",
            "neg_label",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def whiten_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    eps: float = 1e-12,
) -> DataFrame:
    """Per-dimension standardization (diagonal whitening):
    ``w[i] = (x[i] - μᵢ) / max(σᵢ, eps)`` with population σ — the cheap
    precondition before cosine/k-means when dimensions have wildly
    different scales.

    Scale design: NO explode. The per-dimension moments are ONE global
    aggregation of ``2·dim`` unrolled columns (``avg(x[i])``,
    ``stddev_pop(x[i])``) — partial aggregation does almost all the work
    map-side, a single 1-row stats result is broadcast back via
    crossJoin, and the standardization is an elementwise projection inside
    whole-stage codegen. Compare the explode form: a corpus×dim row
    explosion plus a shuffle on dim plus a join back. σᵢ = 0 (constant
    dimension) maps to wᵢ = 0 via the eps guard.

    Output: (id, ``whitened`` array<double>). Callers that feed a scalar
    gate should ``posexplode`` the array (see the registry entry).
    """
    d = dim or _infer_dim(df, vec_col)
    if d is None:
        return _empty(df, f"{id_col} bigint, whitened array<double>")

    # expr-string tier: the Column-object version of these 2·dim unrolled
    # aggregates + the d-element projection costs seconds of py4j DRIVER
    # time to build (same class of cost as cosine_unrolled_expr documents);
    # the parsed strings are arithmetic-identical and build in milliseconds.
    def el(i: int) -> str:
        return f"CAST({vec_col}[{i}] AS DOUBLE)"

    stats = df.selectExpr(
        *[f"avg({el(i)}) AS _mu{i}" for i in range(d)],
        *[f"stddev_pop({el(i)}) AS _sd{i}" for i in range(d)],
    )
    arr = ", ".join(
        f"({el(i)} - _mu{i}) / greatest(_sd{i}, CAST({float(eps)} AS DOUBLE))"
        for i in range(d)
    )
    return df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col), F.expr(f"array({arr})").alias("whitened")
    )


def label_diversity(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Intra-label embedding diversity WITHOUT a pair join: the mean
    pairwise dot product inside each label via the sum-vector identity

        Σ_{i≠j} ⟨vᵢ,vⱼ⟩ = ⟨Σv, Σv⟩ − Σ⟨vᵢ,vᵢ⟩

    so a label's O(n²) pair structure reduces to per-dim sums + a
    sum-of-self-dots — ONE grouped aggregation (dim+2 partial-agg'd
    columns), nothing quadratic anywhere. High mean pairwise similarity
    flags a collapsed/redundant label (candidate for dedup or downsampling);
    the same identity powers cluster-cohesion checks at any corpus size.

    Output: (label, n, mean_self_dot, mean_pairwise_dot) — pairwise is
    NULL for singleton labels (no pairs exist).
    """
    d = dim or _infer_dim(df, vec_col)
    if d is None:
        return _empty(
            df,
            f"{label_col} int, n bigint, mean_self_dot double, "
            "mean_pairwise_dot double",
        )
    # SQL strings with the alias inside: one py4j call per column instead
    # of one per Column operator
    agg = df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({_dot_sql(vec_col, vec_col, d)}) AS _ssq"),
        *[F.expr(f"sum(CAST({vec_col}[{i}] AS DOUBLE)) AS _s{i}") for i in range(d)],
    )
    sum_sq = F.expr(" + ".join(f"_s{i} * _s{i}" for i in range(d)))
    return agg.select(
        label_col,
        "n",
        F.round(F.col("_ssq") / F.col("n"), 6).alias("mean_self_dot"),
        F.when(
            F.col("n") > 1,
            F.round(
                (sum_sq - F.col("_ssq")) / (F.col("n") * (F.col("n") - 1)),
                6,
            ),
        ).alias("mean_pairwise_dot"),
    )


def mine_bitext(
    src: DataFrame,
    tgt: DataFrame,
    *,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (public Artetxe & Schwenk 2019, the
    LASER/CCMatrix method): align two embedding sets (sentences in two
    languages, or any two corpora sharing an encoder) by MUTUAL nearest
    neighbour with the margin criterion

        margin(x, y) = cos(x, y) / ((avgₖ(x) + avgₖ(y)) / 2)

    where avgₖ(x) is the mean cosine of x to its k nearest neighbours on
    the OTHER side — the ratio-to-neighbourhood correction that kills the
    hub vectors raw cosine would falsely align. A pair is mined iff y is
    x's top-1, x is y's top-1, and margin ≥ ``threshold``.

    Output: (src_id, tgt_id, cosine_sim, margin), both ratios rounded
    6 dp (cosine before ranking, margin before thresholding — engine-
    stable cuts); ties break toward the smaller id.

    Physical strategy — the |src|×|tgt| scored table NEVER materializes
    (a first cut windowed it twice: 7× slower at sf0.1). Each side's
    per-row statistics (best partner + mean of the top-k cosines) come
    from one blocked matmul kernel, the cosine_pairs_exact pattern: the
    scored side is hashed into B blocks, the OTHER side is replicated to
    each block (shuffle volume |a| + B·|b|), and one vectorized numpy
    matmul per task emits ONE row per scored vector. The mutual-NN +
    margin step is then an equi-join of two side-sized tables on the
    best-partner key. Per-task memory is (|a|/B + |b|)·d·8 bytes — at
    corpus scale, swap the replicated side for blocked candidates
    (ivf_topk / lsh_topk per side); the margin logic is unchanged by
    that substitution.
    """
    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = src.sparkSession
    B = max(4, int(spark.sparkContext.defaultParallelism ** 0.5) + 1)

    def _side_stats(
        a: DataFrame, b: DataFrame, out_id: str, best_name: str, avg_name: str
    ) -> DataFrame:
        aa = a.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("v"),
            F.lit(0).alias("role"),
            F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(B))
            .cast("int")
            .alias("blk"),
        )
        bb = b.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("v"),
            F.lit(1).alias("role"),
            F.explode(F.array(*[F.lit(i) for i in range(B)])).alias("blk"),
        )

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            arows = pdf[pdf["role"] == 0]
            brows = pdf[pdf["role"] == 1]
            if arows.empty or brows.empty:
                return pd.DataFrame(
                    {"id": [], "best": [], "best_cos": [], "avgk": []}
                )
            am = np.array(arows["v"].tolist(), dtype=np.float64)
            bm = np.array(brows["v"].tolist(), dtype=np.float64)
            an = np.sqrt(np.einsum("ij,ij->i", am, am))
            bn = np.sqrt(np.einsum("ij,ij->i", bm, bm))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.round((am @ bm.T) / (an[:, None] * bn[None, :]), 6)
            bids = brows["id"].to_numpy()
            kk = min(k, cos.shape[1])
            best, bcos, av = [], [], []
            for i in range(cos.shape[0]):
                # (cosine desc, id asc) — lexsort's LAST key is primary
                order = np.lexsort((bids, -cos[i]))
                best.append(bids[order[0]])
                bcos.append(cos[i, order[0]])
                av.append(float(np.mean(cos[i, order[:kk]])))
            return pd.DataFrame(
                {
                    "id": arows["id"].to_numpy(),
                    "best": best,
                    "best_cos": bcos,
                    "avgk": av,
                }
            )

        return (
            aa.unionByName(bb)
            .groupBy("blk")
            .applyInPandas(
                kern, schema="id long, best long, best_cos double, avgk double"
            )
            .select(
                F.col("id").alias(out_id),
                F.col("best").alias(best_name),
                F.col("best_cos").alias(f"__cos_{out_id}"),
                F.col("avgk").alias(avg_name),
            )
        )

    s_tab = _side_stats(src, tgt, "src_id", "__best_tgt", "__as")
    t_tab = _side_stats(tgt, src, "tgt_id", "__best_src", "__at")
    mutual = s_tab.join(
        t_tab,
        (F.col("__best_tgt") == F.col("tgt_id"))
        & (F.col("__best_src") == F.col("src_id")),
    )
    return (
        mutual.select(
            "src_id",
            "tgt_id",
            F.col("__cos_src_id").alias("cosine_sim"),
            F.round(
                F.col("__cos_src_id")
                / ((F.col("__as") + F.col("__at")) / F.lit(2.0)),
                6,
            ).alias("margin"),
        )
        .filter(F.col("margin") >= F.lit(float(threshold)))
    )


def intrinsic_dimension(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int | None = None,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (public Facco et al. 2017,
    Scientific Reports): for each vector take the squared distances q₁,
    q₂ to its two nearest neighbours; μ = d₂/d₁ follows a Pareto law
    whose shape IS the intrinsic dimension, MLE ``ID = n / Σ ln μᵢ`` —
    the embedding-health audit that catches representation collapse (ID
    plummets) and noise blowup (ID → ambient dim) before any downstream
    metric moves.

    Exact duplicates (q₁ = 0) are excluded from the sum, per the
    published procedure. Squared distances are computed as
    ``‖a‖² + ‖b‖² − 2a·b`` and rounded to 9 dp BEFORE neighbour
    selection and the ratio — the cross-engine contract (numpy matmul
    reassociates sums; rounding absorbs the ~1e-13-relative noise, the
    cosine_pairs_exact precedent; 9 dp, not 6, because SQUARED
    nearest-neighbour distances live near zero and 6 dp would erase
    them — measured: it zeroed 36% of q₁ on a 300-point unit line). ``ln μ = ½ ln(q₂/q₁)`` so no square roots enter at all.
    Output: ONE row ``(n_points, n_used, id_twonn)``.

    Scale: the cosine_pairs_exact blocked pattern — rows hash into B
    blocks, the corpus replicates to each block (shuffle |c|·(B+1)), one
    numpy matmul per task emits ONE (q₁, q₂) row per vector; the final
    agg is a 1-row reduce. At real scale substitute ANN candidates
    (ivf_topk k=2) for the replicated side; the estimator is unchanged.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    B = blocks or max(4, int(spark.sparkContext.defaultParallelism ** 0.5) + 1)
    sel = corpus.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    a = sel.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    ).withColumn("role", F.lit(0))
    b = sel.withColumn(
        "blk", F.explode(F.array(*[F.lit(i) for i in range(B)]))
    ).withColumn("role", F.lit(1))

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        arows = pdf[pdf["role"] == 0]
        brows = pdf[pdf["role"] == 1]
        if arows.empty or len(brows) < 3:
            return pd.DataFrame({"q1": [], "q2": []})
        am = np.array(arows["v"].tolist(), dtype=np.float64)
        bm = np.array(brows["v"].tolist(), dtype=np.float64)
        an = np.einsum("ij,ij->i", am, am)
        bn = np.einsum("ij,ij->i", bm, bm)
        q = np.round(an[:, None] + bn[None, :] - 2.0 * (am @ bm.T), 9)
        # mask self-pairs, take the two smallest per row
        ids_a = arows["id"].to_numpy()
        ids_b = brows["id"].to_numpy()
        q[ids_a[:, None] == ids_b[None, :]] = np.inf
        part = np.partition(q, 1, axis=1)[:, :2]
        part.sort(axis=1)
        return pd.DataFrame({"q1": part[:, 0], "q2": part[:, 1]})

    nn = (
        a.unionByName(b)
        .groupBy("blk")
        .applyInPandas(kern, schema="q1 double, q2 double")
    )
    return nn.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum(F.when(F.col("q1") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_used"),
        F.when(
            F.sum(
                F.when(
                    F.col("q1") > 0,
                    F.lit(0.5) * F.log(F.col("q2") / F.col("q1")),
                ).otherwise(F.lit(0.0))
            )
            > 0,
            F.round(
                F.sum(F.when(F.col("q1") > 0, 1).otherwise(0)).cast("double")
                / F.sum(
                    F.when(
                        F.col("q1") > 0,
                        F.lit(0.5) * F.log(F.col("q2") / F.col("q1")),
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ),
        ).alias("id_twonn"),
    )


def geometric_median(
    embeddings: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    n_iter: int = 3,
    round_to: int = 6,
    eps: float = 1e-9,
) -> DataFrame:
    """Per-label GEOMETRIC median (Weiszfeld's algorithm, public 1937) —
    the robust centroid: minimizes Σ‖x − y‖ instead of Σ‖x − y‖², so a
    handful of outlier embeddings (mislabeled rows, corrupt vectors)
    barely move it where the mean chases them. ``n_iter`` fixed
    iterations from the mean; each step reweights by 1/max(d, eps).

    Cross-engine contract: distances use the dot-product decomposition
    ``d² = v·v − 2·v·y + y·y`` rounded to 9 dp, iterates round to
    ``round_to`` — the same unrolled-iteration replay discipline as
    k-means. Output in LONG form (label, dim, gmedian).

    Scale: one shuffle on the label key (the label_centroids surface);
    each group runs the fixed iteration count on the executor over its
    own n×d block. Label sizes bound per-task memory, as for every
    grouped-map kernel here.
    """
    import pandas as pd

    label_type = dict(embeddings.dtypes)[label_col]

    def gmed(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = m.shape[0]
        y = np.round(m.sum(axis=0) / n, round_to)
        vv = np.einsum("ij,ij->i", m, m)
        for _ in range(n_iter):
            d2 = vv - 2.0 * (m @ y) + float(y @ y)
            d = np.round(np.sqrt(np.maximum(d2, 0.0)), 9)
            w = 1.0 / np.maximum(d, eps)
            y = np.round((m * w[:, None]).sum(axis=0) / w.sum(), round_to)
        return pd.DataFrame(
            {
                "label": pdf[label_col].iloc[0],
                "dim": np.arange(m.shape[1], dtype=np.int32),
                "gmedian": y,
            }
        )

    return (
        embeddings.select(label_col, vec_col)
        .groupBy(label_col)
        .applyInPandas(gmed, schema=f"label {label_type}, dim int, gmedian double")
    )


def mmr_select(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    k: int = 5,
    lam: float = 0.7,
    pool: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection (public Carbonell & Goldstein
    1998) — the diversity-aware top-k every retrieval/data-selection
    stack needs: greedily pick the item maximizing ``λ·rel − (1−λ)·max
    cos-sim to the already-selected set``, so near-duplicates of an
    already-chosen item are demoted instead of filling the slate.

    Determinism discipline: relevance and every pairwise similarity are
    rounded to 9 dp BEFORE comparison (the k-means replay rule), ties
    break on ascending id, and the multiplier ``1−λ`` is computed as the
    same IEEE subtraction in both engines — so each greedy argmax is
    engine-stable. Step 1's score is ``λ·rel`` (empty selected set, no
    penalty term).

    Scale: ONE distributed relevance pass over the corpus feeds a
    (rel DESC, id) top-``pool`` cut (TakeOrdered — no global sort); then
    ONE distributed job materializes the pool×pool rounded
    similarity/score matrix (≤ ``pool²`` rows — every float in it
    produced by the SAME Spark expressions the selection compares), and
    the k greedy rounds run DRIVER-SIDE over those collected floats
    doing comparisons ONLY, never arithmetic — so the picks are
    bit-identical to the per-step Spark argmax this replaced while
    issuing 2 jobs instead of k+1 (VERDICT r7 #4). The sequential part
    is bounded by ``k × pool``, never by the corpus — the standard
    two-stage (retrieve-then-rerank) shape.

    Output: (step, id_col, rel, score) — the k selections in pick order.
    """
    from pyspark.sql import Row

    if k < 1 or not 0.0 <= lam <= 1.0 or pool < k:
        raise ValueError("need k >= 1, 0 <= lam <= 1, pool >= k")
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    rel = F.round(cosine(F.col(vec_col), qcol), 9)
    cand = (
        embeddings.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            rel.alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(pool)
        .persist()
    )
    mu = F.lit(1.0) - F.lit(lam)  # same IEEE subtraction as the oracle
    # The matrix job: for every ordered pool pair (a, b) the rounded
    # pairwise cosine AND the score a would take were b the argmax of
    # its picked-set similarities. The greedy max-sim over a picked SET
    # is always the max of individual rounded sims — one of these
    # precomputed values — so score(a | picked) = pair_score(a, argmax b)
    # with zero driver-side float arithmetic. Left join keeps 1-candidate
    # pools alive (jid null ⇒ step-1 score only). ≤pool rows per side ⇒
    # BroadcastNestedLoopJoin on a frame that never leaves the driver's
    # collect budget.
    sim = F.round(cosine(F.col("a.v"), F.col("b.v")), 9)
    rows = (
        cand.alias("a")
        .join(cand.alias("b"), F.col("a.id") != F.col("b.id"), "left")
        .select(
            F.col("a.id").alias("id"),
            F.col("a.rel").alias("rel"),
            F.round(F.lit(lam) * F.col("a.rel"), 9).alias("s1"),
            F.col("b.id").alias("jid"),
            sim.alias("sim"),
            F.round(F.lit(lam) * F.col("a.rel") - mu * sim, 9).alias(
                "pair_score"
            ),
        )
        .collect()
    )
    cand.unpersist()

    def desc_key(x):
        """Replay Spark's descending sort order on a double column:
        NaN is the LARGEST double, nulls sort LAST under DESC."""
        if x is None:
            return float("-inf")
        if x != x:  # NaN
            return float("inf")
        return x

    info: dict = {}
    sims: dict = {}
    pair_scores: dict = {}
    for r in rows:
        info[r["id"]] = (r["rel"], r["s1"])
        if r["jid"] is not None:
            sims[(r["id"], r["jid"])] = r["sim"]
            pair_scores[(r["id"], r["jid"])] = r["pair_score"]
    picked: list = []
    chosen: set = set()
    for step in range(1, k + 1):
        best = None
        for cid, (crel, s1) in info.items():
            if cid in chosen:
                continue
            if not picked:
                score = s1
            else:
                jstar = max(
                    (p["id"] for p in picked),
                    key=lambda j: desc_key(sims.get((cid, j))),
                )
                score = pair_scores.get((cid, jstar))
            # argmax (score DESC, id ASC) — comparisons only
            key = (desc_key(score), -cid)
            if best is None or key > best[0]:
                best = (key, cid, crel, score)
        if best is None:
            break
        picked.append({"step": step, "id": best[1], "rel": best[2],
                       "score": best[3]})
        chosen.add(best[1])
    return embeddings.sparkSession.createDataFrame(
        [
            Row(step=r["step"], **{id_col: r["id"]}, rel=float(r["rel"]),
                score=float(r["score"]))
            for r in picked
        ],
        schema=f"step int, {id_col} bigint, rel double, score double",
    )


def embedding_density(
    corpus: DataFrame,
    *,
    threshold: float = 0.35,
    min_pts: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int | None = None,
) -> DataFrame:
    """ε-neighborhood density report — the DBSCAN core-point primitive
    (public Ester et al. 1996) over cosine space: per vector, how many
    OTHER vectors sit at rounded cosine ≥ ``threshold``, plus the
    ``is_core`` flag (≥ ``min_pts`` neighbors). Dense regions are where
    semantic dedup will collapse mass and where a diffuse corpus hides
    mode collapse; isolated points (0 neighbors) are outlier candidates.

    Rides :func:`cosine_pairs_exact`'s distributed block-matmul kernel
    (each row shipped to exactly ``blocks`` tasks, vectorized numpy
    scoring, pairs materialized once) — the density pass on top is one
    explode + one id-keyed count + a left join back to the full vector
    set so zero-neighbor vectors keep their honest 0.

    Output: (id_col, n_neighbors, is_core), one row per input vector.

    Scale: identical envelope to the pair kernel (shuffle B·|corpus|,
    per-task 2·(n/B)·d·8 bytes); the count is on the surviving-pair
    table only. At 100 TB swap the kernel for the LSH-bucketed sibling
    and accept its recall contract — the report shape is unchanged.
    """
    pairs = cosine_pairs_exact(
        corpus,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        blocks=blocks,
    )
    touched = (
        pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    nodes = corpus.select(F.col(id_col).cast("long").alias("id"))
    return nodes.join(touched, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_neighbors"),
        (F.coalesce(F.col("n"), F.lit(0)) >= min_pts).alias("is_core"),
    )
