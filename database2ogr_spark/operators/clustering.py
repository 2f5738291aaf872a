"""Embedding clustering and semantic deduplication.

``kmeans_embeddings`` is distributed Lloyd's algorithm (spherical variant:
cosine assignment, mean update) expressed in Spark's execution model:

- **assignment** is one narrow ``mapInPandas`` pass per iteration — the
  centroid matrix (k×dim doubles, a few KB) rides a driver broadcast and
  each Arrow batch does a single vectorized matmul; the corpus never
  shuffles;
- **update** is partially aggregated IN the same kernel pass: each Arrow
  batch scatter-adds its vectors into a local k×dim sum matrix and emits
  only (cluster, position, partial_sum, partial_count) rows — at most
  k·dim per batch — which a JVM ``sum`` finishes. Neither the vectors nor
  the assignments ever cross Arrow back to the JVM during iterations; the
  shuffle payload is O(k·dim·batches), independent of corpus size, and
  the k·dim result is collected to the driver to become the next
  broadcast. At 100 TB each iteration is exactly one corpus scan plus a
  kilobyte-scale shuffle;
- the input projection is persisted across iterations, so n_iter
  iterations and the final assignment pass do one source read; each
  operator releases it through ``partitioning.finalize_lifecycle``
  (eager checkpoint of its result, then unpersist) before it returns.

Everything is deterministic and engine-portable, which is what makes the
DuckDB oracle possible: initial centroids are the k corpus vectors with
the lowest md5-based ``stable_hash64(vec_id, seed=29)`` (reproducible
without a trained model — the same seeding trick as similarity.ivf_topk);
centroid coordinates are rounded to 6 decimals after every update so
sum-order float jitter between engines cannot leak into the next
assignment; cosine similarities are rounded to 9 decimals before argmax
with ties broken toward the lowest cluster id; empty clusters keep their
previous centroid.

``semantic_dedup`` is SemDeDup-style pruning (Abbas et al. 2023, public
arXiv:2303.09540): cluster the embedding space, then inside each cluster
drop every vector that is cosine-similar above a threshold to a
lower-id vector. The within-cluster pair scan runs as a grouped
``applyInPandas`` matmul — quadratic only in the cluster size, which is
the point of clustering first: k scales with the corpus so clusters stay
bounded, and the all-pairs cross product never materializes globally.

Reference parity note: the reference engine has no clustering surface;
these operators extend the pipeline the same way the dedup/ANN family
does (SURVEY.md beyond-reference scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from database2ogr_spark.functions.hashing import stable_hash64
from database2ogr_spark.operators.partitioning import finalize_lifecycle

#: rounding applied to centroid coordinates between iterations and to
#: similarities before argmax — both mirrored verbatim in the DuckDB twin
CENTROID_DECIMALS = 6
SIM_DECIMALS = 9


def _fit_centroids(
    corpus: DataFrame,
    *,
    k: int,
    n_iter: int,
    id_col: str,
    vec_col: str,
    seed: int,
):
    """Run Lloyd iterations; returns (the persisted (vec_id, v) projection,
    final centroid matrix as a rounded k×dim numpy array, vec spark type
    string). The caller releases the projection."""
    import numpy as np

    vec_type = dict(corpus.dtypes)[vec_col]
    sel = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)

    seed_rows = (
        sel.withColumn("_h", stable_hash64(F.col("vec_id").cast("string"), seed=seed))
        .orderBy("_h")
        .limit(k)
        .select("v")
        .collect()
    )
    if not seed_rows:
        return sel, None, vec_type
    cents = np.round(
        np.array([r.v for r in seed_rows], dtype=np.float64), CENTROID_DECIMALS
    )
    n_clusters, dim = cents.shape
    sc = corpus.sparkSession.sparkContext

    def partial_sums(bc):
        def emit(batches):
            import pandas as pd

            c = bc.value
            cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(pdf["v"].tolist(), dtype=np.float64)
                mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
                a = np.round(mn @ cn.T, SIM_DECIMALS).argmax(axis=1)
                sums = np.zeros((n_clusters, dim))
                np.add.at(sums, a, m)
                counts = np.bincount(a, minlength=n_clusters)
                hit = np.flatnonzero(counts)
                yield pd.DataFrame(
                    {
                        "cluster_id": np.repeat(hit, dim).astype("int32"),
                        "pos": np.tile(np.arange(dim, dtype="int32"), len(hit)),
                        "s": sums[hit].reshape(-1),
                        "c": np.repeat(counts[hit], dim).astype("int64"),
                    }
                )

        return emit

    for _ in range(n_iter):
        bc = sc.broadcast(cents)
        rows = (
            sel.mapInPandas(
                partial_sums(bc), schema="cluster_id int, pos int, s double, c long"
            )
            .groupBy("cluster_id", "pos")
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .collect()
        )
        nxt = cents.copy()  # empty clusters keep their previous centroid
        for r in rows:
            nxt[r.cluster_id, r.pos] = round(r.s / r.c, CENTROID_DECIMALS)
        cents = nxt
    return sel, cents, vec_type


def kmeans_embeddings(
    corpus: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
) -> DataFrame:
    """Cluster an embedding column with ``n_iter`` Lloyd iterations.

    Output: (vec_id, cluster_id, cluster_size) — the final assignment plus
    the member count of the assigned cluster. Sizes come from a map-side
    partial ``groupBy`` (at most k rows per partition enter the shuffle)
    broadcast-joined back onto the assignment — never a window over k
    partitions, which would funnel the corpus through k reducers at scale.
    """
    import numpy as np  # noqa: F401  (assigner closures require numpy)

    sel, cents, vec_type = _fit_centroids(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, seed=seed
    )
    if cents is None:
        sel.unpersist()
        return corpus.sparkSession.createDataFrame(
            [], "vec_id long, cluster_id int, cluster_size long"
        )
    assigned = _assign_final(sel, cents, vec_type, with_vec=False)
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = assigned.join(F.broadcast(sizes), "cluster_id").select(
        "vec_id", "cluster_id", "cluster_size"
    )
    return finalize_lifecycle(out, [sel])


def _assign_final(
    sel: DataFrame, cents, vec_type: str, *, with_vec: bool = False
) -> DataFrame:
    """Assignment pass; ``with_vec`` re-emits the vector column (needed only
    when a downstream per-cluster kernel consumes it — otherwise the Arrow
    return payload is just (vec_id, cluster_id))."""
    import numpy as np

    bc = sel.sparkSession.sparkContext.broadcast(cents)

    def assign(batches):
        import pandas as pd

        c = bc.value
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["v"].tolist(), dtype=np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = np.round(mn @ cn.T, SIM_DECIMALS)
            cols = {"vec_id": pdf["vec_id"]}
            if with_vec:
                cols["v"] = pdf["v"]
            out = pd.DataFrame(cols)
            out["cluster_id"] = sims.argmax(axis=1).astype("int32")
            yield out

    schema = (
        f"vec_id long, v {vec_type}, cluster_id int"
        if with_vec
        else "vec_id long, cluster_id int"
    )
    return sel.mapInPandas(assign, schema=schema)


def semantic_dedup(
    corpus: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 3,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
) -> DataFrame:
    """SemDeDup: drop every vector whose cosine similarity (rounded to 9
    decimals) to a LOWER-id vector in the same k-means cluster is
    ``>= threshold``; the lowest id of each semantic duplicate set always
    survives.

    Output: surviving (vec_id, cluster_id) rows. The pair scan is grouped
    per cluster (``applyInPandas`` matmul), so the quadratic term is
    bounded by the largest cluster — at 100 TB, k grows with the corpus to
    keep clusters at ~10⁴-10⁵ members and the per-group matmul in
    executor memory, exactly the SemDeDup deployment shape.
    """
    import numpy as np  # noqa: F401

    sel, cents, vec_type = _fit_centroids(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, seed=seed
    )
    if cents is None:
        sel.unpersist()
        return corpus.sparkSession.createDataFrame([], "vec_id long, cluster_id int")
    assigned = _assign_final(sel, cents, vec_type, with_vec=True)

    def prune(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = np.array(pdf["v"].tolist(), dtype=np.float64)
        mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = np.round(mn @ mn.T, SIM_DECIMALS)
        # strict lower triangle: sims[j, i] for i < j → j is a duplicate
        dup = (np.tril(sims >= threshold, -1)).any(axis=1)
        keep = pdf.loc[~dup, ["vec_id", "cluster_id"]]
        return pd.DataFrame(
            {"vec_id": keep["vec_id"], "cluster_id": keep["cluster_id"]}
        )

    out = assigned.groupBy("cluster_id").applyInPandas(
        prune, schema="vec_id long, cluster_id int"
    )
    return finalize_lifecycle(out, [sel])


def davies_bouldin(
    corpus: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
) -> DataFrame:
    """Davies–Bouldin index for the k-means clustering (public Davies &
    Bouldin 1979) — the internal cluster-quality report that says whether
    ``k`` was a sane choice BEFORE anything downstream consumes the
    clusters (SemDeDup, IVF lists): mean over clusters of the worst
    ratio ``(s_i + s_j) / d(c_i, c_j)`` — lower is better-separated.
    Distances are cosine distances (1 − cos), matching the assignment
    metric; all cosines rounded to SIM_DECIMALS exactly as the
    assignment rounds them, so the DuckDB twin replays bit-for-bit.

    Output: ONE row (k_used, db_index) — k_used counts NON-EMPTY
    clusters (empty clusters have no scatter and are excluded, as in the
    original formulation).

    Scale: the fit is :func:`kmeans_embeddings`'s (corpus-size-
    independent updates); per-cluster scatter is one partial-agg'd
    k-key aggregation over the assignment pass; centroid pair distances
    are k² driver-side arithmetic on the (already driver-resident)
    k×dim centroid matrix — the standard k-row pattern.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    spark = corpus.sparkSession
    sel, cents, vec_type = _fit_centroids(
        corpus, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col, seed=seed
    )
    if cents is None:
        sel.unpersist()
        return spark.createDataFrame([], "k_used bigint, db_index double")
    bc = spark.sparkContext.broadcast(cents)

    def assign_sim(batches):
        import pandas as pd

        c = bc.value
        cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(pdf["v"].tolist(), dtype=np.float64)
            mn = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-12
            )
            sims = np.round(mn @ cn.T, SIM_DECIMALS)
            cid = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "cluster_id": cid.astype("int32"),
                    "sim": sims[np.arange(len(cid)), cid],
                }
            )

    per = sel.mapInPandas(assign_sim, "cluster_id int, sim double")
    scatter = per.groupBy("cluster_id").agg(
        F.round(F.avg(F.lit(1.0) - F.col("sim")), SIM_DECIMALS).alias("s")
    )
    cn = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    dm = 1.0 - np.round(cn @ cn.T, SIM_DECIMALS)
    pair_rows = [
        (int(i), int(j), float(dm[i, j]))
        for i in range(len(cents))
        for j in range(len(cents))
        if i != j
    ]
    pairs = spark.createDataFrame(pair_rows, "i int, j int, d double")
    ratios = (
        pairs.join(
            scatter.select(F.col("cluster_id").alias("i"), F.col("s").alias("si")),
            "i",
        )
        .join(
            scatter.select(F.col("cluster_id").alias("j"), F.col("s").alias("sj")),
            "j",
        )
        .groupBy("i")
        .agg(
            F.max(
                F.round(
                    (F.col("si") + F.col("sj"))
                    / F.greatest(F.col("d"), F.lit(1e-12)),
                    SIM_DECIMALS,
                )
            ).alias("r")
        )
    )
    out = ratios.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.round(F.avg("r"), 6).alias("db_index"),
    )
    return finalize_lifecycle(out, [sel])
