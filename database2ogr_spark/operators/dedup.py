"""Deduplication operators for the training-data pipeline surface.

Five families (BASELINE.json north star), all shuffle-conscious:

- exact: md5-of-normalized-text groupBy — one shuffle on a 128-bit key,
  map-side partial agg; survivor = min doc_id (deterministic).
- MinHash + LSH: shingle → signature (narrow) → explode bands → self-join on
  (band, band-hash) buckets — candidate generation never compares all pairs,
  which is the property that survives 100 TB. Band hash joins are equi-joins
  on high-cardinality keys → well-distributed shuffle; skew only if a band
  bucket is degenerate (near-identical corpus), which AQE skew-join splits.
- SimHash: 64-bit signature; candidates via 16-bit pigeonhole chunks (hamming
  ≤ 3 over 4 chunks ⇒ ≥ 1 chunk identical).
- n-gram Jaccard: exact pairwise similarity but only over pairs sharing a
  shingle (inverted-index join), not a cross join.
- embedding cosine near-dup: see operators/similarity.py — reuses the
  normalized-dot-product machinery.

All hashing is the md5-based ``stable_hash64`` so the DuckDB oracle can
reproduce results exactly.

Persist lifecycle: the pair operators persist small intermediates
(signature/gram tables) that both sides of their self-joins read, each one
kept because an interleaved A/B at sf0.1 measured it faster than the lazy
plan (SCALE.md "Persist hygiene"). Each operator exits through
``partitioning.finalize_lifecycle``: the pair table
(small by construction: thresholded matches, 3 scalars/row) is eagerly
``localCheckpoint``-ed inside the call, lineage is truncated, and every
operator-owned intermediate is unpersisted before returning, so the
session carries NO net cached tables afterwards. The checkpoint blocks
themselves (result-sized, not corpus-sized) are reference-managed: the
ContextCleaner drops them once the returned DataFrame is unreachable and a
JVM GC runs (Spark triggers one periodically via
``spark.cleaner.periodicGC.interval``) — no manual ``clearCache`` contract.
The plans of those eager jobs are read back with
``session.executed_plans``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.functions.hashing import hamming64, stable_hash64
from database2ogr_spark.functions.textstats import content_fingerprint
from database2ogr_spark.operators.partitioning import finalize_lifecycle, spread


def _guarded_gram_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int,
    max_df: int | None,
    hot_broadcast_limit: int,
) -> tuple[DataFrame, list[DataFrame]]:
    """Persisted distinct-gram table (id, shingle, n) for the inverted-index
    pair operators, with the hot-shingle ``max_df`` guard applied — the
    shared kernel behind :func:`ngram_jaccard_pairs` and
    :func:`containment_pairs`.

    A shingle occurring in d documents contributes d·(d-1)/2 join rows to a
    shingle-keyed self-join, so one boilerplate shingle with df=10⁶ is a
    5·10¹¹-row straggler bucket — the "full shuffle on a skewed key" scale
    killer. With ``max_df`` set, shingles whose document frequency exceeds
    it are dropped from the gram universe BEFORE the self-join and the
    per-doc set sizes ``n`` are recomputed over the filtered sets, so
    downstream scores are the exact similarity of the df-filtered shingle
    sets — deterministic, oracle-reproducible semantics with the
    within-bucket quadratic bounded by max_df² per shingle.

    Single kernel pass in the common case: the raw gram table (with
    per-doc counts ``n``, free in-kernel) is persisted once and feeds the
    df-count aggregation that finds offenders. When the guard finds
    NOTHING — the normal outcome for a safety-bound max_df on a healthy
    corpus — the pre-filter counts already ARE the post-filter counts, so
    the same persisted table is returned and the text is never
    re-shingled. Only a corpus that actually has hot shingles pays a
    second, masked kernel pass (vectorized searchsorted over a driver
    broadcast of the offender ids) that re-emits POST-FILTER ``n`` per
    row; beyond ``hot_broadcast_limit`` offenders (~8 B each), a
    distributed anti-join over the persisted table takes over (no
    broadcast hint — AQE picks the strategy, and the blocklist never
    reaches the driver). All three paths produce identical results —
    equivalence pinned in tests/test_dedup.py.

    Returns ``(sh, owned)``: the (possibly re-derived) persisted gram
    table and the list of persisted tables the caller must hand to
    :func:`finalize_lifecycle` for release.
    """
    from database2ogr_spark.functions.gramkernel import distinct_gram_table

    raw = (
        distinct_gram_table(spread(df), id_col, text_col, k_shingle, with_count=True)
        .withColumnRenamed("gram", "shingle")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if max_df is None:
        return raw, [raw]
    import numpy as np

    hot = (
        raw.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    # the offender COUNT (one agg over the persisted gram table) gates
    # which guard runs BEFORE anything reaches the driver — a blocklist
    # beyond the broadcast ceiling must never be collect()ed at all
    n_hot = hot.count()
    if n_hot == 0:
        return raw, [raw]
    if n_hot <= hot_broadcast_limit:  # ~40 MB ceiling at default
        hot_arr = np.sort(
            np.array([r["shingle"] for r in hot.collect()], dtype=np.int64)
        )
        hot_bc = df.sparkSession.sparkContext.broadcast(hot_arr)
        sh = (
            distinct_gram_table(
                spread(df), id_col, text_col, k_shingle,
                with_count=True, exclude=hot_bc,
            )
            .withColumnRenamed("gram", "shingle")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        raw.unpersist()
        return sh, [sh]
    # distributed fallback: the offender list stays a DataFrame and the
    # guard is an anti-join (AQE-chosen strategy); post-filter sizes
    # recomputed distributively
    filt = raw.drop("n").join(hot, "shingle", "left_anti")
    sizes = filt.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    sh = filt.join(sizes, "id").persist(StorageLevel.MEMORY_AND_DISK)
    return sh, [raw, sh]


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one surviving row id per normalized-content hash.

    Returns (fingerprint, survivor_id, dup_count). The caller keeps survivors
    via a semi-join on survivor_id; returning the summary (not the full rows)
    keeps the shuffle payload at ~48 bytes/row regardless of document size.
    """
    return (
        spread(df)
        .select(content_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_exact_survivors(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The deduplicated dataset itself (rows whose id is a group survivor)."""
    survivors = dedup_exact(df, id_col, text_col).select(F.col("survivor_id").alias(id_col))
    return df.join(survivors, on=id_col, how="left_semi")


def dedup_incremental(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Incremental exact dedup — the ingestion-time shape: an arriving batch
    is deduplicated against the historical fingerprint STORE (every fingerprint
    ever admitted) and within itself, without ever touching historical
    document bodies.

    Returns the novel rows (original schema + ``fp_col``) — one survivor
    (min id) per new fingerprint, rows whose fingerprint is already in
    ``seen_fingerprints`` dropped. Union the returned fingerprints into the
    store to advance it; same batch replayed → empty result (idempotent
    ingestion, the property that makes retries safe).

    Scale: the store is fingerprints only (~16 B/doc — 100 TB of corpus is
    ~a few hundred GB of store, a cheap bucketed table keyed on
    ``fp_col`` — see partitioning.write_bucketed; bucket both sides and the
    anti-join below is co-located and shuffle-free). The anti-join is left
    to AQE (a small store broadcasts, a big one sort-merges); the in-batch
    dedup is one groupBy on the 128-bit key, map-side combined.
    """
    fp = spread(new_docs).select(
        "*", content_fingerprint(text_col).alias(fp_col)
    )
    unseen = fp.join(
        seen_fingerprints.select(F.col(fp_col)), on=fp_col, how="left_anti"
    )
    winners = unseen.groupBy(fp_col).agg(F.min(F.col(id_col)).alias(id_col))
    return unseen.join(winners, on=[fp_col, id_col], how="left_semi")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures as a DataFrame (id, sig: array<bigint>).

    Computed by the Arrow kernel (``functions/gramkernel.py``): one
    ``mapInPandas`` pass, numpy arithmetic, zero shuffle. Each signature
    equals the in-row spec of ``functions/hashing.py`` (the min of
    ``minhash_member`` over ``shingle_structs_of(word_hash_structs(text))``,
    pinned in tests/test_gramkernel.py), so the DuckDB oracle replays it.
    """
    from database2ogr_spark.functions.gramkernel import minhash_signature_table

    return minhash_signature_table(
        spread(df), id_col, text_col, k_shingle, num_hashes
    )


def _banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, sig, band, bucket): one row per (doc, band); bucket = stable
    hash of the band's signature slice joined with ',' — a single bigint
    join key instead of an array key."""
    return sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        stable_hash64(
                            F.array_join(
                                F.transform(
                                    F.slice(
                                        F.col("sig"), b * rows_per_band + 1, rows_per_band
                                    ),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            ),
                            seed=97,
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """The LSH index rows (id, sig, band, bucket) for ``df`` — the STORE
    format of :func:`dedup_incremental_lsh`. At scale, write it as a table
    bucketed by (band, bucket) (partitioning.write_bucketed) so the
    ingestion probe join is co-located and shuffle-free."""
    assert num_hashes % bands == 0
    sigs = minhash_signatures(
        df, id_col, text_col, k_shingle=k_shingle, num_hashes=num_hashes
    )
    return _banded(sigs, bands, num_hashes // bands)


def dedup_incremental_lsh(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Ingestion-time NEAR-duplicate dedup against an LSH signature store —
    the fuzzy twin of :func:`dedup_incremental` (which catches only exact
    replays): an arriving batch is screened against every document ever
    admitted WITHOUT touching historical document bodies, using only their
    banded MinHash signatures (~``8·num_hashes`` B/doc + band rows).

    A batch doc is dropped when

    - any store row shares a band bucket and estimates ≥ ``threshold``
      (an exact replay collides with its own stored signature at 1.0, so
      replays are subsumed), or
    - a lower-id batch doc shares a bucket and estimates ≥ ``threshold``
      (deterministic min-id survivor within the batch, the same greedy
      rule as semantic_dedup).

    Returns the admitted rows (original schema). Advance the store by
    appending ``minhash_band_table(admitted)``; replaying the same batch
    then admits nothing (idempotent ingestion).

    Scale: both probes are equi-joins on (band, bucket) — high-cardinality
    hash keys; with the store bucketed by (band, bucket) the store probe
    is co-located and shuffle-free, and the batch side (today's data)
    is always the small side. No all-pairs anywhere.
    """
    assert num_hashes % bands == 0
    batch = minhash_band_table(
        new_docs, id_col, text_col,
        k_shingle=k_shingle, num_hashes=num_hashes, bands=bands,
    ).persist(StorageLevel.MEMORY_AND_DISK)

    def est(l: str, r: str):
        return F.size(
            F.filter(
                F.zip_with(F.col(f"{l}.sig"), F.col(f"{r}.sig"), lambda a, b: a == b),
                lambda m: m,
            )
        ).cast("double") / F.lit(float(num_hashes))

    hit_store = (
        batch.alias("b")
        .join(
            store.alias("s"),
            (F.col("b.band") == F.col("s.band"))
            & (F.col("b.bucket") == F.col("s.bucket")),
        )
        .filter(est("b", "s") >= threshold)
        .select(F.col("b.id").alias(id_col))
        .distinct()
    )
    hit_batch = (
        batch.alias("b")
        .join(
            batch.alias("a"),
            (F.col("b.band") == F.col("a.band"))
            & (F.col("b.bucket") == F.col("a.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(est("b", "a") >= threshold)
        .select(F.col("b.id").alias(id_col))
        .distinct()
    )
    # finalize the DEAD-ID set, not the admitted rows: the result carries
    # the batch's full document bodies (checkpointing those would copy the
    # corpus into block storage), while the id set is one scalar per
    # casualty — the anti-join below stays lazy over the caller's input
    dead = finalize_lifecycle(hit_store.union(hit_batch).distinct(), [batch])
    return new_docs.join(dead, on=id_col, how="left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash LSH, scored by signature overlap.

    rows_per_band = num_hashes / bands; a pair lands in a candidate bucket if
    any band of their signatures is identical. Estimated Jaccard = fraction of
    matching signature positions. Output: (id_a < id_b, est_jaccard ≥
    threshold).

    The signature table (~``8·num_hashes`` bytes/doc — tiny relative to the
    corpus) is persisted MEMORY_AND_DISK so the banding self-join reads one
    kernel pass; released per the module persist-lifecycle contract. The
    persist pays on the near-dup group entries built on this operator
    (``near_dup_groups``, ``split_corpus_grouped``), not measurably on the
    bare pair entry.
    """
    assert num_hashes % bands == 0

    sigs = minhash_signatures(
        df, id_col, text_col, k_shingle=k_shingle, num_hashes=num_hashes
    ).persist(StorageLevel.MEMORY_AND_DISK)
    banded = _banded(sigs, bands, num_hashes // bands)

    left = banded.alias("l")
    right = banded.alias("r")
    # similarity is computed and thresholded BEFORE the pair-dedup shuffle:
    # candidates that fail the estimate die map-side inside the join stage, so
    # dropDuplicates shuffles only true near-dup pairs (3 scalars each), not
    # every bucket collision with two signature arrays in tow — at high
    # collision rates (skewed corpora, many bands) that's the difference
    # between shuffling ~|matches| and ~|candidates| rows.
    est = F.size(
        F.filter(
            F.zip_with(F.col("l.sig"), F.col("r.sig"), lambda a, b: a == b),
            lambda m: m,
        )
    ).cast("double") / F.lit(float(num_hashes))
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
    return finalize_lifecycle(pairs, [sigs])


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 13,
) -> DataFrame:
    """Benchmark decontamination: drop corpus docs sharing ANY word k-gram
    with any benchmark doc (the standard 13-gram overlap rule used by
    large-corpus training pipelines).

    Both sides shingle through the Arrow gram kernel
    (``gramkernel.distinct_gram_table``: one md5 per word, integer rolling
    k-gram ids — no k-gram strings), so the match key is an 8-byte bigint.
    The benchmark gram set is tiny relative to the corpus (eval suites vs
    100 TB), so it always broadcasts and contamination testing is a
    map-side semi-join — the corpus is never shuffled at all.

    Docs with fewer than k words contribute one whole-doc gram (the shingle
    fallback): such a doc is only flagged when the benchmark contains the
    same fallback gram, i.e. an identical short text.

    Returns the surviving corpus rows (original schema).
    """
    from database2ogr_spark.functions.gramkernel import distinct_gram_table

    def grams(df: DataFrame) -> DataFrame:
        return distinct_gram_table(spread(df), id_col, text_col, k)

    bench_grams = grams(benchmark).select("gram").distinct()
    contaminated = (
        grams(corpus)
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return corpus.join(contaminated, on=id_col, how="left_anti")


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 13,
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> DataFrame:
    """Bloom-filter decontamination — the beyond-broadcast twin of
    :func:`decontaminate`.

    The exact operator broadcasts the benchmark gram SET (8 bytes/gram):
    right plan until the blocklist hits ~10^8 grams and the broadcast
    approaches the 8 GB limit. Here the benchmark compresses into an m-bit
    Bloom sketch instead — ``num_bits=2^23`` is 1 MiB regardless of gram
    count — and the corpus probes it map-side, never shuffling.

    Approximate one-sidedly: false NEGATIVES are impossible (every truly
    contaminated doc is dropped — decontamination errs safe by
    construction); false positives drop extra clean docs at rate
    ``~(1 - e^(-kn/m))^h`` — size ``num_bits`` ≥ ~10 bits/gram for <1%.

    Mechanics (all deterministic, retry-stable):
    - grams are the same 62-bit rolling-hash ids as :func:`decontaminate`;
    - two independent hashes per gram are computed JVM-side and combined
      Kirsch-Mitzenmacher style (``g_i = h1 + i*h2 mod m``) in vectorized
      numpy — the Python stage touches only two int64 columns per gram.
      The pair is the md5-based 60-bit ``stable_hash64`` (seeds 0/131),
      whose position arithmetic stays inside signed int64
      (h1 + 4·h2 < 2^63), so the DuckDB oracle replays the probe
      bit-for-bit;
    - each benchmark partition builds a local m-bit numpy bitmap in one
      ``mapInPandas`` pass; partition bitmaps OR-reduce via ``treeReduce``
      (depth 2 — the driver sees O(m), not O(partitions·m));
    - the final bitmap broadcasts and corpus grams probe it in one
      ``mapInPandas`` pass emitting contaminated ids (deduped per batch).

    Returns the surviving corpus rows (original schema).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from database2ogr_spark.functions.gramkernel import distinct_gram_table

    m = int(num_bits)
    n_hash = int(num_hashes)

    if benchmark.isEmpty():  # no blocklist → nothing to drop (and treeReduce
        return corpus  # would raise on the empty partition-bitmap RDD)

    def hashed_grams(df: DataFrame) -> DataFrame:
        gs = F.col("gram").cast("string")
        return distinct_gram_table(spread(df), id_col, text_col, k).select(
            "id",
            stable_hash64(gs).alias("h1"),
            stable_hash64(gs, seed=131).alias("h2"),
        )

    def positions(h1: "np.ndarray", h2: "np.ndarray") -> "np.ndarray":
        # (n, num_hashes) bit positions, uint64 wraparound arithmetic
        i = np.arange(n_hash, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)

    def build_bitmap(batches):
        bitmap = np.zeros(m // 8, dtype=np.uint8)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pos = positions(
                pdf["h1"].to_numpy().astype(np.int64).view(np.uint64),
                pdf["h2"].to_numpy().astype(np.int64).view(np.uint64),
            ).ravel()
            np.bitwise_or.at(bitmap, pos >> np.uint64(3), (1 << (pos & np.uint64(7))).astype(np.uint8))
        yield pd.DataFrame({"bm": [bitmap.tobytes()]})

    bm_schema = T.StructType([T.StructField("bm", T.BinaryType())])
    part_bitmaps = hashed_grams(benchmark).mapInPandas(build_bitmap, bm_schema)
    merged = part_bitmaps.rdd.map(lambda r: bytes(r["bm"])).treeReduce(
        lambda a, b: (
            np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)
        ).tobytes(),
        depth=2,
    )
    bloom_bc = corpus.sparkSession.sparkContext.broadcast(merged)

    def probe(batches):
        bitmap = np.frombuffer(bloom_bc.value, dtype=np.uint8)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pos = positions(
                pdf["h1"].to_numpy().astype(np.int64).view(np.uint64),
                pdf["h2"].to_numpy().astype(np.int64).view(np.uint64),
            )
            hit = (bitmap[pos >> np.uint64(3)] & (1 << (pos & np.uint64(7))).astype(np.uint8)) != 0
            ids = pdf["id"].to_numpy()[hit.all(axis=1)]
            yield pd.DataFrame({"id": np.unique(ids)})

    # id field keeps the corpus's own id dtype (string doc ids mis-joined
    # against a hardcoded LongType before)
    id_schema = f"id {dict(corpus.dtypes)[id_col]}"
    contaminated = (
        hashed_grams(corpus)
        .mapInPandas(probe, id_schema)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return corpus.join(contaminated, on=id_col, how="left_anti")


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash signatures as a DataFrame (id, sim: bigint).

    Computed by the Arrow kernel (``functions/gramkernel.simhash_table``):
    one shuffle-free ``mapInPandas`` pass, per-bit votes as one vectorized
    ``reduceat`` over the flat token-hash array. Each signature equals the
    in-row spec ``functions.hashing.simhash64(words(text))`` (bit j set iff
    more than half the token hashes have it; pinned in
    tests/test_gramkernel.py). Documents with no tokens get signature 0.
    """
    from database2ogr_spark.functions.gramkernel import simhash_table

    return simhash_table(spread(df), id_col, text_col)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ max_hamming — complete for any
    threshold.

    Candidate generation: split the 60-bit signature into ``max_hamming + 1``
    chunks; by pigeonhole, hamming ≤ max_hamming forces at least one chunk to
    be bit-identical — join on (chunk_index, chunk_value), then verify the
    exact distance. The chunk count MUST scale with the threshold (a fixed
    4-way split is only complete for hamming ≤ 3 and silently loses pairs
    above that); the cost trade is explicit: higher thresholds → narrower
    chunks → more bucket collisions → more candidates to verify.
    Signatures are persisted (8 B/doc) so the self-join reads them once;
    released per the module persist-lifecycle contract.
    """
    sig_bits = 60
    n_chunks = min(max_hamming + 1, sig_bits)
    # exact partition of the 60 bits (first `extra` chunks one bit wider) — a
    # chunk reaching past bit 60 would be all-zeros for every doc and its
    # bucket join a full cross product
    base, extra = divmod(sig_bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    sigs = simhash_signatures(df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    chunks = sigs.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("sim"), offsets[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sim", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))

    # hamming is verified BEFORE the pair-dedup shuffle: bucket collisions
    # that fail the distance test die map-side inside the join stage (narrow
    # chunks at high thresholds collide a lot — at sf0.1/max_hamming=10
    # that's ~3M candidates reduced to the true pairs before any shuffle)
    pairs = (
        chunks.alias("l")
        .join(
            chunks.alias("r"),
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.sim"), F.col("r.sim")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return finalize_lifecycle(pairs, [sigs])


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    hot_broadcast_limit: int = 5_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share ≥1 shingle.

    Inverted-index join: the distinct shingle ids of each document (Arrow
    kernel, :func:`_guarded_gram_table`), self-joined on shingle, shared
    count per pair, then |A∩B| / (|A| + |B| - |A∩B|). Never builds the
    full cross product; the gram table is Σ doc shingles (linear in
    corpus). Shingle identity is the 62-bit rolling hash of
    ``functions/hashing.shingle_ids_of`` — an 8-byte join key, no k-gram
    strings. Every gram row carries its document's distinct-gram count n
    (free in-kernel), so the |A|/|B| terms ride the self-join instead of
    needing a sizes aggregation plus two joins back onto the pairs.

    ``max_df`` is the hot-shingle guard the self-join needs at scale: a
    shingle occurring in d documents contributes d·(d-1)/2 join rows, so one
    stopword-ish shingle with df=10⁶ is a 5·10¹¹-row straggler bucket.
    With ``max_df`` set, shingles whose document frequency exceeds it are
    dropped from the gram universe BEFORE the self-join, and the |A|/|B|
    set sizes are recomputed over the filtered sets, so the result is the
    exact Jaccard of the df-filtered shingle sets — deterministic,
    oracle-reproducible semantics, with the within-bucket quadratic bounded
    by max_df² per shingle. The offender list (tiny by construction) is
    masked in-kernel via a driver broadcast up to ``hot_broadcast_limit``
    entries (~8 B each); beyond that, a distributed anti-join fallback with
    AQE-chosen strategy takes over (both equal the spec-computed pairs —
    pinned in tests/test_dedup.py).
    """
    sh, owned = _guarded_gram_table(
        df, id_col, text_col, k_shingle, max_df, hot_broadcast_limit
    )
    shared = (
        sh.alias("l")
        .join(
            sh.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min(F.col("l.n")).alias("n_a"),
            F.min(F.col("r.n")).alias("n_b"),
        )
    )
    pairs = (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return finalize_lifecycle(pairs, owned)


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 13,
    min_docs: int = 2,
    merge_gap: int | None = None,
) -> DataFrame:
    """Substring-level exact duplicate detection — the span-granular member
    of the dedup family (public Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", re-expressed over k-word windows):
    a k-word window whose rolling-hash id occurs in ``min_docs``+ documents
    marks a duplicated region; per document, duplicated windows closer than
    ``merge_gap`` positions (default: ``k_shingle``, i.e. token-overlapping
    or adjacent) merge into maximal spans.

    Output: (id_col, span_start, span_end, n_windows) — token positions,
    inclusive; ``span_end = last window start + k - 1``.

    Scale shape — crucially there is NO pair join anywhere: posting lists
    are *counted*, never self-joined, so cost is linear in total windows
    regardless of how hot a phrase is (the shape that lets this run where
    ngram_jaccard_pairs needs its max_df guard). Three linear shuffles:
    (1) the df count on the gram key over each (doc, gram) first
    occurrence, (2) the positions⋈duplicated-grams equi-join (AQE
    broadcasts the gram list when small), (3) the per-doc gaps-and-islands
    window on doc id. The position table comes from the Arrow kernel
    (``gramkernel.gram_position_table``: the md5 rolling-hash ids of the
    family at their window starts), so the DuckDB oracle replays spans
    exactly.
    """
    from database2ogr_spark.functions.gramkernel import gram_position_table

    gap = k_shingle if merge_gap is None else merge_gap
    # read by the df-count agg AND the join side — persist (released per
    # the module lifecycle contract); the kernel marks each (doc, gram)
    # first occurrence, so the df count filters instead of paying a
    # distinct shuffle
    pos_table = gram_position_table(spread(df), id_col, text_col, k_shingle).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per_doc_grams = pos_table.filter(F.col("first")).select("gram", "id")
    dup_grams = (
        per_doc_grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gram")
    )
    dup_pos = pos_table.join(dup_grams, "gram").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    islands = dup_pos.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(w) > gap, 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = (
        islands.groupBy("id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k_shingle - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(F.col("id").alias(id_col), "span_start", "span_end", "n_windows")
    )
    return finalize_lifecycle(spans, [pos_table])


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 13,
) -> DataFrame:
    """Per-document benchmark-overlap fraction: |doc grams ∩ benchmark
    grams| / |doc grams| over distinct word k-grams.

    The any-hit rule (:func:`decontaminate`) treats a 200k-token document
    with one unlucky shared 13-gram the same as a verbatim benchmark copy;
    large-corpus pipelines therefore grade contamination by OVERLAP SHARE
    and drop above a threshold (:func:`decontaminate_fraction`). This
    operator is the measurement half, usable on its own for contamination
    reports.

    Plan: the corpus gram table rides the same Arrow kernel as the exact
    rule, carrying per-doc distinct-gram counts in-kernel (``with_count`` —
    no sizes join); hits come from a broadcast LEFT SEMI against the
    benchmark gram set (8-byte ids), then ONE groupBy(id) counts hits.
    The corpus is never shuffled wide — only (id, n, hit) survive to the
    aggregate. Fraction is rounded to 6 dp for engine portability.

    Returns (id_col, n_grams, n_hits, frac) — one row per corpus doc,
    including zero-hit docs (frac 0.0).
    """
    from database2ogr_spark.functions.gramkernel import distinct_gram_table

    bench_grams = (
        distinct_gram_table(spread(benchmark), id_col, text_col, k)
        .select("gram")
        .distinct()
    )
    corpus_grams = distinct_gram_table(
        spread(corpus), id_col, text_col, k, with_count=True
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    # per-doc gram counts ride every gram row; min() recovers them without a
    # second kernel pass, and the left join keeps zero-hit docs
    sizes = corpus_grams.groupBy("id").agg(F.min("n").alias("n_grams"))
    return (
        sizes.join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_grams").cast("double"),
                6,
            ).alias("frac"),
        )
    )


def decontaminate_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 13,
    max_frac: float = 0.1,
) -> DataFrame:
    """Fraction-threshold decontamination: drop corpus docs whose distinct
    k-gram overlap with the benchmark exceeds ``max_frac`` of the doc's own
    grams. ``max_frac=0.0`` reproduces the any-hit rule exactly (any hit →
    frac > 0) — pinned in tests. Returns surviving rows, original schema.
    """
    flagged = (
        contamination_fraction(corpus, benchmark, id_col, text_col, k=k)
        .filter(F.col("frac") > max_frac)
        .select(id_col)
    )
    return corpus.join(flagged, on=id_col, how="left_anti")


def near_dup_survivors_by_priority(
    docs: DataFrame,
    priorities: dict[str, int],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    default_priority: int = 999,
    k_shingle: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    driver_threshold: int = 0,
) -> DataFrame:
    """Quality-aware dedup retention: one survivor per near-dup group,
    chosen by SOURCE PRIORITY first (lower rank wins — e.g. curated > web),
    then min id. Min-id-only survivor selection (``dedup_exact_survivors``)
    throws away the curated copy whenever a crawl duplicate happens to
    carry a smaller id; at mixture-building time the source label is the
    quality signal, so retention must respect it.

    Plan: near-dup groups from the graded LSH→CC chain, then ONE
    ``min_by`` aggregation per group over a zero-padded (priority, id)
    string key — portable composite-argmin (DuckDB ``arg_min`` rejects
    struct keys; both engines compare the same VARCHAR), and a semi-join
    back. No new shuffle shapes beyond the group chain itself.

    Key domain (round-4 advisor catch — ``lpad`` silently TRUNCATES
    overlong input, corrupting the sort): priorities must be ints in
    [0, 999999] (validated here, driver-side — they're plain Python
    values) and ids must be NONNEGATIVE integers; the id pad is 20 chars,
    wide enough for any nonnegative int64 (19 digits), so only negative
    ids — whose '-' would also break lexicographic order — are outside
    the domain.

    Returns the surviving rows (original schema).
    """
    for s, p in {**priorities, "<default>": default_priority}.items():
        if not (0 <= int(p) <= 999_999):
            raise ValueError(
                f"priority for {s!r} is {p}; must be an int in [0, 999999] "
                "(the composite sort key zero-pads priorities to 6 chars)"
            )
    from database2ogr_spark.operators.graph import near_dup_groups

    groups = near_dup_groups(
        docs, id_col, text_col, k_shingle=k_shingle,
        threshold=threshold, max_df=max_df,
        driver_threshold=driver_threshold,
    )
    pri = F.coalesce(
        *[
            F.when(F.col(source_col) == s, F.lit(p))
            for s, p in sorted(priorities.items())
        ],
        F.lit(default_priority),
    ) if priorities else F.lit(default_priority)
    key = F.concat(
        F.lpad(pri.cast("string"), 6, "0"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )
    tagged = docs.select(
        F.col(id_col).alias("_id"), key.alias("_k")
    ).join(groups, F.col("_id") == F.col(id_col)).select(
        "group_id", "_id", "_k"
    )
    winners = tagged.groupBy("group_id").agg(
        F.min_by("_id", "_k").alias("_winner")
    )
    return docs.join(
        winners.select(F.col("_winner").alias(id_col)), id_col, "leftsemi"
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (public Schleimer, Wilkerson &
    Aiken SIGMOD 2003 — the MOSS algorithm): from each sliding window of
    ``window`` consecutive k-gram hashes, select the MINIMUM hash
    (rightmost position on ties — the classic rule), then dedup. The
    guarantee that makes this the plagiarism-detection fingerprint: any
    shared run of at least ``window + k_shingle - 1`` words between two
    documents produces at least one SHARED selected fingerprint, while
    storing only ~2/(window+1) of the grams — position-robust local
    sampling that MinHash (global, set-level) cannot give.

    Gram space: the repo's standard 62-bit rolling shingle ids (Arrow
    gram kernel, short-doc fallback shingle included — a doc with fewer
    grams than ``window`` contributes its single window's minimum).

    Selection is expressed engine-portably: the (gram asc, pos desc)
    argmin inside each window is a MIN over a fixed-width string key
    ``lpad(gram,19) || lpad(MAXPOS − pos,10)`` — one sliding-frame window
    function, identical in DuckDB. Output: (id, fp, fp_pos), distinct.

    Scale: one Arrow pass for grams, then per-doc window functions on the
    id partition (the duplicate_spans shuffle/key); nothing corpus-global.
    """
    from database2ogr_spark.functions.gramkernel import gram_position_table

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    MAXP = 9_999_999_999
    g = gram_position_table(df, id_col, text_col, k_shingle)
    key = F.concat(
        F.lpad(F.col("gram").cast("string"), 19, "0"),
        F.lpad((F.lit(MAXP) - F.col("pos")).cast("string"), 10, "0"),
    )
    wseq = Window.partitionBy("id").orderBy("pos")
    wfrm = wseq.rowsBetween(Window.currentRow, window - 1)
    sel = (
        g.withColumn("__key", key)
        .withColumn("__min", F.min("__key").over(wfrm))
        .withColumn("__rn", F.row_number().over(wseq))
        .withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("id"))
        )
    )
    return (
        sel.filter(
            F.col("__rn")
            <= F.greatest(F.col("__n") - F.lit(window - 1), F.lit(1))
        )
        .select(
            "id",
            F.substring("__min", 1, 19).cast("bigint").alias("fp"),
            (F.lit(MAXP) - F.substring("__min", 20, 10).cast("bigint"))
            .cast("int")
            .alias("fp_pos"),
        )
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints —
    the MOSS match step: local, position-robust overlap detection that
    fires on a single shared passage (MinHash-LSH needs global set
    similarity; this needs one surviving window). ``max_df`` drops
    fingerprints hotter than it from the join (the C(df,2) fanout guard,
    same rationale as ngram_jaccard_pairs — boilerplate fingerprints are
    exactly the ones that don't indicate copying).

    Output: (id_a, id_b, n_shared), id_a < id_b — exact integer counts.

    Scale: fingerprints are ~2/(window+1) of the gram stream; the match
    is the standard inverted-index equi-join on the fingerprint key with
    the guard bounding per-key fanout; one (id_a, id_b) agg.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    fps = (
        winnow_fingerprints(
            df,
            id_col=id_col,
            text_col=text_col,
            k_shingle=k_shingle,
            window=window,
        )
        .select("id", "fp")
        .distinct()
    )
    cold = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__d")).filter(
        F.col("__d") <= max_df
    )
    kept = fps.join(cold.select("fp"), "fp")
    a = kept.select(F.col("fp"), F.col("id").alias("id_a"))
    b = kept.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k_shingle: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
    hot_broadcast_limit: int = 5_000_000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection — shingle overlap coefficient
    ``|A∩B| / min(|A|, |B|)`` (Szymkiewicz–Simpson; the symmetric
    max-of-both-directions variant of Broder's one-sided containment
    ``|A∩B|/|A|``, which it upper-bounds): a short
    document EMBEDDED verbatim inside a long one has containment ≈ 1
    while its symmetric Jaccard can sit far below every dedup
    threshold (|A∩B|/|A∪B| is diluted by the long doc's extra mass) —
    the quote-expansion / boilerplate-wrapper duplication the Jaccard
    family is structurally blind to. Both scores are reported so the
    'embedded but not near-identical' band (high containment, low
    jaccard) is directly filterable.

    Same inverted-index join, Arrow gram kernel, AND hot-shingle guard as
    :func:`ngram_jaccard_pairs` — both feed off :func:`_guarded_gram_table`:
    ``max_df`` bounds the within-bucket quadratic to max_df² exactly like
    its sibling, with identical guarded semantics — scores are the exact
    containment/Jaccard of the df-filtered shingle sets.

    Output: (id_a, id_b, n_a, n_b, shared, containment, jaccard) for
    pairs with containment ≥ ``threshold``; scores rounded 6.
    """
    sh, owned = _guarded_gram_table(
        df, id_col, text_col, k_shingle, max_df, hot_broadcast_limit
    )
    shared = (
        sh.alias("l")
        .join(
            sh.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.min(F.col("l.n")).alias("n_a"),
            F.min(F.col("r.n")).alias("n_b"),
        )
    )
    cont = F.round(
        F.col("shared").cast("double")
        / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
        6,
    )
    jac = F.round(
        F.col("shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        6,
    )
    pairs = (
        shared.withColumn("containment", cont)
        .withColumn("jaccard", jac)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_a", "n_b", "shared", "containment", "jaccard")
    )
    return finalize_lifecycle(pairs, owned)
