"""Arrow-vectorized gram kernel: the execution tier of the word-hash /
shingle machinery specified in ``functions/hashing.py``.

Same math, different execution tier. Every value produced here is
bit-identical to the Column-expression specs (one md5 per word →
two 31-bit hashes from disjoint digest halves → rolling k-gram Horner hashes
mod 2^31-1 → 62-bit gram ids / MinHash family members / SimHash votes), so
the DuckDB oracle contracts hold unchanged. What changes is *where* the
arithmetic runs: Spark's higher-order functions (``transform``/``aggregate``)
are CodegenFallback — every element op is an interpreted expression-tree walk
— while this kernel moves the token stream through ``mapInPandas`` once and
does the arithmetic in numpy over flat arrays (measured ~3-5x on the gram
family at sf0.1, and the gap widens with document length).

Scale shape: the kernel is a narrow per-partition map — no shuffle, no
driver involvement, Arrow-batched both ways. Per batch, each *unique* word
is md5-hashed once (vocabulary ≪ token count; an LRU-ish module cache
carries the vocabulary across batches within a worker), and all rolling /
signature / vote arithmetic is vectorized over a single flattened
token-hash array with document offsets, so per-token Python cost is
amortized to near zero.

The expression specs in ``functions/hashing.py`` stay as the readable
reference: tests/test_gramkernel.py compares every table here with them
in-row. The gram operators (``operators/dedup.py``,
``operators/repetition.py``) run only this kernel.

Reference parity: the reference has no text machinery at all (it is a
geospatial exporter, `src/from-ground-up.js`); this belongs to the
beyond-reference training-data surface (BASELINE.json north star).
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database2ogr_spark.functions.hashing import (
    MINHASH_P as _P,
    _ROLL_B1,
    _ROLL_B2,
    minhash_coeffs,
)

#: Java's ``\s`` is ASCII-only — match it exactly (Python's ``\s`` would also
#: eat U+00A0 etc. and diverge from the JVM tokenization).
_WS = re.compile(r"[ \t\n\x0b\f\r]+")

#: word → (60-bit md5 prefix, 60-bit md5 suffix) cache, shared across batches
#: within a Python worker. Bounded: cleared when it exceeds ~1M entries.
_WORD_CACHE: dict[str, tuple[int, int]] = {}
_WORD_CACHE_MAX = 1 << 20


def _hash_word(w: str) -> tuple[int, int]:
    hx = hashlib.md5(w.encode("utf-8")).hexdigest()
    # mirrors stable_hash64 / word_hash_structs: 15 hex chars from offset 0
    # (Spark substring(...,1,15)) and offset 16 (substring(...,17,15))
    return int(hx[0:15], 16), int(hx[16:31], 16)


def _tokenize_and_hash(texts: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Flatten a batch of texts into token-hash arrays.

    Returns ``(s60, h1, h2, offsets)`` — ``s60`` the raw 60-bit word hash
    (SimHash tier), ``h1``/``h2`` the mod-P halves (shingle tier), and
    ``offsets`` of length ``len(texts)+1`` delimiting each document's span.
    """
    if len(_WORD_CACHE) > _WORD_CACHE_MAX:
        _WORD_CACHE.clear()
    flat_a: list[int] = []
    flat_b: list[int] = []
    offsets = np.empty(len(texts) + 1, dtype=np.int64)
    offsets[0] = 0
    cache = _WORD_CACHE
    for i, t in enumerate(texts):
        if t:
            for w in _WS.sub(" ", t.lower()).split(" "):
                if not w:
                    continue
                hw = cache.get(w)
                if hw is None:
                    hw = _hash_word(w)
                    cache[w] = hw
                flat_a.append(hw[0])
                flat_b.append(hw[1])
        offsets[i + 1] = len(flat_a)
    s60 = np.array(flat_a, dtype=np.int64)
    hb = np.array(flat_b, dtype=np.int64)
    return s60, s60 % _P, hb % _P, offsets


def _roll_chain(h: np.ndarray, m: int, k: int, base: int) -> np.ndarray:
    """Horner rolling hash of every length-k window start in the flat array
    (windows crossing document boundaries are computed too — callers slice
    valid spans per document)."""
    acc = h[:m].copy()
    for j in range(1, k):
        acc *= base
        acc += h[j : j + m]
        acc %= _P
    return acc


def _doc_grams(
    h1: np.ndarray, h2: np.ndarray, offsets: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-document k-gram chains with the <k-words whole-doc fallback.

    Returns ``(g1, g2, gram_offsets)``: flat per-doc gram hash chains and
    offsets (every document contributes ≥1 gram — the fallback — matching
    ``shingle_structs_of``; an empty document's fallback is (0, 0)).
    """
    n_docs = len(offsets) - 1
    total = len(h1)
    m = max(total - k + 1, 0)
    r1 = _roll_chain(h1, m, k, _ROLL_B1) if m else np.empty(0, dtype=np.int64)
    r2 = _roll_chain(h2, m, k, _ROLL_B2) if m else np.empty(0, dtype=np.int64)

    parts1: list[np.ndarray] = []
    parts2: list[np.ndarray] = []
    gram_offsets = np.empty(n_docs + 1, dtype=np.int64)
    gram_offsets[0] = 0
    for d in range(n_docs):
        lo, hi = offsets[d], offsets[d + 1]
        n = hi - lo
        if n >= k:
            parts1.append(r1[lo : lo + n - k + 1])
            parts2.append(r2[lo : lo + n - k + 1])
            gram_offsets[d + 1] = gram_offsets[d] + n - k + 1
        else:
            a = b = 0
            for i in range(lo, hi):
                a = (a * _ROLL_B1 + int(h1[i])) % _P
                b = (b * _ROLL_B2 + int(h2[i])) % _P
            parts1.append(np.full(1, a, dtype=np.int64))
            parts2.append(np.full(1, b, dtype=np.int64))
            gram_offsets[d + 1] = gram_offsets[d] + 1
    g1 = np.concatenate(parts1) if parts1 else np.empty(0, dtype=np.int64)
    g2 = np.concatenate(parts2) if parts2 else np.empty(0, dtype=np.int64)
    return g1, g2, gram_offsets


def _gram_ids(g1: np.ndarray, g2: np.ndarray) -> np.ndarray:
    """62-bit combined ids ``s1·2^31 + s2`` (shingle_ids_of)."""
    return g1 * np.int64(1 << 31) + g2


# ---------------------------------------------------------------------------
# DataFrame-level kernels


def gram_position_table(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, gram): every k-gram id at its 0-based window-start
    position — the position-carrying (non-distinct) twin of
    ``distinct_gram_table``, feeding span-level dedup
    (operators/dedup.duplicate_spans). Kernel twin of
    ``posexplode(shingle_ids_of(shingle_structs_of(word_hash_structs(text),
    k)))`` — identical ids in identical order.
    """
    id_type = dict(df.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _s60, h1, h2, offsets = _tokenize_and_hash(pdf[text_col])
            g1, g2, go = _doc_grams(h1, h2, offsets, k)
            ids = _gram_ids(g1, g2)
            counts = np.diff(go)
            doc_ids = np.repeat(pdf[id_col].to_numpy(), counts)
            out = pd.DataFrame(
                {
                    "id": doc_ids,
                    "pos": (
                        np.arange(len(ids), dtype=np.int64)
                        - np.repeat(go[:-1], counts)
                    ).astype(np.int32),
                    "gram": ids,
                }
            )
            # first occurrence of each (doc, gram) — free here, saves the
            # consumer a whole distinct shuffle when counting document
            # frequencies (duplicate_spans)
            out["first"] = ~out.duplicated(["id", "gram"]).to_numpy()
            yield out

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"id {id_type}, pos int, gram bigint, first boolean"
    )


def distinct_gram_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    *,
    with_count: bool = False,
    exclude=None,
) -> DataFrame:
    """(id, gram[, n]) rows: each document's DISTINCT 62-bit k-gram ids,
    exploded; with ``with_count`` every row also carries the document's
    distinct-gram count ``n`` (known for free inside the kernel — saves the
    consumer a per-doc aggregation plus its joins; see ngram Jaccard).

    ``exclude`` (a ``SparkContext.broadcast`` of a SORTED int64 numpy array)
    drops the listed gram ids IN-KERNEL before the distinct count is taken:
    the hot-shingle guard of the Jaccard self-join becomes a vectorized
    ``searchsorted`` mask instead of a broadcast anti-join plus a sizes
    re-aggregation plus a join — ``n`` is the post-filter set size, so the
    downstream Jaccard is the exact similarity of the df-filtered sets, and
    a document whose every gram is excluded emits no rows (it cannot pair).

    Kernel twin of ``explode(array_distinct(shingle_ids_of(
    shingle_structs_of(word_hash_structs(text), k))))`` — the distinct runs
    in numpy per document, so only distinct grams cross the Arrow boundary.
    """
    id_type = dict(df.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ex = None if exclude is None else exclude.value
        for pdf in batches:
            _s60, h1, h2, offsets = _tokenize_and_hash(pdf[text_col])
            g1, g2, go = _doc_grams(h1, h2, offsets, k)
            ids = _gram_ids(g1, g2)
            out_ids: list[np.ndarray] = []
            out_grams: list[np.ndarray] = []
            id_vals = pdf[id_col].to_numpy()
            for d in range(len(go) - 1):
                u = np.unique(ids[go[d] : go[d + 1]])
                if ex is not None and len(ex) and len(u):
                    pos = np.searchsorted(ex, u)
                    pos_c = np.minimum(pos, len(ex) - 1)
                    u = u[ex[pos_c] != u]
                    if not len(u):
                        continue
                out_grams.append(u)
                out_ids.append(np.full(len(u), id_vals[d]))
            cols = {
                "id": np.concatenate(out_ids) if out_ids else np.empty(0, dtype=np.int64),
                "gram": np.concatenate(out_grams) if out_grams else np.empty(0, dtype=np.int64),
            }
            if with_count:
                cols["n"] = np.repeat(
                    np.array([len(u) for u in out_grams], dtype=np.int64),
                    [len(u) for u in out_grams],
                ) if out_grams else np.empty(0, dtype=np.int64)
            yield pd.DataFrame(cols)

    schema = f"id {id_type}, gram bigint" + (", n bigint" if with_count else "")
    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def minhash_signature_table(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int
) -> DataFrame:
    """(id, sig array<bigint>) — the kernel behind
    ``operators/dedup.minhash_signatures``: per document, the min of each
    ``hashing.minhash_member`` over its ``shingle_structs_of`` chains."""
    id_type = dict(df.dtypes)[id_col]
    coeffs = minhash_coeffs(num_hashes)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _s60, h1, h2, offsets = _tokenize_and_hash(pdf[text_col])
            g1, g2, go = _doc_grams(h1, h2, offsets, k)
            starts = go[:-1]
            sigs = np.empty((len(starts), num_hashes), dtype=np.int64)
            for m, (a, b, c) in enumerate(coeffs):
                v = (a * g1 + b * g2 + c) % _P
                # every doc has ≥1 gram (fallback) → segments are non-empty
                sigs[:, m] = np.minimum.reduceat(v, starts) if len(v) else 0
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "sig": list(sigs)}
            )

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"id {id_type}, sig array<bigint>"
    )


def repetition_counts_table(
    df: DataFrame, id_col: str, text_col: str, top_n: int
) -> DataFrame:
    """Per-document repetition COUNTS in one shuffle-free pass:

    (id, n_tokens, nd_tokens, n_bigrams, nd_bigrams, top_ngram_count,
    total_ngrams). The fraction/rounding arithmetic stays in Column
    expressions (``operators/repetition.py``), the same arithmetic the
    DuckDB oracle replays. The most-frequent-gram count is a per-document
    statistic, so no shuffle is needed at all.
    """
    id_type = dict(df.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _s60, h1, h2, offsets = _tokenize_and_hash(pdf[text_col])
            word_ids = _gram_ids(h1, h2)
            bg1, bg2, bgo = _doc_grams(h1, h2, offsets, 2)
            bigram_ids = _gram_ids(bg1, bg2)
            tg1, tg2, tgo = _doc_grams(h1, h2, offsets, top_n)
            top_ids = _gram_ids(tg1, tg2)
            n_docs = len(offsets) - 1
            out = {
                "n_tokens": np.empty(n_docs, dtype=np.int64),
                "nd_tokens": np.empty(n_docs, dtype=np.int64),
                "n_bigrams": np.empty(n_docs, dtype=np.int64),
                "nd_bigrams": np.empty(n_docs, dtype=np.int64),
                "top_ngram_count": np.empty(n_docs, dtype=np.int64),
                "total_ngrams": np.empty(n_docs, dtype=np.int64),
            }
            for d in range(n_docs):
                n = offsets[d + 1] - offsets[d]
                out["n_tokens"][d] = n
                out["nd_tokens"][d] = len(
                    np.unique(word_ids[offsets[d] : offsets[d + 1]])
                ) if n else 0
                if n >= 2:
                    seg = bigram_ids[bgo[d] : bgo[d + 1]]
                    out["n_bigrams"][d] = len(seg)
                    out["nd_bigrams"][d] = len(np.unique(seg))
                else:
                    out["n_bigrams"][d] = 0
                    out["nd_bigrams"][d] = 0
                if n >= top_n:
                    seg = top_ids[tgo[d] : tgo[d + 1]]
                    _u, counts = np.unique(seg, return_counts=True)
                    out["top_ngram_count"][d] = counts.max()
                    out["total_ngrams"][d] = len(seg)
                else:
                    out["top_ngram_count"][d] = 0
                    out["total_ngrams"][d] = 0
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), **out})

    return df.select(id_col, text_col).mapInPandas(
        gen,
        schema=(
            f"id {id_type}, n_tokens bigint, nd_tokens bigint, "
            "n_bigrams bigint, nd_bigrams bigint, "
            "top_ngram_count bigint, total_ngrams bigint"
        ),
    )


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sim) — the kernel behind ``operators/dedup.simhash_signatures``
    and the value of ``hashing.simhash64(words(text))``: 60-bit SimHash, bit
    j set iff the majority of token hashes have bit j set (strictly:
    2·popcount_j > n). Empty documents → 0."""
    id_type = dict(df.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            s60, _h1, _h2, offsets = _tokenize_and_hash(pdf[text_col])
            n_docs = len(offsets) - 1
            sims = np.zeros(n_docs, dtype=np.int64)
            if len(s60):
                counts = np.diff(offsets)
                nonempty = np.nonzero(counts)[0]
                starts = offsets[nonempty]
                half = counts[nonempty]  # majority means 2·popcount > n
                # one bit at a time: a W×60 bit matrix would allocate
                # ~500 bytes/token per batch (measured GC collapse at 50k
                # docs); per-bit the working set is one W-length vector
                for j in range(60):
                    pop = np.add.reduceat((s60 >> j) & 1, starts)
                    sims[nonempty] |= ((2 * pop) > half).astype(np.int64) << j
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(), "sim": sims})

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"id {id_type}, sim bigint"
    )
