"""Deterministic, cross-engine-stable hashing primitives for dedup operators.

``stable_hash64`` is an md5-based 60-bit hash, bit-for-bit reproducible in
any engine with md5 (the DuckDB oracle uses
``('0x'||substr(md5(..),1,15))::bigint``), so correctness checks are exact.
It runs JVM-side and is codegen-friendly.

Shingling / MinHash / SimHash are built purely from higher-order functions on
these hashes — no UDFs, no shuffle until the caller groups/joins. The gram
operators run the Arrow kernel of ``functions/gramkernel.py``; these
expressions are its readable spec, which tests/test_gramkernel.py compares
it with in-row.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def stable_hash64(col: Column | str, seed: int = 0) -> Column:
    """md5-based 60-bit nonnegative hash, identical across engines.

    15 hex chars = 60 bits, always < 2^63 so the bigint cast never overflows
    (16 chars could). ``seed`` is prepended so independent hash families for
    MinHash come from the same primitive.

    The input is cast to string explicitly: ``md5`` accepts only
    string/binary, so a numeric column used to analyze-fail at seed=0
    while working at seed!=0 (where ``concat`` coerced it) — same digest
    either way for every type whose string form ``concat`` would produce,
    which is all of them.
    """
    s = _c(col).cast("string")
    payload = F.concat(F.lit(f"{seed}\x1f"), s) if seed else s
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("bigint")


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for fingerprinting: lowercase, collapse all
    whitespace runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def words(col: Column | str) -> Column:
    """Whitespace tokenization of normalized text → array<string>."""
    w = F.split(normalize_text(col), " ")
    return F.filter(w, lambda x: x != "")


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word k-grams (``', '``-free, space-joined) → array<string>.

    A doc with fewer than k words yields a single shingle of the whole text
    (so short docs still participate in MinHash rather than vanishing).
    """
    ws = words(col)
    n = F.size(ws)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(ws, i, k), " "),
    )
    return F.when(n >= k, grams).otherwise(F.array(F.array_join(ws, " ")))


#: Mersenne prime 2^31 - 1 — the modulus of the whole shingle/MinHash
#: arithmetic family. All intermediates stay < 2^52, far inside signed-bigint
#: range, so the expressions are safe under ANSI overflow checking in Spark
#: AND reproduce bit-for-bit in DuckDB (the oracle runs the same arithmetic).
MINHASH_P = 2147483647
#: rolling-hash bases for the two independent shingle-hash chains (< 2^20 so
#: ``acc * B`` stays < 2^51)
_ROLL_B1, _ROLL_B2 = 1000003, 1000033


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic affine-family coefficients ``(a, b, c)`` with
    ``a, b < 2^20`` (overflow-safe products) shared by the Spark operators and
    the DuckDB oracle SQL generator."""
    import random

    rng = random.Random(0xD1CE)
    return [
        (rng.randrange(1, 1 << 20), rng.randrange(1, 1 << 20), rng.randrange(MINHASH_P))
        for _ in range(num_hashes)
    ]


def word_hash_structs(col: Column | str) -> Column:
    """array<struct<h1, h2>>: each word hashed ONCE (one md5), yielding two
    independent 31-bit hashes from disjoint digest halves.

    This is the only crypto hashing in the shingle/MinHash path — everything
    downstream (k-gram identity, the whole MinHash family) is integer
    arithmetic on these. Hashing words instead of materialized k-gram strings
    cuts the hot path ~4x: the k-gram transform+slice+array_join alone costs
    more than all of this pipeline (measured at sf0.1).
    """
    def wh(w: Column, lo: int) -> Column:
        return F.conv(F.substring(F.md5(w), lo, 15), 16, 10).cast("bigint") % MINHASH_P

    return F.transform(
        words(col), lambda w: F.struct(wh(w, 1).alias("h1"), wh(w, 17).alias("h2"))
    )


def shingle_structs_of(wh: Column, k: int = 3) -> Column:
    """array<struct<s1, s2>> of order-sensitive k-word rolling hashes mod
    ``MINHASH_P`` (two independent chains, bases ``_ROLL_B1``/``_ROLL_B2``),
    from an ALREADY-STAGED :func:`word_hash_structs` column.

    ``wh`` MUST be a plain column reference staged in its own projection, not
    an inline ``word_hash_structs(...)`` expression: the rolling hash reads
    ``wh`` via ``element_at`` inside per-element lambdas, and an inline
    expression there is re-evaluated per element — O(words·shingles) md5
    calls per document instead of O(words). Measured 16s vs 1.7s at sf0.1
    (and far worse on long docs); the projection boundary is load-bearing
    (Catalyst's CollapseProject keeps it because ``wh`` is non-cheap and
    multiply-referenced).

    Same fallback semantics as :func:`shingles`: a doc with fewer than k words
    yields ONE shingle covering all its words (empty doc → (0, 0)), so short
    docs still participate in MinHash rather than vanishing.
    """
    n = F.size(wh)

    def roll(i: Column, field: str, b: int) -> Column:
        acc = F.element_at(wh, i)[field]
        for j in range(1, k):
            acc = (acc * b + F.element_at(wh, i + j)[field]) % MINHASH_P
        return acc


    def roll_all(field: str, b: int) -> Column:
        return F.aggregate(
            wh,
            F.lit(0).cast("bigint"),
            lambda acc, w: (acc * b + w[field]) % MINHASH_P,
        )

    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.struct(
            roll(i, "h1", _ROLL_B1).alias("s1"), roll(i, "h2", _ROLL_B2).alias("s2")
        ),
    )
    fallback = F.array(
        F.struct(
            roll_all("h1", _ROLL_B1).alias("s1"), roll_all("h2", _ROLL_B2).alias("s2")
        )
    )
    return F.when(n >= k, grams).otherwise(fallback)


def shingle_ids_of(shingle_structs: Column) -> Column:
    """array<bigint>: 62-bit shingle identities ``s1 * 2^31 + s2`` — the
    collision-resistant key for exact-Jaccard / inverted-index joins (a false
    merge needs BOTH independent 31-bit chains to collide, ~2^-62)."""
    return F.transform(
        shingle_structs,
        lambda s: s["s1"] * F.lit(1 << 31).cast("bigint") + s["s2"],
    )


def minhash_member(s1: Column, s2: Column, coeff: tuple[int, int, int]) -> Column:
    """One MinHash family member: ``(a·s1 + b·s2 + c) mod P`` (2-universal-ish
    over the two independent shingle chains)."""
    a, b, c = coeff
    return (F.lit(a) * s1 + F.lit(b) * s2 + F.lit(c)) % MINHASH_P


def simhash64(token_col: Column) -> Column:
    """64-bit SimHash over a token array.

    For each bit j: sum +1/-1 over tokens according to bit j of the token's
    hash; result bit j is 1 iff the sum is positive. Built with
    ``aggregate``/``transform`` higher-order functions — no UDF.
    """
    hashed = F.transform(token_col, lambda t: stable_hash64(t))

    def vote(j: int):
        # +1 if bit j of the token hash is set, else -1, summed over tokens
        def step(acc, h):
            return acc + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        return F.aggregate(hashed, F.lit(0), step)

    # 60 bits: stable_hash64 is a 60-bit hash, so bits 60..63 are never set in
    # any token hash and would always vote negative — skip them (also keeps
    # every literal inside signed-bigint range).
    result = F.lit(0).cast("bigint")
    for j in range(60):
        result = result + F.when(vote(j) > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return result


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (``bit_count(a XOR b)``)."""
    return F.bit_count(a.bitwiseXOR(b))
