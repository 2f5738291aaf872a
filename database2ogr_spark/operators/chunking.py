"""Document chunking: split each document into fixed-size overlapping token
windows — the standard preparation step for LLM training / retrieval corpora
(context-window packing's upstream sibling; see ``operators/sampling.py
pack_sequences`` for the downstream packing op).

Implemented as a Python UDTF (table function, PySpark 4 API) applied with a
SQL LATERAL join — the one operator family in this engine whose natural
shape is one-row-to-many-rows with per-row Python logic. Tokenization is the
split on Java's ``\\s`` class ``[ \\t\\n\\x0b\\f\\r]`` shared with the rest
of the text stack (``_WS`` here and in ``functions/gramkernel``). RE2's
``\\s`` lacks the vertical tab, so the DuckDB twin splits on the POSIX
class ``[[:space:]]`` instead, and the oracle reproduces chunks
byte-for-byte.

Scale: the UDTF is a narrow per-partition map (Arrow-batched rows in,
generator rows out) — no shuffle, state is one document at a time. Window
arithmetic: ``starts = 0, stride, 2·stride, ...`` while ``start < n_tokens``;
the final window may be shorter than ``size``; empty documents yield no rows.

Reference parity: the reference has no text surface (`src/from-ground-up.js`
is a geospatial exporter); this is part of the beyond-reference
training-data operators (BASELINE.json north star).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


@udtf(returnType="chunk_id int, chunk string, n_tokens int")
class ChunkText:
    """(text, size, stride) → one row per token window.

    ``chunk_id`` is the 0-based window index; ``chunk`` the space-joined
    tokens; ``n_tokens`` its length (== size except possibly the last).
    """

    def eval(self, text: str, size: int, stride: int):
        if not text:
            return
        toks = [t for t in _WS.split(text) if t]
        n = len(toks)
        if n == 0:
            return
        i = 0
        start = 0
        while start < n:
            window = toks[start : start + size]
            yield i, " ".join(window), len(window)
            i += 1
            start += stride


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Apply :class:`ChunkText` to every document via a LATERAL join.

    Output: (id_col, chunk_id, chunk, n_tokens). Uses the SQL front-end —
    UDTFs correlate against outer rows through LATERAL, the SQL-standard
    spelling of a one-to-many flatmap.
    """
    spark: SparkSession = df.sparkSession
    spark.udtf.register("chunk_text", ChunkText)
    view = f"__chunk_src_{id_col}"
    df.select(id_col, text_col).createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT d.{id_col}, c.chunk_id, c.chunk, c.n_tokens "
        f"FROM {view} d, LATERAL chunk_text(d.{text_col}, {int(size)}, {int(stride)}) c"
    )


def truncate_to_budget(
    df: DataFrame,
    text_col: str = "text",
    *,
    max_tokens: int = 256,
    sep: str = "\n\n",
    out_col: str | None = None,
) -> DataFrame:
    """Paragraph-safe token-budget truncation: keep the longest PREFIX of
    ``sep``-separated segments whose cumulative whitespace-token count fits
    ``max_tokens``; if the first segment alone exceeds the budget, fall back
    to a hard token-level cut of that segment (tokens rejoined with single
    spaces). Adds ``out_col`` (default ``{text_col}_trunc``) and
    ``n_tokens`` (tokens actually kept).

    Pure higher-order-function expression tier: one ``F.aggregate`` scan
    with a (cum, kept_n, stopped) struct accumulator — O(#segments) per
    row, zero shuffle, whole-stage codegen, no UDF. (The DuckDB twin uses
    the equivalent O(n²) cumulative-slice form — lists per doc are small.)
    Prefix semantics (stop at the FIRST overflowing segment, even if later
    ones would fit) are the contract: a budget cut must never splice
    non-adjacent text.
    """
    from pyspark.sql import functions as F

    out = out_col or f"{text_col}_trunc"
    paras = F.split(F.col(text_col), re.escape(sep))

    def _tokens(p):  # noqa: ANN001 — Column lambda
        return F.filter(F.split(F.trim(p), "\\s+"), lambda x: x != F.lit(""))

    cnts = F.transform(paras, lambda p: F.size(_tokens(p)))

    acc0 = F.struct(
        F.lit(0).alias("cum"), F.lit(0).alias("kept_n"), F.lit(False).alias("stop")
    )

    def _merge(acc, c):  # noqa: ANN001
        fits = (~acc.stop) & ((acc.cum + c) <= F.lit(max_tokens))
        return F.struct(
            F.when(fits, acc.cum + c).otherwise(acc.cum).alias("cum"),
            F.when(fits, acc.kept_n + 1).otherwise(acc.kept_n).alias("kept_n"),
            (~fits).alias("stop"),
        )

    st = F.aggregate(cnts, acc0, _merge)
    first_toks = _tokens(F.element_at(paras, 1))
    return (
        df.withColumn("_tb", st)
        .withColumn(
            out,
            F.when(
                F.col("_tb.kept_n") == 0,
                F.array_join(F.slice(first_toks, 1, max_tokens), " "),
            ).otherwise(
                F.array_join(F.slice(paras, 1, F.col("_tb.kept_n")), sep)
            ),
        )
        .withColumn(
            "n_tokens",
            F.when(
                F.col("_tb.kept_n") == 0,
                F.least(F.lit(max_tokens), F.element_at(cnts, 1)),
            )
            .otherwise(F.col("_tb.cum"))
            .cast("bigint"),
        )
        .drop("_tb")
    )
