"""Driver contract for the spark-graft builder (PySpark target).

One registry entry per implemented operator from SURVEY.md §2 plus the
north-star training-data operators (BASELINE.json). An entry is one
declaration: a ``q_<name>`` function that runs the *engine library*
(``database2ogr_spark``) — not ad-hoc SQL — so the harness exercises the same
code paths users would, decorated with ``@register(twin=...)``, the exact
DuckDB twin it is graded against. ``_QUERY_ORDER`` sets the registry order;
``queries()`` and ``oracle_sql()`` read the registry in that order.
Semantics beyond the graded surface are pytest-verified (tests/).

Cross-engine parity rules used throughout (so value hashes match):
- doubles → ``round(x, 6)`` and kept numeric, or formatted with
  ``format_string``/``printf('%.2f')`` (identical C semantics; inputs are
  constructed to avoid half-even vs half-up tie cases);
- hashes → md5-based (bit-identical everywhere);
- lists → sorted before join/serialization;
- timestamps → floored epoch seconds as BIGINT.
"""

from __future__ import annotations

import os
import re
import tempfile
from collections.abc import Callable, Collection
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database2ogr_spark.functions import geometry as G
from database2ogr_spark.functions import text as X
from database2ogr_spark.functions import textstats as TS
from database2ogr_spark.operators import cleaning as CL
from database2ogr_spark.operators import dedup as DD
from database2ogr_spark.operators import sampling as SMP
from database2ogr_spark.operators.asof import asof_join
from database2ogr_spark.operators.graph import near_dup_groups
from database2ogr_spark.operators.partitioning import finalize_lifecycle
from database2ogr_spark.operators import clustering as KM
from database2ogr_spark.operators import similarity as SIM
from database2ogr_spark.operators.query import JoinQuery, Query
from database2ogr_spark.operators.union import union_by_name, union_features
from database2ogr_spark.operators.warnify import _POPUP_META, warnify, warnify_html

#: the popup CSS header, SQL-escaped for the DuckDB oracle (contains no
#: single quotes today; escape defensively anyway)
_POPUP_META_SQL = _POPUP_META.replace("'", "''")
from database2ogr_spark.sinks.geojson import feature_json
from database2ogr_spark.sinks.kml import placemark_xml
from database2ogr_spark.sinks.recipe import layer_json
from database2ogr_spark.sources.catalog import Catalog
from database2ogr_spark.streaming.events import (
    read_events,
    sessionize,
    user_totals,
    windowed_event_counts,
)

# ---------------------------------------------------------------------------
# registry: one declaration per entry


class _Entry(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    twin: str
    time_domain: bool


_REGISTRY: dict[str, _Entry] = {}


def register(*, twin: str, time_domain: bool = False):
    """Declare the decorated ``q_<name>`` function as registry entry
    ``<name>``, graded against the DuckDB SQL ``twin``.

    ``twin`` is kept raw; :func:`oracle_sql` applies the view rewrites,
    so a composed twin wraps another entry's ``_REGISTRY[name].twin``
    and each rewrite still runs once over the whole string.
    ``time_domain`` marks an entry whose operator applies the event-time
    ingestion guard (cleaning.within_time_domain): its twin then reads
    every ``FROM events`` scan through :data:`TS_VIEW_SQL`, while
    time-agnostic events twins keep the raw scan, as their operators do.
    A new entry also needs its name in ``_QUERY_ORDER``."""

    def deco(fn):
        name = fn.__name__.removeprefix("q_")
        if name in _REGISTRY:
            raise ValueError(f"duplicate registry entry {name!r}")
        _REGISTRY[name] = _Entry(fn, twin, time_domain)
        return fn

    return deco


# ---------------------------------------------------------------------------
# shared helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


#: DuckDB mirror of operators/similarity.is_valid_embedding — the
#: engine-wide embedding ingestion contract (non-null, non-empty, all
#: elements finite, nonzero norm). Every oracle twin that reads the
#: embeddings table reads it through this view (oracle_sql() rewrites
#: `FROM embeddings)` mechanically), exactly as every queries() entry
#: loads it through _emb(). No-op on clean corpora; on dirty corpora
#: (check_oracle.py --perturb nulls) it keeps both sides bit-aligned.
#: Twins spell every embeddings scan `FROM embeddings)` (subquery tail), so
#: the rewrite is total; tests/test_check_oracle_harness.py pins both the
#: spelling and the rewrite.
EMB_VALID_SQL = (
    "SELECT * FROM embeddings WHERE embedding IS NOT NULL "
    "AND len(embedding) > 0 "
    "AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0 "
    "AND len(list_filter(embedding, x -> x <> 0)) > 0"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table through the ingestion guard (see
    operators/similarity.is_valid_embedding): validate once at the scan,
    so no downstream kernel meets a null/ragged/NaN/zero-norm vector."""
    return SIM.valid_embeddings(_t(spark, sf_dir, "embeddings"))


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct co-purchase edges: (src, dst) for every ordered
    pair of DIFFERENT parts sharing an order — the shared edge table of
    the graph family (khop_reach, khop_reach_sketched, copurchase_pagerank,
    label_propagation).

    Pairs are generated per order from the sorted distinct part array
    rather than by self-joining ``distinct(l_orderkey, l_partkey)`` on the
    order key: ONE groupBy shuffle builds the baskets (collect_set dedupes
    in partial aggregation), the ordered-pair expansion is a narrow array
    transform (bounded by order size — TPC-H orders top out at 7
    lineitems), and the pair distinct is the only other Exchange. Same
    edge set as the self-join, with 2 Exchanges and no join instead of 3
    Exchanges and a join (khop_reach_before.txt and khop_reach_after.txt
    under plans/).
    """
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    ps = F.col("ps")
    return (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ps,
                        lambda x: F.transform(
                            F.filter(ps, lambda y: y != x),
                            lambda y: F.struct(
                                x.alias("src"), y.alias("dst")
                            ),
                        ),
                    )
                )
            ).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )


def _f2(col) -> F.Column:
    """printf('%.2f', x) — identical formatting in Spark and DuckDB for the
    integer-hundredths values constructed below (no rounding ties)."""
    return F.format_string("%.2f", col)


def _geo_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a LineString geometry per customer from c_custkey (the
    TPC-H stand-in for the ATES geometry columns, FIXTURES.md mapping).
    All coordinate strings are printf('%.2f') of integer-hundredths values."""
    c = _t(spark, sf_dir, "customer")
    lon1 = F.lit(-118) + (F.col("c_custkey") % 300) / F.lit(100.0)
    lat1 = F.lit(49) + (F.col("c_custkey") % 150) / F.lit(100.0)
    lon2 = lon1 + (F.col("c_custkey") % 7) / F.lit(10.0) + F.lit(0.05)
    lat2 = lat1 - (F.col("c_custkey") % 5) / F.lit(10.0) - F.lit(0.05)
    return c.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        _f2(lon1).alias("lon1_s"),
        _f2(lat1).alias("lat1_s"),
        _f2(lon2).alias("lon2_s"),
        _f2(lat2).alias("lat2_s"),
    ).withColumn(
        "geom_json",
        F.concat(
            F.lit('{"type":"LineString","coordinates":[['),
            F.col("lon1_s"), F.lit(","), F.col("lat1_s"),
            F.lit("],["),
            F.col("lon2_s"), F.lit(","), F.col("lat2_s"),
            F.lit("]]}"),
        ),
    )


_GEO_CUSTOMER_SQL = """
SELECT c_custkey, c_name, c_mktsegment,
  printf('%.2f', -118 + (c_custkey % 300) / 100.0) AS lon1_s,
  printf('%.2f', 49 + (c_custkey % 150) / 100.0) AS lat1_s,
  printf('%.2f', -118 + (c_custkey % 300) / 100.0 + (c_custkey % 7) / 10.0 + 0.05) AS lon2_s,
  printf('%.2f', 49 + (c_custkey % 150) / 100.0 - (c_custkey % 5) / 10.0 - 0.05) AS lat2_s
FROM customer
"""

#: RE2's POSIX whitespace class [\t\n\v\f\r ], the DuckDB spelling of
#: Java's ``\s`` (RE2's own ``\s`` lacks the vertical tab): ``[{_SPACE}]``
#: outside a bracket expression, ``{_SPACE}`` inside one
_SPACE = "[:space:]"

#: normalized text / words / k=3 shingle ids — DuckDB twins of
#: functions/hashing.py normalize_text, words, word_hash_structs,
#: shingle_structs_of, shingle_ids_of (same md5-per-word + rolling-hash
#: arithmetic mod 2^31-1; ``s`` is the list of 62-bit ids s1·2^31+s2)
_NORM_SQL = f"trim(regexp_replace(lower(text), '[{_SPACE}]+', ' ', 'g'))"
_WORDS_SQL = f"list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')"
_MH_P = 2147483647  # mirrors hashing.MINHASH_P
_MH_B1, _MH_B2 = 1000003, 1000033  # mirrors hashing._ROLL_B1/_ROLL_B2
def _whash_sql(source: str = "documents") -> str:
    return f"""
SELECT doc_id, list_transform({_WORDS_SQL}, x -> [
    ('0x' || substr(md5(x), 1, 15))::BIGINT % {_MH_P},
    ('0x' || substr(md5(x), 17, 15))::BIGINT % {_MH_P}]) AS h
FROM {source}
"""


def _roll_sql(chain: int, base: int, k: int = 3) -> str:
    """k-word rolling hash over word-hash chain ``chain`` starting at index i."""
    acc = f"h[i][{chain}]"
    for j in range(1, k):
        acc = f"(({acc} * {base} + h[i+{j}][{chain}]) % {_MH_P})"
    return acc


def _roll_all_sql(chain: int, base: int) -> str:
    """Whole-doc rolling hash (the <k-words fallback shingle)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(h, p -> p[{chain}])),"
        f" (a, b) -> (a * {base} + b) % {_MH_P})"
    )


def _shingles_sql(k: int = 3, source: str = "documents") -> str:
    """(doc_id, s: list of 62-bit k-gram ids) for ``source`` — the DuckDB twin
    of shingle_ids_of(shingle_structs_of(word_hash_structs(text), k))."""
    return f"""
SELECT doc_id, CASE WHEN len(h) >= {k}
  THEN list_transform(generate_series(1, len(h) - {k - 1}), i ->
    {_roll_sql(1, _MH_B1, k)} * 2147483648 + {_roll_sql(2, _MH_B2, k)})
  ELSE [{_roll_all_sql(1, _MH_B1)} * 2147483648 + {_roll_all_sql(2, _MH_B2)}]
  END AS s
FROM ({_whash_sql(source)})
"""


_SHINGLES_SQL = _shingles_sql(3)


def _h64_sql(expr: str, seed: int) -> str:
    """DuckDB twin of functions/hashing.py stable_hash64."""
    payload = f"'{seed}' || chr(31) || {expr}" if seed else expr
    return f"('0x' || substr(md5({payload}), 1, 15))::BIGINT"


def _mh_sql(expr: str, i: int) -> str:
    """DuckDB twin of MinHash family member ``i`` over a 62-bit shingle id
    expr (functions/hashing.py minhash_member over minhash_coeffs)."""
    from database2ogr_spark.functions.hashing import minhash_coeffs

    a, b, c = minhash_coeffs(i + 1)[i]
    s1, s2 = f"(({expr}) // 2147483648)", f"(({expr}) % 2147483648)"
    return f"(({a} * {s1} + {b} * {s2} + {c}) % {_MH_P})"


def _minhash_sig_sql(num_hashes: int = 16, source: str = "documents") -> str:
    """(doc_id, sig: list of ``num_hashes`` MinHash values) — DuckDB twin of
    operators/dedup.minhash_signatures (per doc, the min of each family
    member over its k=3 shingle ids)."""
    mins = ", ".join(f"min({_mh_sql('g', i)})" for i in range(num_hashes))
    return f"""
SELECT doc_id, [{mins}] AS sig
FROM (SELECT doc_id, unnest(s) AS g FROM ({_shingles_sql(3, source)}) sh) ex
GROUP BY doc_id
"""


def _lsh_pairs_sql(threshold: float, num_hashes: int = 16, bands: int = 4) -> str:
    """(id_a, id_b, est_jaccard) — DuckDB twin of
    operators/dedup.minhash_lsh_pairs: explode ``bands`` band slices per
    signature, bucket = stable_hash64(slice joined with ',', seed 97), join
    same-band equal buckets, estimate = matching-position fraction,
    threshold, DISTINCT (a pair found in several bands collapses to one
    row, as Spark's dropDuplicates does)."""
    rpb = num_hashes // bands
    band_str = (
        f"array_to_string(list_transform(list_slice(sig, band * {rpb} + 1, "
        f"band * {rpb} + {rpb}), x -> CAST(x AS VARCHAR)), ',')"
    )
    band_vals = ", ".join(str(b) for b in range(bands))
    return f"""
SELECT id_a, id_b, est_jaccard FROM (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
    len(list_filter(generate_series(1, {num_hashes}),
        i -> l.sig[i] = r.sig[i])) / {float(num_hashes)} AS est_jaccard
  FROM (SELECT doc_id, sig, band, {_h64_sql(band_str, 97)} AS bucket
        FROM ({_minhash_sig_sql(num_hashes)}) sg
        CROSS JOIN (SELECT unnest([{band_vals}]) AS band) bb) l
  JOIN (SELECT doc_id, sig, band, {_h64_sql(band_str, 97)} AS bucket
        FROM ({_minhash_sig_sql(num_hashes)}) sg
        CROSS JOIN (SELECT unnest([{band_vals}]) AS band) bb) r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id) cand
WHERE est_jaccard >= {threshold}
"""


def _simhash_sig_sql() -> str:
    """(doc_id, sim) for every document — DuckDB twin of
    operators/dedup.simhash_signatures: one md5 60-bit hash per word
    (stable_hash64, no seed), per-bit popcounts, bit j set iff 2·p_j > n.
    Tokenless docs get signature 0 (LEFT JOIN + COALESCE, matching
    explode_outer's null-vote semantics)."""
    psel = ", ".join(f"sum((h >> {j}) & 1) AS p{j}" for j in range(60))
    bits = " + ".join(
        f"(CASE WHEN 2 * p{j} > n THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(60)
    )
    return f"""
SELECT d.doc_id, COALESCE(v.sim, CAST(0 AS BIGINT)) AS sim
FROM documents d LEFT JOIN (
  SELECT doc_id, {bits} AS sim FROM (
    SELECT doc_id, count(*) AS n, {psel}
    FROM (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
          FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents) tw) th
    GROUP BY doc_id) tv
  ) v ON d.doc_id = v.doc_id
"""


def _simhash_chunks_sql() -> str:
    """Signature exploded into the 4 pigeonhole chunks of 15 bits (the
    max_hamming=3 design point of operators/dedup.simhash_pairs)."""
    return f"""
SELECT s.doc_id, s.sim, c.chunk,
  (s.sim >> (15 * c.chunk)) & 32767 AS val
FROM ({_simhash_sig_sql()}) s
CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS chunk) c
"""


def _lsh_bucket_sql(
    bits: int = 3, dim: int = 64, plane_offset: int = 0, vec: str = "v"
) -> str:
    """Sign-LSH bucket over a double-list column ``vec`` — DuckDB twin of
    operators/similarity.signs_bucket_expr: hyperplane j's ±1 components are
    the md5-derived ``int_sign(j, i)`` literals (embedded below), the
    projection is the same left-to-right sequential sum from 0.0 that the
    unrolled Spark expression computes (±1 multiplication is exact, so the
    doubles match bit-for-bit), and bucket = Σ 2^(bits-1-j)·[sum_j ≥ 0].
    ``plane_offset`` mirrors signs_bucket_expr's banding window
    ``[offset, offset+bits)``."""
    from database2ogr_spark.operators.similarity import int_sign

    terms = []
    for jj in range(bits):
        j = plane_offset + jj
        signs = "[" + ", ".join(
            f"{float(int_sign(j, i))}" for i in range(dim)
        ) + "]"
        proj = (
            f"list_reduce(list_prepend(0.0, list_transform("
            f"generate_series(1, {dim}), i -> {vec}[i] * ({signs}::DOUBLE[])[i])), "
            f"(a, b) -> a + b)"
        )
        terms.append(
            f"(CASE WHEN {proj} >= 0 THEN {1 << (bits - 1 - jj)} ELSE 0 END)"
        )
    return " + ".join(terms)


#: DuckDB twin of __spark_entry__._synth_url + functions/urls.py parsing —
#: shared by the url_normalize and cap_per_domain oracles
_URL_SUFFIXES_SQL = ", ".join(
    f"'{s}'"
    for s in (
        "co.uk", "org.uk", "gov.uk", "ac.uk",
        "com.au", "net.au", "org.au",
        "co.jp", "ne.jp", "or.jp",
        "com.br", "com.cn", "co.in", "co.kr", "co.nz", "co.za",
    )
)
_URL_PARSE_SQL = f"""
    WITH s AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END)
        || (CASE WHEN doc_id % 6 = 0 THEN 'cdn.' ELSE '' END)
        || source || '-Example'
        || (CASE WHEN doc_id % 4 = 0 THEN '.co.uk' ELSE '.com' END)
        || (CASE WHEN doc_id % 3 = 0 THEN ':443'
                 WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
        || '/Docs/' || doc_id
        || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        || '?utm_source=feed&b=2&a=1'
        || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents),
    p AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(lower(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)),
          '^www\\.', '') AS host,
        regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+:([0-9]+)', 1) AS port,
        regexp_replace(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/$', '') AS path0,
        regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM s),
    parsed AS (
      SELECT doc_id, url, scheme, host, port,
        CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        array_to_string(list_sort(list_filter(string_split(q, '&'),
          x -> x <> '' AND NOT regexp_matches(x,
            '^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)='))), '&') AS qq,
        CASE WHEN len(string_split(host, '.')) <= 2 THEN host
             WHEN list_contains([{_URL_SUFFIXES_SQL}],
                  string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1])
             THEN string_split(host, '.')[-3] || '.'
                  || string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
             ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
        END AS domain
      FROM p)
"""


def _stopword_list_sql(lang: str) -> str:
    ws = ", ".join(f"'{w}'" for w in TS.STOPWORDS[lang])
    return f"[{ws}]"


def _hits_sql(lang: str) -> str:
    return (
        f"len(list_filter({_WORDS_SQL}, x -> "
        f"list_contains({_stopword_list_sql(lang)}, x)))::INT"
    )


def _kmeans_sql(k: int = 8, n_iter: int = 3, dim: int = 64, seed: int = 29) -> str:
    """DuckDB twin of operators/clustering._fit_centroids + final
    assignment, unrolled: cent0 (k lowest-hash vectors, rounded), then per
    iteration an assignment CTE (cosine rounded to 9, ties to lowest
    cluster id) and a centroid-update CTE (per-position avg rounded to 6,
    empty clusters keep the previous centroid via COALESCE). Emits WITH
    CTEs ending in ``asgf`` = the final (vec_id, v, cid) assignment."""
    cos = (
        "round(list_dot_product(v.v, c.c) / "
        "(greatest(sqrt(list_dot_product(v.v, v.v)), 1e-12) * "
        "greatest(sqrt(list_dot_product(c.c, c.c)), 1e-12)), "
        f"{KM.SIM_DECIMALS})"
    )

    def asg(name: str, cent: str) -> str:
        return f"""
{name} AS (
  SELECT vec_id, v, cid FROM (
    SELECT v.vec_id, v.v, c.cid, row_number() OVER (
      PARTITION BY v.vec_id ORDER BY {cos} DESC, c.cid) AS rn
    FROM v CROSS JOIN {cent} c) t
  WHERE rn = 1)"""

    parts = [
        f"""
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
cent0 AS (
  SELECT cid, list_transform(c, x -> round(x, {KM.CENTROID_DECIMALS})) AS c
  FROM (SELECT row_number() OVER
          (ORDER BY {_h64_sql("CAST(vec_id AS VARCHAR)", seed)}) - 1 AS cid,
          v AS c FROM v) t
  WHERE cid < {k}),
pos AS (SELECT unnest(range(1, {dim + 1})) AS p)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(asg(f"a{i}", f"cent{i - 1}"))
        parts.append(f"""
m{i} AS (
  SELECT cid, p, round(avg(v[p]), {KM.CENTROID_DECIMALS}) AS m
  FROM a{i} CROSS JOIN pos GROUP BY cid, p),
cent{i} AS (
  SELECT c0.cid, COALESCE(mm.c, c0.c) AS c
  FROM cent{i - 1} c0 LEFT JOIN
    (SELECT cid, list(m ORDER BY p) AS c FROM m{i} GROUP BY cid) mm
  USING (cid))""")
    parts.append(asg("asgf", f"cent{n_iter}"))
    return "WITH " + ",".join(parts)


def _pretrain_filter_ctes() -> str:
    """The three filtering stages of the pretrain scenario as CTEs
    (corpus0 → qual → kept → surv → ded → bench/bg/cg/bad → clean) —
    shared verbatim by the pretrain_pipeline and pretrain_ledger oracles
    so the two entries can never drift apart."""
    return f"""corpus0 AS MATERIALIZED (
              SELECT doc_id, source, lang,
                CASE WHEN doc_id % 9 = 5 THEN '{_SHARED_PARA}'
                     ELSE text END AS text
              FROM documents WHERE doc_id % 20 <> 0),
            qual AS (
              SELECT doc_id FROM (
                SELECT doc_id,
                  length(text)::INT AS n_chars,
                  len({_WORDS_SQL})::INT AS ws_tokens,
                  (length(text) -
                   length(regexp_replace(text, '[^\\w{_SPACE}]', '', 'g')))::INT
                    AS n_punct,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform({_WORDS_SQL},
                      w -> CAST(length(w) AS BIGINT))),
                    (a, b) -> a + b) AS sum_wlen,
                  len(list_distinct({_WORDS_SQL}))::INT AS distinct_toks
                FROM corpus0) b
              WHERE coalesce(ws_tokens >= 20 AND ws_tokens <= 100000, false)
                AND coalesce(CASE WHEN ws_tokens > 0
                      THEN sum_wlen / CAST(ws_tokens AS DOUBLE)
                      ELSE 0.0 END BETWEEN 2.0 AND 12.0, false)
                AND coalesce(CASE WHEN n_chars > 0
                      THEN n_punct / CAST(n_chars AS DOUBLE)
                      ELSE 0.0 END < 0.1, false)
                AND coalesce(CASE WHEN ws_tokens > 0
                      THEN distinct_toks / CAST(ws_tokens AS DOUBLE)
                      ELSE 0.0 END >= 0.2, false)),
            kept AS (SELECT c.* FROM corpus0 c JOIN qual USING (doc_id)),
            surv AS (SELECT min(doc_id) AS doc_id FROM kept
                     GROUP BY md5({_NORM_SQL})),
            ded AS (SELECT k.* FROM kept k JOIN surv USING (doc_id)),
            bench AS (SELECT doc_id, text FROM documents
                      WHERE doc_id % 20 = 0),
            bg AS (SELECT DISTINCT unnest(s) AS gram
                   FROM ({_shingles_sql(13, "bench")})),
            cg AS (SELECT doc_id, unnest(s) AS gram
                   FROM ({_shingles_sql(13, "ded")})),
            bad AS (SELECT DISTINCT doc_id FROM cg
                    WHERE gram IN (SELECT gram FROM bg)),
            clean AS (SELECT * FROM ded
                      WHERE doc_id NOT IN (SELECT doc_id FROM bad))"""


def _bpe_chain_sql(num_merges: int, min_freq: int) -> str:
    """Shared CTE chain for the BPE oracles: word frequencies (ASCII gate,
    min_freq cut) → char-symbol strings s0 → per-iteration pair counts
    p{k}, argmax b{k} (count desc, pair asc — the operator's tie-break),
    and the leftmost-non-overlapping merge application s{k+1}. ``replace``
    is non-overlapping left-to-right in BOTH engines, which is exactly
    classic BPE application order (pinned in tests/test_bpe.py)."""
    parts = [
        f"""
            t AS (SELECT unnest({_WORDS_SQL}) AS word FROM documents),
            wf AS (
              SELECT word, count(*)::BIGINT AS freq FROM t
              WHERE regexp_matches(word, '^[ -~]+$')
              GROUP BY word HAVING count(*) >= {min_freq}),
            s0 AS (
              SELECT ' ' || (SELECT string_agg(substring(word,
                         CAST(i AS INT), 1), ' ' ORDER BY i)
                       FROM unnest(range(1, len(word) + 1)) AS u(i))
                   || ' ' AS sym, freq
              FROM wf)"""
    ]
    for k in range(num_merges):
        parts.append(
            f"""
            l{k} AS MATERIALIZED (SELECT sym, freq,
                list_filter(string_split(trim(sym), ' '), x -> x <> '')
                  AS toks FROM s{k}),
            p{k} AS (SELECT toks[CAST(i AS INT)] || ' '
                       || toks[CAST(i + 1 AS INT)] AS pair,
                       sum(freq)::BIGINT AS cnt
                     FROM l{k} CROSS JOIN (SELECT unnest(range(1,
                       (SELECT coalesce(max(len(toks)), 1) FROM l{k})))
                       AS i) ii
                     WHERE i < len(toks) GROUP BY 1),
            b{k} AS MATERIALIZED (SELECT pair, cnt FROM p{k}
                     ORDER BY cnt DESC, pair ASC LIMIT 1),
            s{k + 1} AS MATERIALIZED (SELECT replace(sym,
                  ' ' || (SELECT pair FROM b{k}) || ' ',
                  ' ' || replace((SELECT pair FROM b{k}), ' ', '') || ' ')
                AS sym, freq FROM s{k})"""
        )
    return ",".join(parts)


def _bpe_learn_sql(num_merges: int = 6, min_freq: int = 2) -> str:
    ranks = "\n            UNION ALL ".join(
        f"""SELECT CAST({k} AS INT) AS merge_rank,
              split_part(pair, ' ', 1) AS lhs,
              split_part(pair, ' ', 2) AS rhs,
              replace(pair, ' ', '') AS merged,
              cnt AS pair_freq FROM b{k}"""
        for k in range(num_merges)
    )
    return f"""
        WITH {_bpe_chain_sql(num_merges, min_freq)}
        {ranks}
    """


def _bpe_segment_sql(num_merges: int = 6, min_freq: int = 2) -> str:
    """Segmentation twin: a SECOND symbol chain v0..vN over ALL
    charset-passing distinct words (segmentation is not min_freq-gated —
    rare words still get the learned merges), replaying b0..b{N-1} from
    the learning chain; non-ASCII words fall back to one OOV token via
    the left join's coalesce."""
    vparts = [
        f"""
            dw AS (SELECT doc_id, unnest({_WORDS_SQL}) AS word
                   FROM documents),
            v0 AS MATERIALIZED (
              SELECT word, ' ' || (SELECT string_agg(substring(word,
                         CAST(i AS INT), 1), ' ' ORDER BY i)
                       FROM unnest(range(1, len(word) + 1)) AS u(i))
                   || ' ' AS sym
              FROM (SELECT DISTINCT word FROM dw
                    WHERE regexp_matches(word, '^[ -~]+$')) q)"""
    ]
    for k in range(num_merges):
        vparts.append(
            f"""
            v{k + 1} AS MATERIALIZED (SELECT word, replace(sym,
                  ' ' || (SELECT pair FROM b{k}) || ' ',
                  ' ' || replace((SELECT pair FROM b{k}), ' ', '') || ' ')
                AS sym FROM v{k})"""
        )
    return f"""
        WITH {_bpe_chain_sql(num_merges, min_freq)},{",".join(vparts)},
        seg AS (SELECT word,
                  len(list_filter(string_split(trim(sym), ' '),
                      x -> x <> ''))::BIGINT AS n_sub
                FROM v{num_merges})
        SELECT doc_id, count(*)::BIGINT AS n_words,
          sum(coalesce(n_sub, 1))::BIGINT AS n_tokens,
          round(sum(len(word))::DOUBLE / sum(coalesce(n_sub, 1)), 6)
            AS chars_per_token
        FROM dw LEFT JOIN seg USING (word)
        GROUP BY doc_id
    """


def _bpe_fertility_sql(num_merges: int = 6, min_freq: int = 2) -> str:
    """Fertility twin: the SAME learning chain + vocab segmentation chain
    as _bpe_segment_sql, but the token stream carries lang and the final
    agg groups by it, adding the oov count and the parity ratio against
    the best-served group."""
    seg = _bpe_segment_sql(num_merges, min_freq)
    # reuse everything up to the seg CTE, swap the dw source + final agg
    head, _sep, _tail = seg.rpartition("SELECT doc_id,")
    head = head.replace(
        "dw AS (SELECT doc_id, unnest(",
        "dw AS (SELECT lang, unnest(",
    )
    return f"""{head.rstrip()},
        pg AS (SELECT lang, count(*)::BIGINT AS n_words,
                 sum(CASE WHEN n_sub IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_oov,
                 sum(coalesce(n_sub, 1))::BIGINT AS n_tokens,
                 sum(len(word))::BIGINT AS n_chars
               FROM dw LEFT JOIN seg USING (word)
               GROUP BY lang),
        bst AS (SELECT min(n_tokens::DOUBLE / n_words) AS best FROM pg)
        SELECT lang, n_words, n_oov, n_tokens,
          round(n_tokens::DOUBLE / n_words, 6) AS fertility,
          round(n_chars::DOUBLE / n_tokens, 6) AS chars_per_token,
          round((n_tokens::DOUBLE / n_words) / best, 6) AS parity
        FROM pg CROSS JOIN bst
    """


def _logreg_sql(n_iter: int = 3, lr_factor: int = 100) -> str:
    """DuckDB twin of operators/classifier.quality_classifier_scores,
    unrolled: feature CTE (components rounded to FEATURE_DECIMALS), then
    per GD iteration a probability CTE (sigmoid of the left-assoc weighted
    sum, rounded to PROB_DECIMALS) and an exact-integer weight update
    (per-row gradients rounded to scaled BIGINTs BEFORE the sum — the
    partitioning-proof arithmetic — then w := w - round(g*lr_factor/n)).
    Ends with the final scoring pass."""
    from database2ogr_spark.operators import classifier as CLF

    nt = f"len({_WORDS_SQL})"
    wlen_sum = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({_WORDS_SQL}, w -> CAST(length(w) AS BIGINT))), "
        f"(a, b) -> a + b)"
    )
    n_feat = len(CLF.FEATURES)
    fd, pd_, ws, gs = (
        CLF.FEATURE_DECIMALS, CLF.PROB_DECIMALS, CLF.WEIGHT_SCALE, CLF.GRAD_SCALE
    )
    parts = [
        f"""
f AS (
  SELECT doc_id,
    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
    1.0 AS x0,
    round(ln(1.0 + CAST({nt} AS DOUBLE)), {fd}) AS x1,
    CASE WHEN {nt} > 0
      THEN round(CAST({wlen_sum} AS DOUBLE) / CAST({nt} AS DOUBLE), {fd})
      ELSE 0.0 END AS x2,
    CASE WHEN {nt} > 0
      THEN round(CAST({_hits_sql("en")} AS DOUBLE) / CAST({nt} AS DOUBLE),
                 {fd})
      ELSE 0.0 END AS x3,
    CASE WHEN length(text) > 0
      THEN round(CAST(length(text) -
             length(regexp_replace(text, '[^\\w{_SPACE}]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE), {fd})
      ELSE 0.0 END AS x4
  FROM documents WHERE text IS NOT NULL),
w0 AS (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(n_feat))})"""
    ]

    def z(wname: str) -> str:
        terms = "".join(
            f" + ({wname}.w{j} / {float(ws)}) * x{j}" for j in range(n_feat)
        )
        return f"0.0{terms}"

    for i in range(1, n_iter + 1):
        parts.append(f"""
p{i} AS (
  SELECT f.*, round(1.0 / (1.0 + exp(-({z("w")}))), {pd_}) AS p
  FROM f CROSS JOIN w{i - 1} w),
g{i} AS (
  SELECT count(*) AS n,
    {", ".join(f"sum(CAST(round((p - y) * x{j} * {float(gs)}) AS BIGINT)) AS g{j}" for j in range(n_feat))}
  FROM p{i}),
w{i} AS (
  SELECT {", ".join(f"w.w{j} - CAST(round(g.g{j} * {float(lr_factor)} / g.n) AS BIGINT) AS w{j}" for j in range(n_feat))}
  FROM w{i - 1} w CROSS JOIN g{i} g)""")
    parts.append(f"""
scored AS (
  SELECT f.doc_id, CAST(f.y AS INT) AS label,
    round(1.0 / (1.0 + exp(-({z("w")}))), {pd_}) AS prob
  FROM f CROSS JOIN w{n_iter} w)""")
    return (
        "WITH " + ",".join(parts)
        + "\nSELECT doc_id, label, prob, prob >= 0.5 AS predicted FROM scored"
    )


def _fk_sql(child: str, ckey: str, parent: str, pkey: str) -> str:
    """One fk_orphans relation replayed in DuckDB (see q_fk_integrity)."""
    return f"""
        SELECT relation, n_child, n_null_fk, n_orphans,
               round(n_orphans::DOUBLE / n_child, 6) AS orphan_frac
        FROM (SELECT '{child}.{ckey}->{parent}.{pkey}' AS relation,
              (SELECT count(*) FROM {child}) AS n_child,
              (SELECT count(*) FROM {child} WHERE {ckey} IS NULL) AS n_null_fk,
              (SELECT count(*) FROM {child} c
                WHERE c.{ckey} IS NOT NULL
                  AND c.{ckey} NOT IN
                      (SELECT {pkey} FROM {parent} WHERE {pkey} IS NOT NULL))
                AS n_orphans) t
    """


#: stub-tier aHash bit packing replayed from md5 hex (see q_multimodal_phash)
_PHASH_TERMS = " + ".join(
    f"(CASE WHEN ('0x' || substr(md5(text), {2 * i + 1}, 2))::INT >= 128 "
    f"THEN {1 << i} ELSE 0 END)"
    for i in range(8)
)


#: language-id building blocks shared by the lang_id, lang_confusion and
#: kappa_langid twins
_LANGS = list(TS.STOPWORDS)
_HITS = {lg: _hits_sql(lg) for lg in _LANGS}
_BEST = "greatest(" + ", ".join(f"h_{lg}" for lg in _LANGS) + ")"
_LANG_CASE = "CASE WHEN best = 0 THEN 'und' " + " ".join(
    f"WHEN h_{lg} = best THEN '{lg}'" for lg in _LANGS
) + " END"
_HITS_SELECT = ", ".join(f"{_HITS[lg]} AS h_{lg}" for lg in _LANGS)

#: JSON string array of a DuckDB list column, for the warnify twin.
#: NB: DuckDB array_to_string([]) is NULL, not '' — coalesce required
_WARN_LIST = (
    "'[' || coalesce(array_to_string("
    "list_transform({lst}, x -> '\"' || x || '\"'), ','), '') || ']'"
)
_MR_JSON = _WARN_LIST.format(lst="mr")
_CO_JSON = _WARN_LIST.format(lst="co")


# ---------------------------------------------------------------------------
# queries — SURVEY.md §2 relational / scalar surface (TPC-H-shaped)


@register(
    twin="SELECT n_nationkey, n_name, 'nation' AS \"table\" "
    "FROM nation WHERE n_regionkey = 2"
)
def q_s1_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/F1/P1 — parameterized scan via the Query builder (pushdown)."""
    cat = Catalog(spark, sf_dir)
    q = Query("nation", ["n_nationkey", "n_name"], "n_regionkey={param}",
              ogr_type=None, geometry_column=None)
    return q.build(cat, param=2)


@register(twin="SELECT r_regionkey, r_name, 'region' AS \"table\" FROM region")
def q_s2_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/F3 — full scan, no predicate."""
    cat = Catalog(spark, sf_dir)
    q = Query("region", ["r_regionkey", "r_name"], None, ogr_type=None, geometry_column=None)
    return q.build(cat)


@register(twin=f"""
            WITH g AS (
              SELECT c_custkey,
                CAST(lon1_s AS DOUBLE) AS lon1, CAST(lat1_s AS DOUBLE) AS lat1,
                CAST(lon2_s AS DOUBLE) AS lon2, CAST(lat2_s AS DOUBLE) AS lat2
              FROM ({_GEO_CUSTOMER_SQL}))
            SELECT c_custkey,
              least(lon1, lon2) AS xmin, least(lat1, lat2) AS ymin,
              greatest(lon1, lon2) AS xmax, greatest(lat1, lat2) AS ymax
            FROM g
        """)
def q_p3_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/X7 — ST_Envelope-equivalent bounds over synthesized LineStrings."""
    g = _geo_customer(spark, sf_dir)
    # two-stage select: the fold stays a single staged expression (one token
    # scan per row) instead of being re-inlined once per extracted field
    return g.select(
        "c_custkey", G.envelope_bounds("geom_json").alias("bb")
    ).select(
        "c_custkey",
        F.col("bb").getField("xmin").alias("xmin"),
        F.col("bb").getField("ymin").alias("ymin"),
        F.col("bb").getField("xmax").alias("xmax"),
        F.col("bb").getField("ymax").alias("ymax"),
    )


@register(twin="SELECT p_partkey, replace(lower(p_type), ' ', '-') AS slug FROM part")
def q_x1_slugify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — lowercase + spaces→dashes (all occurrences, bug-ledger pin)."""
    return _t(spark, sf_dir, "part").select("p_partkey", X.slugify("p_type").alias("slug"))


@register(
    twin="SELECT s_suppkey, reverse(s_name) AS rev_name, "
    "string_split(s_name, '#')[1] AS stem FROM supplier"
)
def q_x2_reverse_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 string reverse + X16 stem extraction."""
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        X.reverse_str("s_name").alias("rev_name"),
        F.split(F.col("s_name"), "#").getItem(0).alias("stem"),
    )


@register(
    twin="SELECT p_partkey, CASE WHEN p_size IN (11, 15) THEN p_size ELSE 11 END "
    "AS icon_size FROM part"
)
def q_f4_validate_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — membership validation with default (returnIfIn ∈ {11,15} else 11)."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey", X.validate_in("p_size", [11, 15], 11).alias("icon_size")
    )


@register(
    twin="SELECT o_orderkey, o_custkey, o_orderstatus, l_linenumber, l_quantity, "
    "l_returnflag, 'orders' AS \"table\" "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE o_custkey <= 200"
)
def q_j1_parent_child_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/F2/P4 — parent⋈child inner equi-join with post-join parent filter
    via the JoinQuery builder (orders⋈lineitem stands in for
    decision_points⋈warnings)."""
    cat = Catalog(spark, sf_dir)
    jq = JoinQuery(
        parent=Query("orders", ["o_orderkey", "o_custkey", "o_orderstatus"],
                     None, None, geometry_column=None),
        child=Query("lineitem", ["l_linenumber", "l_quantity", "l_returnflag"],
                    None, None, geometry_column=None),
        on=("o_orderkey", "l_orderkey"),
        where="p.o_custkey <= {param}",
        broadcast_child=False,  # lineitem is the big fan table here
    )
    return jq.build(cat, param=200)


@register(
    twin="SELECT n_nationkey, n_name, r_name AS region_name "
    "FROM nation JOIN region ON n_regionkey = r_regionkey"
)
def q_j2_dim_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — lookup against a small dim (broadcast join on region)."""
    n = _t(spark, sf_dir, "nation")
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return n.join(r, n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", F.col("r_name").alias("region_name")
    )


_SEGMENT_STYLES = {
    "BUILDING": "building_style",
    "AUTOMOBILE": "automobile_style",
    "MACHINERY": "machinery_style",
}


@register(
    twin="SELECT c_custkey, CASE c_mktsegment "
    "WHEN 'BUILDING' THEN 'building_style' "
    "WHEN 'AUTOMOBILE' THEN 'automobile_style' "
    "WHEN 'MACHINERY' THEN 'machinery_style' "
    "ELSE 'default_style' END AS style FROM customer"
)
def q_j3_style_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/X15 — literal-map lookup with coalesce fallback."""
    style_map = F.create_map(*[F.lit(x) for kv in _SEGMENT_STYLES.items() for x in kv])
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        X.coalesce_fallback(
            style_map[F.col("c_mktsegment")], F.lit("default_style")
        ).alias("style"),
    )


@register(twin="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")
def q_a1_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — distinct grouping keys."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


def _warnify_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared decision-point-shaped input for the warnify queries:
    orders⋈lineitem rows with warning/type/geometry columns."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    li = _t(spark, sf_dir, "lineitem")
    j = o.join(li, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_returnflag").isin("A", "R")
    )
    return j.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("l_linenumber").cast("string").alias("warning"),
        F.when(F.col("l_returnflag") == "A", "Managing risk")
        .otherwise("Concern")
        .alias("type"),
        F.concat(
            F.lit('{"type":"Point","coordinates":['),
            _f2(F.col("o_orderkey") / F.lit(100.0)),
            F.lit(",49.00]}"),
        ).alias("geometry"),
        F.lit("decision_points").alias("table"),
    )


@register(twin=f"""
            WITH j AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     CAST(l_linenumber AS VARCHAR) AS warning,
                     CASE WHEN l_returnflag = 'A' THEN 'Managing risk'
                          ELSE 'Concern' END AS wtype
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              WHERE o_custkey < 100 AND l_returnflag IN ('A', 'R')),
            g AS (
              SELECT o_orderkey,
                min(o_orderkey) AS o_orderkey_c,
                min(o_custkey) AS o_custkey,
                min(o_orderstatus) AS o_orderstatus,
                coalesce(list(warning ORDER BY warning)
                         FILTER (WHERE wtype = 'Managing risk'), []) AS mr,
                coalesce(list(warning ORDER BY warning)
                         FILTER (WHERE wtype = 'Concern'), []) AS co
              FROM j GROUP BY o_orderkey)
            SELECT o_orderkey_c AS o_orderkey, o_custkey, o_orderstatus,
              'decision_points' AS "table",
              '{{"managing-risk":' || {_MR_JSON} || ',"concern":' || {_CO_JSON} || '}}'
                AS warnings,
              '{{"type":"Point","coordinates":[' ||
                CAST(CAST(printf('%.2f', o_orderkey / 100.0) AS DOUBLE) AS VARCHAR)
                || ',49.0]}}' AS geometry
            FROM g
        """)
def q_warnify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3/A4/X8 — the warnify group/pivot aggregation on TPC-H shapes:
    orders⋈lineitem rows pivoted by returnflag into the two-key warnings map,
    Point geometry synthesized from o_orderkey and rebuilt from the group key
    exactly like the reference (src/from-ground-up.js:221-278)."""
    df = _warnify_input(spark, sf_dir)
    return warnify(df, carry_cols=("o_orderkey", "o_custkey", "o_orderstatus"))


@register(
    twin="SELECT 'region' AS \"table\", CAST(r_regionkey AS BIGINT) AS id, "
    "r_name AS name FROM region "
    "UNION ALL SELECT 'nation', CAST(n_nationkey AS BIGINT), n_name FROM nation "
    "UNION ALL SELECT 'part', CAST(p_partkey AS BIGINT), p_name FROM part"
)
def q_u1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/P5 — union-all of heterogeneous per-table projections."""
    r = _t(spark, sf_dir, "region").select(
        F.lit("region").alias("table"),
        F.col("r_regionkey").cast("bigint").alias("id"),
        F.col("r_name").alias("name"),
    )
    n = _t(spark, sf_dir, "nation").select(
        F.lit("nation").alias("table"),
        F.col("n_nationkey").cast("bigint").alias("id"),
        F.col("n_name").alias("name"),
    )
    p = _t(spark, sf_dir, "part").select(
        F.lit("part").alias("table"),
        F.col("p_partkey").cast("bigint").alias("id"),
        F.col("p_name").alias("name"),
    )
    return union_by_name([r, n, p])


@register(twin=f"""
            SELECT '{{"type":"Feature","geometry":{{"type":"Point","coordinates":['
              || lon1_s || ',' || lat1_s || ']}},"properties":{{"table":"customer","id":'
              || c_custkey
              || CASE WHEN c_name IS NOT NULL
                      THEN ',"name":"' || c_name || '"' ELSE '' END
              || CASE WHEN c_mktsegment IS NOT NULL
                      THEN ',"segment":"' || c_mktsegment || '"' ELSE '' END
              || '}}}}' AS feature
            FROM ({_GEO_CUSTOMER_SQL})
        """)
def q_geojson_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-shape/X8/X14/P5 — full GeoJSON Feature assembly (the flagship):
    point geometry + property bag with table tag, via sinks.geojson."""
    g = _geo_customer(spark, sf_dir)
    df = g.select(
        F.lit("customer").alias("table"),
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.concat(
            F.lit('{"type":"Point","coordinates":['),
            F.col("lon1_s"), F.lit(","), F.col("lat1_s"), F.lit("]}"),
        ).alias("geometry"),
    )
    return df.select(feature_json(df).alias("feature"))


@register(twin=f"""
            SELECT c_custkey,
              lon1_s || ', ' || lat1_s || ', ' || lon2_s || ', ' || lat2_s AS coords_key,
              CAST(lon1_s AS DOUBLE) AS first_lon
            FROM ({_GEO_CUSTOMER_SQL})
        """)
def q_x4_coords_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X4/X5 — the warnify group key: coordinates flattened to a
    ', '-joined string, plus the parsed-back first coordinate."""
    g = _geo_customer(spark, sf_dir)
    key = G.coords_key("geom_json")
    return g.select(
        "c_custkey",
        key.alias("coords_key"),
        X.to_double(F.col("lon1_s")).alias("first_lon"),
    )


@register(twin="""
            SELECT l_returnflag, l_linestatus,
              sum(CAST(round(l_quantity * 100) AS BIGINT))::BIGINT AS sum_qty_c,
              sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS sum_base_price_c,
              sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT
                AS sum_disc_price_c4,
              round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 / count(*), 6)
                AS avg_qty,
              round(sum(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 / count(*), 6)
                AS avg_disc,
              count(*) AS count_order
            FROM lineitem GROUP BY 1, 2
        """)
def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic scan-heavy rollup (TPC-H Q1 shape): the partial-agg benchmark
    canary — all heavy lifting happens map-side before a 6-group shuffle.

    Money/quantity sums are computed over scaled integers (cents /
    ten-thousandths): float-double sums are accumulation-order-dependent and
    diverge between engines at the 6-decimal rounding this harness hashes;
    per-addend scaling+rounding is deterministic in both (inputs are 2-decimal
    values, never at .5 rounding ties)."""
    li = _t(spark, sf_dir, "lineitem")

    def scaled(col: F.Column, s: int) -> F.Column:
        return F.round(col * s).cast("bigint")

    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(scaled(F.col("l_quantity"), 100)).alias("sum_qty_c"),
        F.sum(scaled(F.col("l_extendedprice"), 100)).alias("sum_base_price_c"),
        F.sum(
            scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)
        ).alias("sum_disc_price_c4"),
        F.sum(scaled(F.col("l_discount"), 100)).alias("_sum_disc_c"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty_c",
        "sum_base_price_c",
        "sum_disc_price_c4",
        F.round(F.col("sum_qty_c") / 100.0 / F.col("count_order"), 6).alias("avg_qty"),
        F.round(F.col("_sum_disc_c") / 100.0 / F.col("count_order"), 6).alias("avg_disc"),
        "count_order",
    )


@register(twin=f"""
            WITH b AS (
              SELECT doc_id,
                length(text)::INT AS n_chars_calc,
                len(list_filter({_WORDS_SQL}, x -> x <> ''))::INT AS ws_tokens,
                (length(text) - length(regexp_replace(text, '[^\\w{_SPACE}]', '', 'g')))::INT
                  AS n_punct,
                {_hits_sql("en")} AS en_hits
              FROM documents),
            r AS (
              SELECT doc_id, n_chars_calc,
                CASE WHEN n_chars_calc > 0
                     THEN n_punct / CAST(n_chars_calc AS DOUBLE) ELSE 0.0 END AS praw,
                CASE WHEN ws_tokens > 0
                     THEN en_hits / CAST(ws_tokens AS DOUBLE) ELSE 0.0 END AS sraw
              FROM b)
            SELECT doc_id,
              round((CASE WHEN n_chars_calc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END
                   + CASE WHEN praw < 0.2 THEN 1.0 ELSE 0.0 END
                   + CASE WHEN sraw >= 0.05 AND sraw <= 0.6 THEN 1.0 ELSE 0.0 END)
                   / 3.0, 6) AS quality
            FROM r ORDER BY quality DESC, doc_id LIMIT 100
        """)
def q_topk_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by quality score (deterministic tie-break on doc_id) — the
    sort/limit surface the reference lacks but a data pipeline needs."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = TS.with_text_stats(d, "text", langs=("en",))
    return (
        s.select(
            "doc_id",
            TS.quality_from_stats(
                F.col("__n_chars"),
                F.col("__n_punct"),
                F.col("__ws_tokens"),
                F.col("__hits_en"),
            ).alias("quality"),
        )
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .limit(100)
    )


@register(
    twin="SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars, "
    "sum(n_chars)::BIGINT AS total_chars FROM documents GROUP BY lang"
)
def q_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (count / avg length / total chars)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    twin="SELECT p_partkey, len(list_filter(string_split(p_name, ' '), "
    "x -> x <> ''))::INT AS n_tokens FROM part"
)
def q_f5_nonblank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 — split + non-blank filter (reference src/make-recipe.js:4-6)."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.size(F.filter(F.split(F.col("p_name"), " "), X.not_blank)).alias("n_tokens"),
    )


@register(twin="SELECT p_partkey, p_name || ' it''s' AS unescaped FROM part")
def q_x11_unescape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 — un-escape ``\\'`` (reference src/from-ground-up.js:510-514);
    escaped input synthesized so the replacement is observable."""
    p = _t(spark, sf_dir, "part")
    escaped = F.concat(F.col("p_name"), F.lit(r" it\'s"))
    return p.select("p_partkey", X.unescape_quotes(escaped).alias("unescaped"))


@register(twin=f"""
            WITH j AS (
              SELECT o_orderkey, o_custkey,
                     CAST(l_linenumber AS VARCHAR) AS warning,
                     CASE WHEN l_returnflag = 'A' THEN 'Managing risk'
                          ELSE 'Concern' END AS wtype
              FROM orders JOIN lineitem ON l_orderkey = o_orderkey
              WHERE o_custkey < 100 AND l_returnflag IN ('A', 'R')),
            g AS (
              SELECT o_orderkey,
                min(o_orderkey) AS o_orderkey_c,
                min(o_custkey) AS o_custkey,
                coalesce(list(warning ORDER BY warning)
                         FILTER (WHERE wtype = 'Managing risk'), []) AS mr,
                coalesce(list(warning ORDER BY warning)
                         FILTER (WHERE wtype = 'Concern'), []) AS co
              FROM j GROUP BY o_orderkey)
            SELECT o_orderkey_c AS o_orderkey, o_custkey,
              '{_POPUP_META_SQL}'
              || '<table class="orange-table"><tbody><tr><th class="first">Concern</th></tr>'
              || coalesce(array_to_string(list_transform(co,
                   x -> '<tr><td><span class="red-x">&#x2717;</span>' || x || '</td></tr>'), ''), '')
              || '</tr><tr><tr><th>Managing risk</th></tr>'
              || coalesce(array_to_string(list_transform(mr,
                   x -> '<tr><td><span class="green-check">&#x2717;</span>' || x || '</td></tr>'), ''), '')
              || '<tr></tbody></table>' AS warnings
            FROM g
        """)
def q_x12_html_popup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/X12 — warnify with the KML orange-table HTML popup serialization,
    on the same TPC-H shape as q_warnify."""
    df = _warnify_input(spark, sf_dir)
    out = warnify_html(df, carry_cols=("o_orderkey", "o_custkey"))
    return out.select("o_orderkey", "o_custkey", "warnings")


@register(twin="""
            SELECT r_regionkey AS layer_id,
              '{"name":"' || lower(r_name)
              || '","source":"mapbox://tileset-source/ates/' || lower(r_name)
              || '","minzoom":0,"maxzoom":22}' AS layer
            FROM region
        """)
def q_x13_recipe_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13/K6 — distributed recipe-layer generation (one JSON layer per
    region) via sinks.recipe column builders."""
    r = _t(spark, sf_dir, "region")
    name = F.lower(F.col("r_name"))
    return r.select(
        F.col("r_regionkey").alias("layer_id"),
        layer_json("ates", name).alias("layer"),
    )


@register(
    twin="SELECT user_id, count(*) AS n_events, "
    "round(sum(coalesce(value, 0.0)), 6) AS total_value "
    "FROM events GROUP BY user_id"
)
def q_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState running-totals operator."""
    return user_totals(read_events(spark, os.path.join(sf_dir, "events.parquet")))


@register(twin="""
            SELECT lang, count(*) AS n_docs,
              round(quantile_cont(n_chars, 0.5), 6) AS p50,
              round(quantile_cont(n_chars, 0.9), 6) AS p90,
              round(quantile_cont(n_chars, 0.99), 6) AS p99
            FROM documents GROUP BY lang
        """)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact length quantiles (corpus profiling — interpolated
    percentile semantics match DuckDB's quantile_cont bit-for-bit)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile("n_chars", 0.5), 6).alias("p50"),
        F.round(F.percentile("n_chars", 0.9), 6).alias("p90"),
        F.round(F.percentile("n_chars", 0.99), 6).alias("p99"),
    )


@register(twin=f"""
            SELECT u.token, count(*) AS n
            FROM (SELECT unnest(list_filter(string_split({_NORM_SQL}, ' '),
                                            x -> x <> '')) AS token
                  FROM documents) u
            GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 50
        """)
def q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-50 tokens by total occurrences.
    Explode stays JVM-side, the count is a map-side partial agg on the
    token, and top-k compiles to TakeOrderedAndProject (k rows per
    partition to the driver, no global sort). Deterministic tiebreak on
    the token string keeps the result oracle-stable."""
    from database2ogr_spark.functions.hashing import words

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(words("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


@register(twin=f"""
            WITH tok AS (
              SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents),
            tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
                   FROM tok GROUP BY doc_id, term),
            dfreq AS (SELECT term, count(*)::BIGINT AS df
                      FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM tok),
            scored AS (
              SELECT doc_id, tf.term,
                round(tf * ln(n_docs / CAST(df AS DOUBLE)), 6) AS tfidf
              FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY doc_id ORDER BY tfidf DESC, term)::INT AS rank
                  FROM scored)
            SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
        """)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (inverted-index aggregation)."""
    from database2ogr_spark.operators.tfidf import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_n=3)


@register(twin="""
            WITH r AS (
              SELECT user_id, ts, max(value) AS state_value
              FROM events
              WHERE event_id % 10 = 0 AND ts IS NOT NULL
                AND user_id IS NOT NULL
              GROUP BY user_id, ts),
            l AS (SELECT event_id, user_id, ts FROM events
                  WHERE ts IS NOT NULL)
            SELECT l.event_id, l.user_id,
              CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
              coalesce(round(r.state_value, 6), -1.0) AS asof_state_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """, time_domain=True)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks natively; DuckDB ASOF JOIN is the
    oracle): every event joined to the latest at-or-before state update for
    its user (updates = every 10th event, deduped per (user, ts))."""
    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state_value"))
    )
    out = asof_join(left, right, key="user_id", value_cols=["state_value"])
    # NULL (no prior update) → sentinel: NULL semantics are pytest-verified
    # (tests/test_asof.py); the harness output avoids NULLs so any
    # sort-based order-insensitive compare is total
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.coalesce(F.round(F.col("asof_state_value"), 6), F.lit(-1.0)).alias(
            "asof_state_value"
        ),
    )


# tolerance twin: a match staler than 600 s degrades to the no-match
# sentinel (-1.0), mirroring tolerance_seconds on the Spark side
@register(twin="""
            WITH r AS (
              SELECT user_id, ts, max(value) AS state_value
              FROM events
              WHERE event_id % 10 = 0 AND ts IS NOT NULL
                AND user_id IS NOT NULL
              GROUP BY user_id, ts),
            l AS (SELECT event_id, user_id, ts FROM events
                  WHERE ts IS NOT NULL)
            SELECT l.event_id, l.user_id,
              CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
              coalesce(CASE WHEN epoch(l.ts) - epoch(r.ts) <= 600
                            THEN round(r.state_value, 6) END, -1.0)
                AS asof_state_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """, time_domain=True)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (operators/asof.py
    tolerance_seconds): matches older than 600 s yield the no-match
    sentinel, exactly like pandas merge_asof tolerance."""
    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_id") % 10 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("state_value"))
    )
    out = asof_join(
        left, right, key="user_id", value_cols=["state_value"],
        tolerance_seconds=600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.coalesce(F.round(F.col("asof_state_value"), 6), F.lit(-1.0)).alias(
            "asof_state_value"
        ),
    )


@register(twin="""
            SELECT coalesce(lang, 'ALL') AS lang,
              coalesce(source, 'ALL') AS source,
              CAST(GROUPING(lang, source) AS INT) AS gid,
              count(*) AS n_docs,
              sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY ROLLUP (lang, source)
        """)
def q_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping-sets surface) over the documents corpus."""
    d = _t(spark, sf_dir, "documents")
    out = d.rollup("lang", "source").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    # rollup NULL markers → 'ALL' so the output is NULL-free (see q_asof_join)
    return out.select(
        F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
        "gid",
        "n_docs",
        "total_chars",
    )


@register(twin="""
            SELECT coalesce(lang, 'ALL') AS lang,
              coalesce(source, 'ALL') AS source,
              CAST(GROUPING(lang, source) AS INT) AS gid,
              count(*) AS n_docs,
              sum(n_chars)::BIGINT AS total_chars
            FROM documents GROUP BY CUBE (lang, source)
        """)
def q_lang_source_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all 2^k grouping sets (rollup's sibling surface;
    same partial-agg expansion, Catalyst plans one Expand + one shuffle)."""
    d = _t(spark, sf_dir, "documents")
    out = d.cube("lang", "source").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return out.select(
        F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
        F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
        "gid",
        "n_docs",
        "total_chars",
    )


# property twin: sketch estimates are engine-specific, so the Spark
# query checks each percentile_approx estimate against the exact
# ±0.01 quantile window and the oracle asserts exact values + TRUEs
@register(twin="""
            SELECT lang, count(*) AS n_docs,
              round(quantile_cont(n_chars, 0.5), 6) AS p50,
              round(quantile_cont(n_chars, 0.9), 6) AS p90,
              round(quantile_cont(n_chars, 0.99), 6) AS p99,
              TRUE AS ok50, TRUE AS ok90, TRUE AS ok99
            FROM documents WHERE n_chars IS NOT NULL GROUP BY lang
        """)
def q_length_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-language quantiles via percentile_approx (KLL-style
    mergeable sketch) — the 100 TB twin of q_length_quantiles: exact
    percentile materializes every group value at the reducer, the sketch
    shuffles a fixed-size summary per partition.

    PROPERTY-GRADED: sketch estimates are engine-specific, so the oracle
    can't hash the estimates themselves — instead the query emits the exact
    quantiles plus booleans asserting each estimate lies inside the exact
    [p−0.01, p+0.01] quantile window (accuracy=10000 guarantees rank error
    ≤ 1e-4, 100× inside the window), and the oracle asserts the exact
    values with literal TRUEs. A hash match PROVES the accuracy contract
    held; the exact aggregation exists only in this graded entry, not in
    the production sketch path."""
    # length stats need a length: NULL n_chars rows are excluded so the
    # exact window and the sketch see the same multiset (twin mirrored)
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.percentile("n_chars", p), 6).alias(f"p{n}")
            for n, p in (("50", 0.5), ("90", 0.9), ("99", 0.99))
        ],
        *[
            F.percentile("n_chars", p).alias(f"lo{n}")
            for n, p in (("50", 0.49), ("90", 0.89), ("99", 0.98))
        ],
        *[
            F.percentile("n_chars", p).alias(f"hi{n}")
            for n, p in (("50", 0.51), ("90", 0.91), ("99", 1.0))
        ],
        *[
            F.percentile_approx("n_chars", p, 10000).alias(f"a{n}")
            for n, p in (("50", 0.5), ("90", 0.9), ("99", 0.99))
        ],
    )
    return agg.select(
        "lang",
        "n_docs",
        "p50",
        "p90",
        "p99",
        *[
            # the ±1%-rank window spans ≥1 data rank only when the group
            # has ≥50 rows; below that the window can sit strictly between
            # two data values while the sketch (exact at this size) must
            # return one of them — the property is asserted only where it
            # is satisfiable (found by the NULL probe's shrunken groups)
            (
                (F.col("n_docs") < 50)
                | F.col(f"a{n}")
                .cast("double")
                .between(F.col(f"lo{n}"), F.col(f"hi{n}"))
            ).alias(f"ok{n}")
            for n in ("50", "90", "99")
        ],
    )


@register(twin="""
            SELECT label, CAST(idx - 1 AS INT) AS dim,
              round(sum(val) / count(*), 6) AS mean
            FROM (SELECT label, unnest(embedding) AS val,
                    unnest(generate_series(1, len(embedding))) AS idx
                  FROM embeddings)
            GROUP BY 1, 2
        """)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form via grouped-map
    applyInPandas (operators/similarity.label_centroids)."""
    from database2ogr_spark.operators.similarity import label_centroids

    return label_centroids(_emb(spark, sf_dir))


@register(twin=f"""
            WITH t AS (
              SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[{_SPACE}]+'), x -> x <> '')
                  AS toks
              FROM documents),
            c AS (
              SELECT doc_id, toks,
                CAST(unnest(generate_series(0,
                  CAST(floor((len(toks) - 1) / 24.0) AS BIGINT))) AS INT)
                  AS chunk_id
              FROM t)
            SELECT doc_id, chunk_id,
              array_to_string(
                toks[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, len(toks))],
                ' ') AS chunk,
              CAST(least(32, len(toks) - chunk_id * 24) AS INT) AS n_tokens
            FROM c
        """)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking via Python UDTF + LATERAL join
    (operators/chunking.py) — 32-token windows, stride 24."""
    from database2ogr_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), size=32, stride=24)


# exact twin of operators/cleaning.remove_boilerplate over the
# synthesized crawl shape (nav header on even ids, unique body,
# per-source + global footers); trim strips [\r\t ] at both ends,
# matching _norm_lines
@register(twin="""
            WITH synth AS (
              SELECT doc_id, concat_ws(chr(10),
                CASE WHEN doc_id % 2 = 0 THEN 'NAV MENU HOME | ABOUT' END,
                text,
                'from: ' || source,
                '(c) footer all rights reserved') AS text
              FROM documents),
            L AS (SELECT doc_id,
                list_filter(list_transform(string_split(text, chr(10)),
                  x -> regexp_replace(x, '^[\\r\\t ]+|[\\r\\t ]+$', '', 'g')),
                  x -> x <> '') AS lines
              FROM synth),
            E AS (SELECT doc_id, unnest(lines) AS line FROM L),
            hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM E)
                    GROUP BY line HAVING count(*) >= 2),
            h AS (SELECT coalesce(list(line), []) AS hotlist FROM hot)
            SELECT L.doc_id,
              coalesce(array_to_string(
                list_filter(lines, x -> NOT list_contains(hotlist, x)),
                chr(10)), '') AS clean_text,
              CAST(len(list_filter(lines, x -> list_contains(hotlist, x)))
                AS BIGINT) AS n_removed
            FROM L CROSS JOIN h
        """)
def q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet boilerplate-line removal (operators/cleaning.py).

    The synthetic docs are single-line, so the entry builds the classic
    crawl shape deterministically: a nav header on even docs, the unique
    body, a per-source footer, and a global footer. The operator must
    remove exactly the injected lines (df >= 2) and keep the body."""
    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(F.col("doc_id") % 2 == 0, F.lit("NAV MENU HOME | ABOUT")),
            F.col("text"),
            F.concat(F.lit("from: "), F.col("source")),
            F.lit("(c) footer all rights reserved"),
        ).alias("text"),
    )
    return CL.remove_boilerplate(synth)


# twin of operators/cleaning.dedup_paragraphs: global winner per
# trimmed paragraph = row_number over (doc_id, pos); rn=1 keeps
@register(twin="""
            WITH synth AS (
              SELECT doc_id, concat_ws(chr(10), text, 'from: ' || source,
                'shared footer notice') AS text
              FROM documents),
            L AS (SELECT doc_id,
                list_filter(list_transform(string_split(text, chr(10)),
                  x -> regexp_replace(x, '^[\\r\\t ]+|[\\r\\t ]+$', '', 'g')),
                  x -> x <> '') AS lines
              FROM synth),
            E AS (SELECT doc_id, para, pos FROM (
              SELECT doc_id, unnest(lines) AS para,
                     generate_subscripts(lines, 1) AS pos FROM L)),
            W AS (SELECT *, row_number() OVER (PARTITION BY para
                    ORDER BY doc_id, pos) AS rn FROM E),
            agg AS (
              SELECT doc_id,
                string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
                           ORDER BY pos) AS dedup_text,
                count(*) FILTER (WHERE rn > 1) AS n_dropped
              FROM W GROUP BY doc_id)
            SELECT d.doc_id, coalesce(a.dedup_text, '') AS dedup_text,
                   CAST(coalesce(a.n_dropped, 0) AS BIGINT) AS n_dropped
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact paragraph dedup (operators/cleaning.py): first
    occurrence (min doc_id, then position) of each trimmed paragraph wins;
    later copies are dropped. Built over the same synthesized crawl shape as
    remove_boilerplate — but here the per-source and global footers survive
    in exactly ONE doc each instead of vanishing everywhere."""
    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.concat(F.lit("from: "), F.col("source")),
            F.lit("shared footer notice"),
        ).alias("text"),
    )
    return CL.dedup_paragraphs(synth)


# twin of operators/cleaning.quality_filter_flags — thresholds are
# the frozen QUALITY_RULES; tokenization identical to text_quality
@register(twin=f"""
            WITH b AS (
              SELECT doc_id,
                length(text)::INT AS n_chars,
                len({_WORDS_SQL})::INT AS ws_tokens,
                (length(text) - length(regexp_replace(text, '[^\\w{_SPACE}]', '', 'g')))::INT
                  AS n_punct,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform({_WORDS_SQL}, w -> CAST(length(w) AS BIGINT))),
                  (a, b) -> a + b) AS sum_wlen,
                len(list_distinct({_WORDS_SQL}))::INT AS distinct_toks
              FROM documents),
            r AS (
              SELECT doc_id, ws_tokens,
                CASE WHEN ws_tokens > 0 THEN sum_wlen / CAST(ws_tokens AS DOUBLE)
                     ELSE 0.0 END AS mwl,
                CASE WHEN n_chars > 0 THEN n_punct / CAST(n_chars AS DOUBLE)
                     ELSE 0.0 END AS sym,
                CASE WHEN ws_tokens > 0 THEN distinct_toks / CAST(ws_tokens AS DOUBLE)
                     ELSE 0.0 END AS div
              FROM b),
            f AS (
              SELECT doc_id,
                coalesce(ws_tokens >= 20 AND ws_tokens <= 100000, false) AS ok_words,
                coalesce(mwl >= 2.0 AND mwl <= 12.0, false) AS ok_word_len,
                coalesce(sym < 0.1, false) AS ok_symbols,
                coalesce(div >= 0.2, false) AS ok_diversity
              FROM r)
            SELECT doc_id, ok_words, ok_word_len, ok_symbols, ok_diversity,
              ok_words AND ok_word_len AND ok_symbols AND ok_diversity AS keep,
              CASE WHEN NOT ok_words THEN 'ok_words'
                   WHEN NOT ok_word_len THEN 'ok_word_len'
                   WHEN NOT ok_symbols THEN 'ok_symbols'
                   WHEN NOT ok_diversity THEN 'ok_diversity'
                   ELSE '' END AS fail_reason
            FROM f
        """)
def q_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher quality-filter cascade (operators/cleaning.py): per-rule
    audit flags + keep verdict + first-failed-rule reason."""
    return CL.quality_filter_flags(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )


# twin of operators/cleaning.mix_sources — achievable total
# T = min(n_s/w_s) (0 if a weighted source is absent), per-source
# keep rate w*T/n, same md5 hash-mod row rule as deterministic_sample
@register(twin=f"""
            WITH counts AS (
              SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents
              WHERE source IN ('src0', 'src1', 'src2') GROUP BY source),
            w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3),
                                        ('src2', 0.2)) AS t(source, w)),
            cw AS (SELECT counts.source, n, w FROM counts JOIN w USING (source)),
            tot AS (SELECT CASE WHEN count(*) < 3 THEN 0.0
                                ELSE min(n / w) END AS T FROM cw),
            rates AS (SELECT source, w * T / n AS rate FROM cw CROSS JOIN tot)
            SELECT doc_id, d.source, lang
            FROM documents d JOIN rates USING (source)
            WHERE {_h64_sql("CAST(doc_id AS VARCHAR)", 11)} % 1000000
                  < rate * 1000000.0
        """)
def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture resampling (operators/cleaning.py):
    50/30/20 over src0/src1/src2 — the binding source keeps 100%, others
    are hash-mod downsampled to the exact achievable mixture."""
    return CL.mix_sources(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
    ).select("doc_id", "source", "lang")


# twin of operators/sampling.top_fraction_per_group: top 25% of each
# source by n_chars, rank ties broken by doc_id, ceil small-group guard
@register(twin="""
            WITH r AS (
              SELECT doc_id, source, n_chars,
                row_number() OVER (PARTITION BY source
                  ORDER BY n_chars DESC, doc_id ASC) AS rk,
                count(*) OVER (PARTITION BY source) AS n
              FROM documents)
            SELECT doc_id, source, n_chars FROM r WHERE rk <= ceil(n * 0.25)
        """)
def q_top_fraction_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration (operators/sampling.
    top_fraction_per_group): keep the longest 25% of each source (n_chars as
    the stand-in score) — deterministic rank, ceil guard for tiny groups."""
    return SMP.top_fraction_per_group(
        _t(spark, sf_dir, "documents"),
        fraction=0.25,
        score_col="n_chars",
        group_col="source",
    ).select("doc_id", "source", "n_chars")


# twin of operators/sampling.split_corpus — bucket ranges in sorted
# split-name order: test [0,5), train [5,95), val [95,100)
@register(twin=f"""
            SELECT doc_id, lang,
              CASE WHEN {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} % 100 < 5
                     THEN 'test'
                   WHEN {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} % 100 < 95
                     THEN 'train'
                   ELSE 'val' END AS split
            FROM documents
        """)
def q_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/sampling.split_corpus):
    90/5/5 by hash bucket — disjoint, exhaustive, append-stable."""
    return SMP.split_corpus(
        _t(spark, sf_dir, "documents"), {"train": 90, "val": 5, "test": 5}
    ).select("doc_id", "lang", "split")


@register(twin=f"""
            SELECT doc_id, lang FROM documents
            WHERE {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} % 100 < 10
        """)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed 10% sample — deterministic under repartition/retry (unlike
    df.sample), reproducible in any engine with md5."""
    return SMP.deterministic_sample(
        _t(spark, sf_dir, "documents"), pct=10, seed=7
    ).select("doc_id", "lang")


@register(twin=f"""
            SELECT doc_id, lang FROM documents
            WHERE {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} % 100 <
              CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 20 ELSE 10 END
        """)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling rates (the training-mixture
    knob): en 50%, zh 20%, others 10%."""
    return SMP.stratified_sample(
        _t(spark, sf_dir, "documents"),
        {"en": 50, "zh": 20},
        default_pct=10,
        seed=7,
    ).select("doc_id", "lang")


@register(twin="""
            SELECT doc_id, lang, n_chars,
              CAST(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_chars) / 10000) AS BIGINT) AS bin_id
            FROM documents
        """)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy boundary-based sequence packing into ~10k-char bins per lang
    (window cumsum — parallelism across langs)."""
    packed = SMP.pack_sequences(
        _t(spark, sf_dir, "documents"),
        budget=10_000,
        group_col="lang",
        id_col="doc_id",
        token_col="n_chars",
    )
    return packed.select("doc_id", "lang", "n_chars", "bin_id")


@register(
    twin="SELECT doc_id, regexp_replace(regexp_replace("
    "text || ' contact: a.b@test.org 12345678', "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), "
    "'[0-9]{7,}', '[NUM]', 'g') AS clean FROM documents"
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data scrubbing: emails→[EMAIL], long digit runs→[NUM]
    (redactable tokens appended so the replacement is observable)."""
    d = _t(spark, sf_dir, "documents")
    noisy = F.concat(F.col("text"), F.lit(" contact: a.b@test.org 12345678"))
    return d.select("doc_id", X.redact(noisy).alias("clean"))


def _synth_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy URL per document (the corpus carries no URL
    column): mixed-case scheme/host, www prefixes, default and explicit
    ports, tracking params, unsorted query, fragments, trailing slashes —
    one of each normalization rule to exercise."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.when(k % 3 == 0, F.lit("HTTPS://WWW.")).otherwise(F.lit("http://")),
            F.when(k % 6 == 0, F.lit("cdn.")).otherwise(F.lit("")),
            F.col("source"),
            F.lit("-Example"),
            F.when(k % 4 == 0, F.lit(".co.uk")).otherwise(F.lit(".com")),
            F.when(k % 3 == 0, F.lit(":443"))
            .when(k % 5 == 0, F.lit(":8080"))
            .otherwise(F.lit("")),
            F.lit("/Docs/"),
            k.cast("string"),
            F.when(k % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=feed&b=2&a=1"),
            F.when(k % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )


# twins of functions/urls.py over the synthesized messy URLs — every
# normalization rule mirrored regex-for-regex
@register(twin=_URL_PARSE_SQL + """
            SELECT doc_id,
              CASE WHEN scheme <> '' AND host <> '' THEN
                scheme || '://' || host
                || (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                          OR (scheme = 'https' AND port = '443'))
                    THEN ':' || port ELSE '' END)
                || path
                || (CASE WHEN qq <> '' THEN '?' || qq ELSE '' END)
              END AS url_norm,
              host, domain
            FROM parsed
        """)
def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py): lowercase scheme/host,
    strip www/default ports/fragments/tracking params, sort surviving
    params, collapse trailing slash; plus host and eTLD+1 extraction."""
    from database2ogr_spark.functions import urls as U

    s = _synth_url(spark, sf_dir)
    return s.select(
        "doc_id",
        U.normalize_url(F.col("url")).alias("url_norm"),
        U.url_host(F.col("url")).alias("host"),
        U.registered_domain(U.url_host(F.col("url"))).alias("domain"),
    )


@register(twin=_URL_PARSE_SQL + f"""
            , r AS (
              SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
                ORDER BY {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} ASC, doc_id ASC) AS rk
              FROM parsed)
            SELECT doc_id, domain FROM r WHERE rk <= 10
        """)
def q_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota (operators/sampling.cap_per_group): at most 10 docs
    per registered domain, hash-rank deterministic."""
    from database2ogr_spark.functions import urls as U

    s = _synth_url(spark, sf_dir)
    with_domain = s.select(
        "doc_id", U.registered_domain(U.url_host(F.col("url"))).alias("domain")
    )
    return SMP.cap_per_group(
        with_domain, cap=10, group_col="domain", id_col="doc_id"
    )


@register(twin="""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings)
            SELECT vec_id,
              round(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
              round(v[1] / sqrt(list_dot_product(v, v)), 6) AS u0
            FROM c
        """)
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + first normalized component per embedding (the narrow
    pre-processing stage every ANN pipeline runs)."""
    emb = _emb(spark, sf_dir)
    norm = SIM.l2_norm(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.element_at("embedding", 1).cast("double") / norm, 6).alias("u0"),
    )


# ---------------------------------------------------------------------------
# queries — training-data pipeline surface (documents / embeddings / events)


@register(twin=f"""
            SELECT md5({_NORM_SQL}) AS fingerprint, min(doc_id) AS survivor_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1
        """)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.dedup_exact(_t(spark, sf_dir, "documents"))


@register(twin=f"""
            WITH f AS (SELECT md5({_NORM_SQL}) AS fp, min(doc_id) AS sid
                       FROM documents GROUP BY 1)
            SELECT doc_id, lang, n_chars FROM documents JOIN f ON doc_id = f.sid
        """)
def q_dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.dedup_exact_survivors(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars"
    )


@register(twin=f"""
            WITH b AS (
              SELECT doc_id, text,
                length(text)::INT AS n_chars_calc,
                len(list_filter({_WORDS_SQL}, x -> x <> ''))::INT AS ws_tokens,
                len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_SPACE}]'))::INT AS re_tokens,
                (length(text) - length(regexp_replace(text, '[^\\w{_SPACE}]', '', 'g')))::INT
                  AS n_punct,
                {_hits_sql("en")} AS en_hits,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform({_WORDS_SQL}, w -> CAST(length(w) AS BIGINT))),
                  (a, b) -> a + b) AS sum_wlen
              FROM documents),
            r AS (
              SELECT doc_id, n_chars_calc, ws_tokens, re_tokens,
                CASE WHEN n_chars_calc > 0
                     THEN n_punct / CAST(n_chars_calc AS DOUBLE) ELSE 0.0 END AS praw,
                CASE WHEN ws_tokens > 0
                     THEN en_hits / CAST(ws_tokens AS DOUBLE) ELSE 0.0 END AS sraw,
                CASE WHEN ws_tokens > 0
                     THEN sum_wlen / CAST(ws_tokens AS DOUBLE) ELSE 0.0 END AS mraw
              FROM b)
            SELECT doc_id, n_chars_calc, ws_tokens, re_tokens,
              round(praw, 6) AS punct_ratio,
              round(sraw, 6) AS stopword_ratio,
              round(mraw, 6) AS mean_word_len,
              round((CASE WHEN n_chars_calc BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.0 END
                   + CASE WHEN praw < 0.2 THEN 1.0 ELSE 0.0 END
                   + CASE WHEN sraw >= 0.05 AND sraw <= 0.6 THEN 1.0 ELSE 0.0 END)
                   / 3.0, 6) AS quality
            FROM r
        """)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = TS.with_text_stats(
        d, "text", langs=("en",), include_wordlen=True, include_regex_tokens=True
    )
    n = F.col("__n_chars")
    ws = F.col("__ws_tokens")
    hits = F.col("__hits_en")
    pr = F.when(n > 0, F.col("__n_punct").cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    swr = F.when(ws > 0, hits.cast("double") / ws.cast("double")).otherwise(F.lit(0.0))
    mwl = F.when(
        ws > 0, F.col("__wordlen_total").cast("double") / ws.cast("double")
    ).otherwise(F.lit(0.0))
    return s.select(
        "doc_id",
        n.alias("n_chars_calc"),
        ws.alias("ws_tokens"),
        F.col("__re_tokens").alias("re_tokens"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(swr, 6).alias("stopword_ratio"),
        F.round(mwl, 6).alias("mean_word_len"),
        TS.quality_from_stats(n, F.col("__n_punct"), ws, hits).alias("quality"),
    )


@register(twin=f"""
            WITH h AS (SELECT doc_id, lang, {_HITS_SELECT} FROM documents
                       WHERE text IS NOT NULL),
            b AS (SELECT *, {_BEST} AS best FROM h)
            SELECT doc_id, lang, {_LANG_CASE} AS lang_guess FROM b
        """)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text analyses need text: NULL-text docs are excluded (documents-
    # family dirty-data contract, mirrored in the twin)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
    )
    s = TS.with_text_stats(d, "text", langs=tuple(TS.STOPWORDS))
    hits = {lang: F.col(f"__hits_{lang}") for lang in TS.STOPWORDS}
    return s.select("doc_id", "lang", TS.lang_id_from_hits(hits).alias("lang_guess"))


@register(twin=f"""
            WITH h AS (SELECT doc_id, lang, {_HITS_SELECT} FROM documents
                       WHERE text IS NOT NULL),
            b AS (SELECT *, {_BEST} AS best FROM h),
            p AS (SELECT lang AS lang_true, {_LANG_CASE} AS lang_pred FROM b),
            cm AS (SELECT lang_true, lang_pred, count(*) AS n
                   FROM p GROUP BY 1, 2),
            t AS (SELECT lang_true, sum(n) AS tt FROM cm GROUP BY 1)
            SELECT cm.lang_true, cm.lang_pred, cm.n,
                   round(cm.n::DOUBLE / t.tt, 6) AS frac_of_true
            FROM cm JOIN t USING (lang_true)
        """)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval surface for the heuristic lang-id: confusion matrix
    of metadata lang vs predicted lang with per-true-language recall
    shares — the aggregate report a 100 TB run reads instead of per-doc
    predictions. One partial-agg'd shuffle on the (true, pred) pair, a
    per-true total via a second agg sharing the prefix; report is
    #langs² rows max. Twin wraps the verified lang_id twin."""
    # text analyses need text: NULL-text docs are excluded (documents-
    # family dirty-data contract, mirrored in the twin)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
    )
    s = TS.with_text_stats(d, "text", langs=tuple(TS.STOPWORDS))
    hits = {lang: F.col(f"__hits_{lang}") for lang in TS.STOPWORDS}
    pred = s.select(
        F.col("lang").alias("lang_true"),
        TS.lang_id_from_hits(hits).alias("lang_pred"),
    )
    cm = pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cm.groupBy("lang_true").agg(F.sum("n").alias("_t"))
    return cm.join(tot, "lang_true").select(
        "lang_true",
        "lang_pred",
        "n",
        F.round(F.col("n") / F.col("_t"), 6).alias("frac_of_true"),
    )


# exact Mann-Whitney AUC from the distinct-score histogram, same
# unrolled logreg twin as quality_classifier/calibration_report
@register(twin=f"""
            WITH sc AS ({_logreg_sql()}),
            h AS (SELECT prob AS s, sum(label)::BIGINT AS p_s,
                         (count(*) - sum(label))::BIGINT AS n_s
                  FROM sc GROUP BY prob),
            c AS (SELECT *, sum(n_s) OVER (ORDER BY s
                    ROWS UNBOUNDED PRECEDING) - n_s AS cum_n FROM h),
            u AS (SELECT sum(p_s) AS n_pos, sum(n_s) AS n_neg,
                         sum(p_s * cum_n + 0.5 * p_s * n_s) AS uu FROM c)
            SELECT CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(n_neg AS BIGINT) AS n_neg,
                   CASE WHEN n_pos > 0 AND n_neg > 0
                        THEN round(uu / (n_pos * n_neg), 6) END AS auc
            FROM u
        """)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC for the weak-label quality classifier
    (classifier.auc_report over quality_classifier_scores): Mann-Whitney
    with tie credit from the distinct-score histogram — no corpus-sized
    global sort. Twin wraps the same unrolled integer-logreg twin as
    quality_classifier and calibration_report."""
    from database2ogr_spark.operators.classifier import (
        auc_report,
        quality_classifier_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier_scores(docs, F.col("lang") == "en")
    return auc_report(scored)


@register(twin="""
            WITH c AS (SELECT vec_id, label,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            l AS (SELECT label, i, v[i + 1] AS x
                  FROM c CROSS JOIN (SELECT unnest(range(0, 64)) AS i) t),
            dims AS (SELECT label, i, sum(x) AS s FROM l GROUP BY label, i),
            sq AS (SELECT label, sum(s * s) AS sum_sq FROM dims GROUP BY label),
            base AS (SELECT label, count(*) AS n,
                            sum(list_dot_product(v, v)) AS ssq
                     FROM c GROUP BY label)
            SELECT b.label, b.n,
                   round(b.ssq / b.n, 6) AS mean_self_dot,
                   CASE WHEN b.n > 1
                        THEN round((q.sum_sq - b.ssq) / (b.n * (b.n - 1)), 6)
                        END AS mean_pairwise_dot
            FROM base b JOIN sq q ON b.label IS NOT DISTINCT FROM q.label
        """)
def q_label_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-label embedding diversity (similarity.label_diversity): mean
    pairwise dot per label via the sum-vector identity — one grouped
    aggregation, NOTHING quadratic. Twin replays per-dim sums and the
    identity in DuckDB list arithmetic."""
    return SIM.label_diversity(_emb(spark, sf_dir), dim=64)


@register(twin="""
            WITH s1 AS (SELECT user_id, min(ts) AS rt FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                                        AND e.ts > s1.rt
                   WHERE e.event_type = 'click' GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s2 ON e.user_id = s2.user_id
                                        AND e.ts > s2.rt
                   WHERE e.event_type = 'purchase' GROUP BY e.user_id),
            c AS (
              SELECT 1 AS step, 'view' AS event_type,
                     count(*)::BIGINT AS users FROM s1
              UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM s2
              UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM s3)
            SELECT step, event_type, users,
              round(users / first_value(users) OVER (ORDER BY step), 6)
                AS conv_from_first,
              round(users / coalesce(lag(users) OVER (ORDER BY step), users),
                    6) AS conv_from_prev
            FROM c
        """, time_domain=True)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase (funnel.funnel_conversion):
    chain of user-keyed joins, each stage's reach table shrinking
    monotonically; strict ``>`` tie rule shared with the twin. Output is
    3 rows of step counts + conversion rates."""
    from database2ogr_spark.operators.funnel import funnel_conversion

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return funnel_conversion(ev, ["view", "click", "purchase"])


# windowed funnel: same chain + epoch-gap bound inside each join
@register(twin="""
            WITH s1 AS (SELECT user_id, min(ts) AS rt FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                     AND e.ts > s1.rt
                     AND epoch(e.ts) <= epoch(s1.rt) + 86400
                   WHERE e.event_type = 'click' GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s2 ON e.user_id = s2.user_id
                     AND e.ts > s2.rt
                     AND epoch(e.ts) <= epoch(s2.rt) + 86400
                   WHERE e.event_type = 'purchase' GROUP BY e.user_id),
            c AS (
              SELECT 1 AS step, 'view' AS event_type,
                     count(*)::BIGINT AS users FROM s1
              UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM s2
              UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM s3)
            SELECT step, event_type, users,
              round(users / first_value(users) OVER (ORDER BY step), 6)
                AS conv_from_first,
              round(users / coalesce(lag(users) OVER (ORDER BY step), users),
                    6) AS conv_from_prev
            FROM c
        """, time_domain=True)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (funnel.funnel_conversion with max_gap 86400 s):
    each step must land within a day of the previous reach — the journey
    constraint every product suite ships; same join chain + one extra
    in-join predicate."""
    from database2ogr_spark.operators.funnel import funnel_conversion

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return funnel_conversion(
        ev, ["view", "click", "purchase"], max_gap_seconds=86400
    )


@register(twin="""
            WITH ud AS (SELECT DISTINCT user_id AS u,
                          CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
                        FROM events),
            a AS (SELECT u, d, min(d) OVER (PARTITION BY u) AS d0 FROM ud),
            b AS (SELECT CAST(floor(d0 / 7) AS BIGINT) AS cohort_bucket,
                         CAST(floor((d - d0) / 7) AS BIGINT) AS "offset", u
                  FROM a),
            g AS (SELECT cohort_bucket, "offset",
                         count(DISTINCT u)::BIGINT AS active_users
                  FROM b GROUP BY cohort_bucket, "offset")
            SELECT cohort_bucket, "offset", active_users,
              round(active_users /
                (max(CASE WHEN "offset" = 0 THEN active_users END)
                   OVER (PARTITION BY cohort_bucket)), 6) AS retention
            FROM g
        """, time_domain=True)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (funnel.retention_cohorts): integer
    epoch-day arithmetic only (no calendar functions in the plan), one
    distinct + one user-keyed window + one (cohort, offset) agg."""
    from database2ogr_spark.operators.funnel import retention_cohorts

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return retention_cohorts(ev, bucket_days=7)


@register(twin=f"""
            WITH tk AS (SELECT doc_id, list_filter(string_split(
                          regexp_replace(text, '[{_SPACE}]+', ' ', 'g'), ' '),
                          x -> x <> '') AS w
                        FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS token FROM tk),
            tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
                   FROM tok GROUP BY doc_id, token),
            dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl
                   FROM tf GROUP BY doc_id),
            st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
                   FROM dl),
            dfq AS (SELECT token, count(*)::BIGINT AS dfreq FROM tf
                    WHERE token IN ('spark', 'window', 'shuffle')
                    GROUP BY token),
            sc AS (SELECT tf.doc_id,
                     sum(ln(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                         * (tf * 2.2)
                         / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS s
                   FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)
                        CROSS JOIN st
                   GROUP BY tf.doc_id)
            SELECT doc_id, round(s, 6) AS score FROM sc
            ORDER BY score DESC, doc_id LIMIT 15
        """)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 for 'spark window shuffle' (search.bm25_topk)
    over the materialized positional index — ranked retrieval completing
    the boolean/phrase family. Scores rounded 6 dp; (score DESC, doc_id)
    cut is deterministic. Twin replays tf/dl/idf off the corpus."""
    from database2ogr_spark.operators.search import (
        bm25_topk,
        build_positional_index,
    )

    out = _tmp("d2o_bm25_idx")
    build_positional_index(_t(spark, sf_dir, "documents"), out)
    return bm25_topk(spark, out, ["spark", "window", "shuffle"], k=15)


# same 62-bit rolling-shingle ids as duplicate_spans/novelty —
# cross-engine identity incl. the short-doc fallback shingle
@register(twin=f"""
            WITH sh AS ({_SHINGLES_SQL}),
            g AS (SELECT DISTINCT d.source AS source, gx.gram
                  FROM (SELECT doc_id, unnest(s) AS gram FROM sh) gx
                  JOIN documents d USING (doc_id)),
            ps AS (SELECT source, count(*)::BIGINT AS n_grams
                   FROM g GROUP BY source),
            pr AS (SELECT a.source AS source_a, b.source AS source_b,
                          count(*)::BIGINT AS n_common
                   FROM g a JOIN g b ON a.gram = b.gram
                                    AND a.source < b.source
                   GROUP BY a.source, b.source)
            SELECT source_a, source_b,
                   pa.n_grams AS grams_a, pb.n_grams AS grams_b, n_common,
              round(n_common /
                    (pa.n_grams + pb.n_grams - n_common), 6) AS jaccard
            FROM pr JOIN ps pa ON pa.source = pr.source_a
                    JOIN ps pb ON pb.source = pr.source_b
        """)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap (overlap.source_overlap_matrix): exact
    pairwise word-3-gram Jaccard between the corpus's sources — the audit
    that decides whether cross-source dedup is worth running. Per-gram
    source-sets stay bounded by #sources; no gram self-join."""
    from database2ogr_spark.operators.overlap import source_overlap_matrix

    return source_overlap_matrix(_t(spark, sf_dir, "documents"), n=3)


@register(twin="""
            SELECT lang, source,
                   CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
                   count(*)::BIGINT AS n,
                   CAST(count(*) < 5 AS INT) AS at_risk
            FROM documents GROUP BY lang, source, len_bucket
        """)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity screen (validate.k_anonymity_report) on the
    (lang, source, 100-char length bucket) quasi-identifier combination,
    k=5 — the release-gate complement to redact_pii."""
    from database2ogr_spark.operators.validate import k_anonymity_report

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).alias("len_bucket"),
    )
    return k_anonymity_report(docs, ["lang", "source", "len_bucket"], k=5)


@register(twin="""
            SELECT lang, len_bucket, n, n_sensitive,
              CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END AS at_risk
            FROM (
              SELECT lang, CAST(floor(n_chars / 200.0) AS BIGINT)
                       AS len_bucket,
                     count(*)::BIGINT AS n,
                     count(DISTINCT coalesce(source, '∅'))::BIGINT
                       AS n_sensitive
              FROM documents GROUP BY 1, 2) g
        """)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity screen (validate.l_diversity_report) on the
    (lang, 200-char length bucket) quasi-identifier with source as the
    sensitive attribute, l=3 — the homogeneity-attack companion to
    k_anonymity: one exact count-distinct agg, #combinations output."""
    from database2ogr_spark.operators.validate import l_diversity_report

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.floor(F.col("n_chars") / 200).alias("len_bucket"),
        "source",
    )
    return l_diversity_report(docs, ["lang", "len_bucket"], "source", l=3)


# Poisson bootstrap: seed-23 hash uniforms through the shared
# Poisson(1) inverse-CDF thresholds; order-stat percentiles
@register(twin=f"""
            WITH sel AS (SELECT CAST(doc_id AS VARCHAR) AS rid,
                           CAST(n_chars AS DOUBLE) AS v
                         FROM documents WHERE n_chars IS NOT NULL),
            obs AS (SELECT count(*)::BIGINT AS n_rows, avg(v) AS mu
                    FROM sel),
            dr AS (SELECT v, j,
                     ({_h64_sql("rid || ':' || CAST(j AS VARCHAR)", 23)}
                        ::DOUBLE + 0.5) / 1152921504606846976.0 AS u
                   FROM sel CROSS JOIN
                     (SELECT unnest(range(1, 201)) AS j) jj),
            wt AS (SELECT v, j,
                     CASE WHEN u < 0.36787944117144233 THEN 0
                          WHEN u < 0.7357588823428847 THEN 1
                          WHEN u < 0.9196986029286058 THEN 2
                          WHEN u < 0.9810118431238462 THEN 3
                          WHEN u < 0.9963401531726563 THEN 4
                          ELSE 5 END AS w
                   FROM dr),
            pj AS (SELECT j, round(sum(w * v) / sum(w), 6) AS bm
                   FROM wt GROUP BY j HAVING sum(w) > 0),
            rk AS (SELECT bm, row_number() OVER (ORDER BY bm) AS r
                   FROM pj)
            SELECT n_rows, 200 AS n_boot, round(mu, 6) AS mean,
              (SELECT min(bm) FROM rk WHERE r >= 5) AS ci_lo,
              (SELECT min(bm) FROM rk WHERE r >= 195) AS ci_hi
            FROM obs
        """)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI (diff.bootstrap_ci, 200 replicates) for mean
    document length — the deterministic hash-weight bootstrap that works
    without resampling state; per-replicate sums one ≤n_boot-key
    shuffle."""
    from database2ogr_spark.operators.diff import bootstrap_ci

    return bootstrap_ci(_t(spark, sf_dir, "documents"), "n_chars", n_boot=200)


def _gmedian_sql(n_iter: int = 3, dim: int = 64) -> str:
    """DuckDB twin of similarity.geometric_median: mean start, then per
    iteration the dot-decomposed distance (rounded 9) and the weighted
    per-dim update (rounded 6), ending in the long-form y{n} table."""
    parts = [
        f"""
v AS (SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
pos AS (SELECT unnest(range(1, {dim + 1})) AS p),
y0m AS (SELECT label, p, round(sum(v[CAST(p AS INT)]) / count(*), 6) AS m
        FROM v CROSS JOIN pos GROUP BY label, p),
y0 AS (SELECT label, list(m ORDER BY p) AS y FROM y0m GROUP BY label)"""
    ]
    for k in range(1, n_iter + 1):
        parts.append(f"""
d{k} AS (SELECT v.label, v.v,
           round(sqrt(greatest(list_dot_product(v.v, v.v)
             - 2 * list_dot_product(v.v, y.y)
             + list_dot_product(y.y, y.y), 0)), 9) AS d
         FROM v JOIN y{k - 1} y
           ON v.label IS NOT DISTINCT FROM y.label),
y{k}m AS (SELECT label, p,
            round(sum(v[CAST(p AS INT)] / greatest(d, 1e-9))
                  / sum(1.0 / greatest(d, 1e-9)), 6) AS m
          FROM d{k} CROSS JOIN pos GROUP BY label, p),
y{k} AS (SELECT label, list(m ORDER BY p) AS y FROM y{k}m
         GROUP BY label)""")
    return (
        "WITH " + ",".join(parts)
        + f"""
        SELECT label, CAST(p - 1 AS INT) AS dim, m AS gmedian
        FROM y{n_iter}m"""
    )


@register(twin=_gmedian_sql())
def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label geometric median (similarity.geometric_median, 3
    Weiszfeld iterations) — the robust centroid next to label_centroids'
    mean; unrolled-iteration replay discipline as k-means."""
    from database2ogr_spark.operators.similarity import geometric_median

    return geometric_median(_emb(spark, sf_dir), n_iter=3)


@register(twin="""
            WITH j AS (SELECT CAST(floor(value / 50) AS BIGINT) AS x,
                         event_type AS y, count(*)::BIGINT AS n
                       FROM events WHERE (value IS NULL OR isfinite(value))
                       GROUP BY 1, 2),
            t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM j),
            hxy AS (SELECT -sum((n / tot) * ln(n / tot)) AS h
                    FROM j CROSS JOIN t),
            hx AS (SELECT -sum((n / tot) * ln(n / tot)) AS h
                   FROM (SELECT x, sum(n) AS n FROM j GROUP BY x) mx
                        CROSS JOIN t),
            hy AS (SELECT -sum((n / tot) * ln(n / tot)) AS h
                   FROM (SELECT y, sum(n) AS n FROM j GROUP BY y) my
                        CROSS JOIN t)
            SELECT 'vbin' AS col_x, 'event_type' AS col_y,
              round(hx.h, 6) AS h_x, round(hy.h, 6) AS h_y,
              round(hxy.h, 6) AS h_xy,
              round(hx.h + hy.h - hxy.h, 6) AS mi,
              CASE WHEN least(hx.h, hy.h) > 0
                   THEN round((hx.h + hy.h - hxy.h) / least(hx.h, hy.h), 6)
                   END AS nmi
            FROM hx CROSS JOIN hy CROSS JOIN hxy
        """)
def q_mi_value_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric↔categorical dependence (validate.mutual_information over
    the 50-unit-binned event value vs event_type) — the binned-numeric
    tier of the MI leakage detector; same one-pass joint table."""
    from database2ogr_spark.operators.validate import mutual_information

    from database2ogr_spark.operators.cleaning import drop_nonfinite

    ev = drop_nonfinite(_t(spark, sf_dir, "events"), "value").withColumn(
        "vbin", F.floor(F.col("value") / 50).cast("bigint")
    )
    return mutual_information(ev, "vbin", "event_type")


@register(twin="""
            WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT)
                         AS d, count(*)::BIGINT AS x
                       FROM events GROUP BY 1),
            b AS (SELECT min(d) AS lo, max(d) AS hi FROM c),
            sp AS (SELECT unnest(range(lo, hi + 1)) AS d FROM b),
            daily AS (SELECT sp.d,
                        coalesce(c.x, 0)::DOUBLE AS x
                      FROM sp LEFT JOIN c ON sp.d = c.d),
            st AS (SELECT count(*)::BIGINT AS n, avg(x) AS mu,
                     stddev_pop(x) AS sd FROM daily),
            cum AS (SELECT d, n, sd,
                      round(abs(sum(x - mu) OVER (ORDER BY d
                        ROWS UNBOUNDED PRECEDING)), 6) AS s_abs
                    FROM daily CROSS JOIN st)
            SELECT n AS n_days, d AS changepoint_day, s_abs AS s_max_abs,
              CASE WHEN sd > 0
                   THEN round(s_abs / (sd * sqrt(n::DOUBLE)), 6) END
                AS normalized
            FROM cum ORDER BY s_abs DESC, d ASC LIMIT 1
        """, time_domain=True)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point on daily event volume (timeseries.changepoint_
    cusum) — the pipeline-outage / level-shift detector; day spine
    counts zero-activity days, everything after the first agg is
    #days-row work."""
    from database2ogr_spark.operators.timeseries import changepoint_cusum

    return changepoint_cusum(_t(spark, sf_dir, "events"))


# per-group OLS over the per-group day spine; x/y are
# integer-valued doubles so all five sums are exact in both
# engines, making slope, intercept and r-squared bit-stable before
# rounding
@register(twin="""
            WITH c AS (SELECT event_type AS g,
                         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
                         count(*)::BIGINT AS y
                       FROM events GROUP BY 1, 2),
            b AS (SELECT g, min(d) AS lo, max(d) AS hi FROM c GROUP BY g),
            sp AS (SELECT g, lo, unnest(range(lo, hi + 1)) AS d FROM b),
            daily AS (SELECT sp.g, (sp.d - sp.lo)::DOUBLE AS x,
                        coalesce(c.y, 0)::DOUBLE AS y
                      FROM sp LEFT JOIN c ON sp.g = c.g AND sp.d = c.d),
            s AS (SELECT g, count(*)::BIGINT AS n, sum(x) AS sx,
                    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
                    sum(y * y) AS syy
                  FROM daily GROUP BY g)
            SELECT g AS event_type, n AS n_days,
              round(CASE WHEN n * sxx - sx * sx > 0
                    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END,
                6) AS slope,
              round(sy / n - (CASE WHEN n * sxx - sx * sx > 0
                    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END)
                * (sx / n), 6) AS intercept,
              round(CASE WHEN n * sxx - sx * sx > 0
                         AND n * syy - sy * sy > 0
                    THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
                      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END,
                6) AS r2
            FROM s
        """, time_domain=True)
def q_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily volume (timeseries.trend_slope)
    — growth/decay audit the CUSUM level shift doesn't answer; day spine
    per group counts silent days as zeros, x centered per group, sums are
    integer-valued doubles so both engines aggregate exactly."""
    from database2ogr_spark.operators.timeseries import trend_slope

    return trend_slope(_t(spark, sf_dir, "events"))


# horizon fan-out replay; alpha .5 => pow(.5, k) is an exact
# power of two, so num/den are exact sums in both engines
@register(twin="""
            WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT)
                         AS d, count(*)::BIGINT AS x
                       FROM events GROUP BY 1),
            b AS (SELECT min(d) AS lo, max(d) AS hi FROM c),
            sp AS (SELECT hi, unnest(range(lo, hi + 1)) AS d FROM b),
            daily AS (SELECT sp.hi, sp.d, coalesce(c.x, 0)::DOUBLE AS x
                      FROM sp LEFT JOIN c ON sp.d = c.d),
            contrib AS (SELECT d AS src, x,
                          unnest(range(d, least(d + 30, hi + 1))) AS d2
                        FROM daily),
            w AS (SELECT d2 AS d,
                    sum(x * pow(0.5, (d2 - src)::DOUBLE)) AS num,
                    sum(pow(0.5, (d2 - src)::DOUBLE)) AS den
                  FROM contrib GROUP BY d2)
            SELECT w.d, daily.x::BIGINT AS x, round(num / den, 6) AS ewma
            FROM w JOIN daily ON w.d = daily.d
        """, time_domain=True)
def q_ewma_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon EWMA baseline of daily event volume
    (timeseries.ewma_daily, α=0.5 h=30): the recursive smoother re-shaped
    as an embarrassingly-parallel horizon fan-out on the #days-row daily
    table. α=0.5 makes every weight an exact power of two, so num/den are
    EXACT in both engines — the comparison is bit-stable by construction,
    not just rounded."""
    from database2ogr_spark.operators.timeseries import ewma_daily

    return ewma_daily(_t(spark, sf_dir, "events"), alpha=0.5, horizon=30)


# Gini over ascending (mass, group) ranks; integer sums exact
@register(twin="""
            WITH per AS (SELECT source AS g, count(*)::BIGINT AS n_rows,
                           sum(n_chars)::BIGINT AS mass
                         FROM documents GROUP BY source),
            r AS (SELECT *, row_number() OVER
                    (ORDER BY mass ASC, g ASC NULLS FIRST) AS rk,
                    sum(mass) OVER (ORDER BY mass ASC, g ASC NULLS FIRST
                      ROWS UNBOUNDED PRECEDING) AS cmass
                  FROM per),
            t AS (SELECT count(*)::BIGINT AS n, sum(mass) AS m,
                    sum((2 * rk - 1) * mass) AS gnum,
                    sum(mass * mass) AS ssq
                  FROM r)
            SELECT g AS source, n_rows, mass,
              round(mass / m::DOUBLE, 6) AS share,
              round(cmass / m::DOUBLE, 6) AS cum_share,
              round((gnum - n * m) / (n * m)::DOUBLE, 6) AS gini,
              round(ssq / (m * m)::DOUBLE, 6) AS hhi
            FROM r CROSS JOIN t
        """)
def q_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration audit (validate.concentration_report): per
    source char-mass share + Lorenz cumulative share, with corpus Gini
    and HHI replicated per row — integer masses keep every sum exact."""
    from database2ogr_spark.operators.validate import concentration_report

    return concentration_report(_t(spark, sf_dir, "documents"))


# shingle containment over the corpus + planted excerpts
@register(twin=f"""
            WITH sh AS ({_shingles_sql(3, '''(SELECT doc_id, text
                    FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000,
                      array_to_string(list_slice(''' + _WORDS_SQL + ''',
                        1, 12), ' ')
                    FROM documents WHERE doc_id % 20 = 7) b''')}),
            ex0 AS (SELECT DISTINCT doc_id, g FROM
                   (SELECT doc_id, unnest(s) AS g FROM sh) u),
            hot AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) > 100),
            ex AS (SELECT * FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
            sizes AS (SELECT doc_id, count(*) AS n FROM ex
                      GROUP BY doc_id),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                count(*)::BIGINT AS shared
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            sc AS (SELECT id_a, id_b, sa.n::BIGINT AS n_a,
                     sb.n::BIGINT AS n_b, shared,
                     round(shared / CAST(least(sa.n, sb.n) AS DOUBLE), 6)
                       AS containment,
                     round(shared / CAST(sa.n + sb.n - shared AS DOUBLE),
                       6) AS jaccard
                   FROM shared
                   JOIN sizes sa ON id_a = sa.doc_id
                   JOIN sizes sb ON id_b = sb.doc_id)
            SELECT id_a, id_b, n_a, n_b, shared, containment, jaccard
            FROM sc WHERE containment >= 0.9
        """)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (dedup.containment_pairs) on a
    corpus with planted EXCERPT docs (first 12 normalized words of
    every doc_id % 20 == 7 document, id + 10⁶): embedded duplicates
    score containment ≈ 1 while their symmetric Jaccard stays diluted
    — the quote/boilerplate-wrapper case the Jaccard family is blind
    to. Graded WITH the hot-shingle guard (max_df=100, mirrored in
    the oracle, same cutoff as the ngram_jaccard_pairs entry): the
    self-join's per-shingle pair blowup is bounded at max_df², so no
    per-key-quadratic path remains.
    Observed max 3-shingle df is 26 at sf0.1, so the guard changes
    nothing on this corpus; the oracle mirrors the filter so parity
    holds on ANY corpus."""
    from database2ogr_spark.functions.hashing import words
    from database2ogr_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") % 20 == 7).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(words(F.col("text")), 1, 12), " ").alias("text"),
    )
    return containment_pairs(docs.union(excerpts), threshold=0.9, max_df=100)


@register(twin="""
            WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT)
                         AS d, count(*)::BIGINT AS x
                       FROM events GROUP BY 1),
            b AS (SELECT min(d) AS lo, max(d) AS hi FROM c),
            sp AS (SELECT unnest(range(lo, hi + 1)) AS d FROM b),
            daily AS (SELECT sp.d, coalesce(c.x, 0)::BIGINT AS x
                      FROM sp LEFT JOIN c ON sp.d = c.d),
            pr AS (SELECT d + 7 AS d, x AS yhat FROM daily),
            j AS (SELECT daily.d, daily.x, pr.yhat
                  FROM daily JOIN pr ON daily.d = pr.d)
            SELECT count(*)::BIGINT AS n_eval,
              sum(CASE WHEN x > 0 THEN 1 ELSE 0 END)::BIGINT
                AS n_mape_eval,
              round(sum(abs(x - yhat))::DOUBLE / count(*)::DOUBLE, 6)
                AS mae,
              round(sum(CASE WHEN x > 0 THEN
                  abs(x - yhat)::DOUBLE / x::DOUBLE END)
                / sum(CASE WHEN x > 0 THEN 1 ELSE 0 END)::DOUBLE, 6)
                AS mape,
              round(sum(CASE WHEN (x + yhat) > 0 THEN
                  2.0::DOUBLE * abs(x - yhat)::DOUBLE
                    / (x + yhat)::DOUBLE
                ELSE 0.0::DOUBLE END) / count(*)::DOUBLE, 6) AS smape
            FROM j
        """, time_domain=True)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast baseline scored with
    MAE/MAPE/sMAPE (timeseries.forecast_eval) — the numbers any
    forecasting model must beat; MAPE's zero-actual exclusion is
    explicit, not hidden."""
    from database2ogr_spark.operators.timeseries import forecast_eval

    return forecast_eval(_t(spark, sf_dir, "events"), season_days=7)


# NDCG@10 over the scored-pair scan shared with ann_recall_lsh
@register(twin=f"""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE))
                           AS v
                       FROM embeddings),
            b AS (SELECT vec_id, v, {_lsh_bucket_sql(3, 64)} AS bucket FROM c),
            q0 AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb
                   FROM b WHERE vec_id % 97 = 3),
            p AS (SELECT q0.query_id, b.vec_id,
                    round(list_dot_product(qv, b.v) /
                      (sqrt(list_dot_product(qv, qv)) *
                       sqrt(list_dot_product(b.v, b.v))), 6) AS sim,
                    (b.bucket = qb OR b.bucket = xor(qb, 1)
                     OR b.bucket = xor(qb, 2)
                     OR b.bucket = xor(qb, 4)) AS probed
                  FROM q0 CROSS JOIN b WHERE b.vec_id <> q0.query_id),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, vec_id) AS re,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY probed DESC, sim DESC, vec_id) AS ra
                  FROM p),
            a AS (SELECT query_id,
                    sum(CASE WHEN re <= 10 THEN sim
                          / (ln((re + 1)::DOUBLE) / ln(2.0::DOUBLE))
                        ELSE 0.0::DOUBLE END) AS idcg,
                    sum(CASE WHEN probed AND ra <= 10 THEN sim
                          / (ln((ra + 1)::DOUBLE) / ln(2.0::DOUBLE))
                        ELSE 0.0::DOUBLE END) AS dcg
                  FROM r GROUP BY query_id)
            SELECT query_id, round(dcg, 6) AS dcg,
              round(idcg, 6) AS idcg,
              round(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg
            FROM a
        """)
def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RANKING quality row — NDCG@10 of the multiprobe sign-LSH
    answer against brute-force cosine, on the same rotated query set
    and single scored-pair scan as ann_recall_lsh: recall counts set
    membership, NDCG grades the ORDER and the similarity mass of what
    was found (an ANN that returns the right set in the wrong order, or
    the 10 barely-similar members, scores lower). Graded relevance =
    the exact rounded cosine; DCG/IDCG use ln(r+1)/ln 2 explicitly so
    both engines run the identical float path."""
    ranked, owned = _ann_ranked_pairs(spark, sf_dir)
    ln2 = F.log(F.lit(2.0))
    agg = ranked.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("re") <= 10,
                F.col("sim")
                / (F.log((F.col("re") + 1).cast("double")) / ln2),
            ).otherwise(F.lit(0.0))
        ).alias("idcg"),
        F.sum(
            F.when(
                F.col("probed") & (F.col("ra") <= 10),
                F.col("sim")
                / (F.log((F.col("ra") + 1).cast("double")) / ln2),
            ).otherwise(F.lit(0.0))
        ).alias("dcg"),
    )
    out = agg.select(
        "query_id",
        F.round(F.col("dcg"), 6).alias("dcg"),
        F.round(F.col("idcg"), 6).alias("idcg"),
        F.round(
            F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg")), 6
        ).alias("ndcg"),
    )
    return finalize_lifecycle(out, owned)


@register(twin="""
            WITH per AS (SELECT user_id AS u,
                           min(CAST(floor(epoch(ts) / 86400) AS BIGINT))
                             AS f,
                           max(CAST(floor(epoch(ts) / 86400) AS BIGINT))
                             AS l
                         FROM events GROUP BY 1),
            mx AS (SELECT max(l) AS maxd FROM per),
            lab AS (SELECT (l - f)::BIGINT AS t,
                      CASE WHEN l <= maxd - 7 THEN 1 ELSE 0 END AS ch
                    FROM per CROSS JOIN mx),
            tbl AS (SELECT t, sum(ch)::BIGINT AS d,
                      sum(1 - ch)::BIGINT AS c
                    FROM lab GROUP BY t),
            st AS (SELECT t, d, c,
                     sum(d + c) OVER (ORDER BY t ROWS BETWEEN CURRENT
                       ROW AND UNBOUNDED FOLLOWING) AS n
                   FROM tbl),
            fin AS (SELECT t, d, c, n,
                      exp(sum(ln(greatest(1.0::DOUBLE
                        - d::DOUBLE / n::DOUBLE, 1e-300::DOUBLE)))
                        OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) AS s
                    FROM st)
            SELECT t AS t_days, n::BIGINT AS n_at_risk, d AS n_churned,
              c AS n_censored, round(s, 6) AS survival
            FROM fin
        """, time_domain=True)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier user-lifetime survival curve
    (timeseries.kaplan_meier, 7-day censor horizon) — the
    censoring-correct retention curve (naive 'lasted ≥ t' counts
    still-active users as churned); forward-cumulative at-risk set,
    sequential log-sum product identical in both engines."""
    from database2ogr_spark.operators.timeseries import kaplan_meier

    return kaplan_meier(read_events(spark, os.path.join(sf_dir, "events.parquet")))


# Event-time operator deliberately without time_domain, on both sides:
# attribution only orders touches by (ts, tiebreak) within a user, so an
# implausible timestamp cannot corrupt a key, and dropping it would remove
# a touch from the credit split — a judgment call for the caller. Symmetric
# under check_oracle.py --perturb times.
@register(twin="""
            WITH conv AS (SELECT user_id AS u, min(ts) AS cts
                          FROM events WHERE event_type = 'purchase'
                          GROUP BY user_id),
            tch AS (SELECT e.user_id AS u, e.event_type AS t, e.ts,
                      e.event_id AS tb
                    FROM events e JOIN conv ON e.user_id = conv.u
                    WHERE e.event_type IN ('view', 'click')
                      AND e.ts < conv.cts),
            pos AS (SELECT u, t,
                      row_number() OVER (PARTITION BY u
                        ORDER BY ts ASC, tb ASC) AS p,
                      count(*) OVER (PARTITION BY u) AS n
                    FROM tch),
            cr AS (SELECT t,
                     CASE WHEN n = 1 THEN 1.0::DOUBLE
                          WHEN n = 2 THEN 0.5::DOUBLE
                          WHEN p = 1 THEN 0.4::DOUBLE
                          WHEN p = n THEN 0.4::DOUBLE
                          ELSE 0.2::DOUBLE / (n - 2)::DOUBLE END AS c
                   FROM pos)
            SELECT t AS event_type, count(*)::BIGINT AS n_touches,
              round(sum(c), 6) AS credit
            FROM cr GROUP BY t
        """)
def q_u_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped 40-20-40 multi-touch attribution (funnel.
    u_shaped_attribution): per-channel credit for touches before each
    user's first purchase; exact small-rational weights."""
    from database2ogr_spark.operators.funnel import u_shaped_attribution

    return u_shaped_attribution(
        read_events(spark, os.path.join(sf_dir, "events.parquet"))
    )


@register(twin=f"""
            WITH b AS (SELECT doc_id,
                         len({_WORDS_SQL})::INT AS n_words,
                         greatest(len(list_filter(string_split(
                           regexp_replace(text, '[.!?]+', chr(0), 'g'),
                           chr(0)), x -> trim(x) <> '')), 1)::INT
                           AS n_sents,
                         (len(string_split_regex(lower(text),
                           '[aeiouy]+')) - 1)::INT AS vg
                       FROM documents),
            c AS (SELECT doc_id, n_sents, n_words,
                    greatest(vg, n_words)::INT AS n_syll
                  FROM b)
            SELECT doc_id, n_sents, n_words, n_syll,
              round(CASE WHEN n_words > 0 THEN 206.835::DOUBLE
                - 1.015::DOUBLE * (n_words::DOUBLE / n_sents::DOUBLE)
                - 84.6::DOUBLE * (n_syll::DOUBLE / n_words::DOUBLE)
                END, 6) AS flesch
            FROM c
        """)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading ease (functions/textstats) — the
    readability tier of the quality stack; sentence/syllable counts are
    pure regex arithmetic, deterministic where NLP syllabifiers are
    not."""
    from database2ogr_spark.functions.textstats import (
        flesch_reading_ease,
        sentence_count,
        syllable_count,
        whitespace_token_count,
    )

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        sentence_count("text").cast("int").alias("n_sents"),
        whitespace_token_count("text").cast("int").alias("n_words"),
        syllable_count("text").cast("int").alias("n_syll"),
        F.round(flesch_reading_ease("text"), 6).alias("flesch"),
    )


# two unrolled BM25 passes with deterministic feedback cuts
@register(twin=f"""
            WITH tk AS (SELECT doc_id, list_filter(string_split(
                          regexp_replace(text, '[{_SPACE}]+', ' ', 'g'), ' '),
                          x -> x <> '') AS w
                        FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS token FROM tk),
            tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
                   FROM tok GROUP BY doc_id, token),
            dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl
                   FROM tf GROUP BY doc_id),
            st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
                   FROM dl),
            orig AS (SELECT unnest(['spark', 'window']) AS token),
            m1 AS (SELECT tf.doc_id, tf.token, tf.tf
                   FROM tf JOIN orig USING (token)),
            d1 AS (SELECT token, count(DISTINCT doc_id)::BIGINT AS dfreq
                   FROM m1 GROUP BY token),
            s1 AS (SELECT m1.doc_id,
                     round(sum(ln(1 + (n_docs - dfreq + 0.5)
                         / (dfreq + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
                       AS score
                   FROM m1 JOIN d1 USING (token) JOIN dl USING (doc_id)
                   CROSS JOIN st GROUP BY m1.doc_id),
            fb AS (SELECT doc_id FROM s1
                   ORDER BY score DESC, doc_id LIMIT 5),
            ex AS (SELECT token FROM
                     (SELECT tf.token, sum(tf.tf) AS wt
                      FROM tf JOIN fb USING (doc_id)
                      WHERE tf.token NOT IN (SELECT token FROM orig)
                      GROUP BY tf.token) e
                   ORDER BY wt DESC, token LIMIT 10),
            q2 AS (SELECT token FROM orig
                   UNION ALL SELECT token FROM ex),
            m2 AS (SELECT tf.doc_id, tf.token, tf.tf
                   FROM tf JOIN q2 USING (token)),
            d2 AS (SELECT token, count(DISTINCT doc_id)::BIGINT AS dfreq
                   FROM m2 GROUP BY token),
            s2 AS (SELECT m2.doc_id,
                     round(sum(ln(1 + (n_docs - dfreq + 0.5)
                         / (dfreq + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
                       AS score
                   FROM m2 JOIN d2 USING (token) JOIN dl USING (doc_id)
                   CROSS JOIN st GROUP BY m2.doc_id)
            SELECT doc_id, score FROM s2
            ORDER BY score DESC, doc_id ASC LIMIT 15
        """)
def q_prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback top-15 for 'spark window'
    (search.prf_topk, 5 feedback docs, 10 expansion terms) — the
    retrieval capstone: two verified BM25 passes with the feedback and
    expansion cuts kept IN-PLAN (limit subqueries joined back, no
    driver collect)."""
    from database2ogr_spark.operators.search import (
        build_positional_index,
        prf_topk,
    )

    out = _tmp("d2o_prf_idx")
    build_positional_index(_t(spark, sf_dir, "documents"), out)
    return prf_topk(spark, out, ["spark", "window"], k=15)


@register(twin="""
            WITH e AS (SELECT user_id AS u,
                         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
                         event_type AS t,
                         CAST(round(value * 100, 0) AS BIGINT) AS v_c2
                       FROM events WHERE (value IS NULL OR isfinite(value))),
            mx AS (SELECT max(d) AS maxd FROM e),
            base AS (SELECT u, min(d) AS first_day, max(d) AS last_day,
                       count(*)::BIGINT AS n_events,
                       count(DISTINCT d)::BIGINT AS n_active_days,
                       count(DISTINCT t)::BIGINT AS n_types,
                       sum(v_c2) AS v_c2,
                       round(sum(pow(0.5::DOUBLE,
                         (maxd - d)::DOUBLE / 7.0::DOUBLE)), 6)
                         AS decay_score
                     FROM e CROSS JOIN mx GROUP BY u),
            tc AS (SELECT u, t, count(*)::BIGINT AS n
                   FROM e GROUP BY u, t),
            tp AS (SELECT u, t AS top_type FROM
                     (SELECT u, t, row_number() OVER (PARTITION BY u
                        ORDER BY n DESC, t DESC) AS rn FROM tc) r
                   WHERE rn = 1)
            SELECT base.u AS user_id, first_day, last_day,
              (last_day - first_day)::BIGINT AS tenure_days, n_events,
              n_active_days, n_types, top_type,
              round(v_c2 / 100.0::DOUBLE, 2) AS total_value, decay_score
            FROM base JOIN tp ON base.u = tp.u
        """, time_domain=True)
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature mart (funnel.user_features, half-life 7 d):
    span/volume/value/type-diversity + deterministic max_by dominant
    type + time-decayed engagement — the feature-store table an event
    log becomes."""
    from database2ogr_spark.operators.funnel import user_features

    return user_features(read_events(spark, os.path.join(sf_dir, "events.parquet")))


# Dirichlet-smoothed QL replay off the corpus tokenization
@register(twin=f"""
            WITH tk AS (SELECT doc_id, list_filter(string_split(
                          regexp_replace(text, '[{_SPACE}]+', ' ', 'g'), ' '),
                          x -> x <> '') AS w
                        FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS token FROM tk),
            tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
                   FROM tok GROUP BY doc_id, token),
            dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl
                   FROM tf GROUP BY doc_id),
            ct AS (SELECT sum(tf)::BIGINT AS ct FROM tf),
            cf AS (SELECT token, sum(tf)::DOUBLE / (SELECT ct FROM ct)
                     AS pc
                   FROM tf
                   WHERE token IN ('spark', 'window', 'shuffle')
                   GROUP BY token),
            bt AS (SELECT sum(ln(2000.0::DOUBLE * pc)) AS slm,
                     count(*)::BIGINT AS nt FROM cf),
            base AS (SELECT dl.doc_id,
                       slm - nt::DOUBLE
                         * ln(dl::DOUBLE + 2000.0::DOUBLE) AS base
                     FROM dl CROSS JOIN bt),
            corr AS (SELECT tf.doc_id,
                       sum(ln(tf::DOUBLE + 2000.0::DOUBLE * pc)
                           - ln(2000.0::DOUBLE * pc)) AS corr
                     FROM tf JOIN cf USING (token)
                     GROUP BY tf.doc_id)
            SELECT b.doc_id,
              round(b.base + coalesce(c.corr, 0.0::DOUBLE), 6) AS score
            FROM base b LEFT JOIN corr c USING (doc_id)
            ORDER BY score DESC, doc_id ASC LIMIT 15
        """)
def q_ql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet query-likelihood top-15 for 'spark window shuffle'
    (search.ql_topk, μ=2000) — the LM retrieval member next to BM25;
    missing-term mass handled via the per-doc baseline + matched-term
    correction so only query postings are touched."""
    from database2ogr_spark.operators.search import (
        build_positional_index,
        ql_topk,
    )

    out = _tmp("d2o_ql_idx")
    build_positional_index(_t(spark, sf_dir, "documents"), out)
    return ql_topk(spark, out, ["spark", "window", "shuffle"], k=15)


# Dirichlet log-odds z, same operand order as the Column expr
@register(twin=f"""
            WITH gt AS (SELECT g, w, count(*)::BIGINT AS y FROM
                          (SELECT source AS g, unnest({_WORDS_SQL}) AS w
                           FROM documents) u
                        GROUP BY 1, 2),
            tok AS (SELECT w, sum(y) AS ty FROM gt GROUP BY w),
            grp AS (SELECT g, sum(y) AS n FROM gt GROUP BY g),
            vb AS (SELECT count(*)::BIGINT AS v, sum(ty) AS nn FROM tok),
            j AS (SELECT gt.g, gt.w, gt.y, tok.ty - gt.y AS ry, grp.n,
                    vb.nn - grp.n AS rn, vb.v
                  FROM gt JOIN tok USING (w) JOIN grp USING (g)
                  CROSS JOIN vb),
            -- CAST: ry = HUGEINT sum minus y → float64 at the driver
            z AS (SELECT g, w, y, CAST(ry AS BIGINT) AS n_rest,
                    round((ln((y::DOUBLE + 0.01::DOUBLE)
                        / (n::DOUBLE + 0.01::DOUBLE * v::DOUBLE
                           - (y::DOUBLE + 0.01::DOUBLE)))
                      - ln((ry::DOUBLE + 0.01::DOUBLE)
                        / (rn::DOUBLE + 0.01::DOUBLE * v::DOUBLE
                           - (ry::DOUBLE + 0.01::DOUBLE))))
                      / sqrt(1.0::DOUBLE / (y::DOUBLE + 0.01::DOUBLE)
                        + 1.0::DOUBLE / (ry::DOUBLE + 0.01::DOUBLE)),
                      6) AS zscore
                  FROM j),
            r AS (SELECT *, row_number() OVER (PARTITION BY g
                    ORDER BY zscore DESC, w ASC) AS rk FROM z)
            SELECT g AS source, w AS token, y AS n_in, n_rest, zscore
            FROM r WHERE rk <= 10
        """)
def q_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary (overlap.fightin_words —
    Monroe et al. 2008 Dirichlet log-odds z-scores, top 10 per source):
    the 'what characterizes this source' report tf-idf gets wrong on
    rare words; one (group, token) count feeds everything."""
    from database2ogr_spark.operators.overlap import fightin_words

    return fightin_words(_t(spark, sf_dir, "documents"), top_n=10)


# effective-number weights; 1−β left as the IEEE subtraction
@register(twin="""
            WITH per AS (SELECT lang, count(*)::BIGINT AS n
                         FROM documents GROUP BY lang),
            e AS (SELECT lang, n,
                    (1.0::DOUBLE - pow(0.999::DOUBLE, n::DOUBLE))
                      / (1.0::DOUBLE - 0.999::DOUBLE) AS eff
                  FROM per),
            t AS (SELECT sum(1.0::DOUBLE / eff) AS s,
                    count(*)::BIGINT AS k FROM e)
            SELECT lang, n, round(eff, 6) AS effective_n,
              round((1.0::DOUBLE / eff) * k::DOUBLE / s, 6) AS weight
            FROM e CROSS JOIN t
        """)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced loss weights over lang (sampling.class_weights,
    β=0.999 — Cui et al. 2019 effective numbers), normalized to mean 1;
    the imbalance table a trainer joins instead of naive 1/n."""
    from database2ogr_spark.operators.sampling import class_weights

    return class_weights(_t(spark, sf_dir, "documents"), "lang", beta=0.999)


@register(twin="""
            WITH h AS (SELECT ('0x' || substr(md5('23' || chr(31)
                         || doc_id::VARCHAR), 1, 15))::BIGINT AS h,
                         n_chars
                       FROM documents),
            lv AS (SELECT * FROM (VALUES
                     (0, 0.03125::DOUBLE, 36028797018963968::BIGINT),
                     (1, 0.0625::DOUBLE, 72057594037927936::BIGINT),
                     (2, 0.125::DOUBLE, 144115188075855872::BIGINT),
                     (3, 0.25::DOUBLE, 288230376151711744::BIGINT),
                     (4, 0.5::DOUBLE, 576460752303423488::BIGINT),
                     (5, 1.0::DOUBLE, 1152921504606846976::BIGINT))
                   AS v(level, keep_fraction, cut))
            SELECT level::INT AS level,
              round(keep_fraction, 9) AS keep_fraction,
              sum(CASE WHEN h.h < cut THEN 1 ELSE 0 END)::BIGINT
                AS n_rows,
              sum(CASE WHEN h.h < cut THEN n_chars ELSE 0 END)::BIGINT
                AS mass
            FROM h CROSS JOIN lv GROUP BY 1, 2
        """)
def q_nested_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested power-of-two scaling-law subsets manifest
    (sampling.nested_subsets, 6 levels over doc_id hash, mass =
    n_chars): smaller ⊂ larger by hash-threshold construction, ONE
    conditional-sum pass."""
    from database2ogr_spark.operators.sampling import nested_subsets

    return nested_subsets(
        _t(spark, sf_dir, "documents"), mass_col="n_chars", levels=6
    )


@register(twin="""
            WITH c AS (SELECT CAST(floor(floor(epoch(ts) / 86400) / 7)
                         AS BIGINT) AS w, event_type AS v,
                         count(*)::BIGINT AS n
                       FROM events
                       WHERE ts IS NOT NULL AND event_type IS NOT NULL
                       GROUP BY 1, 2),
            b AS (SELECT min(w) AS lo, max(w) AS hi FROM c),
            wk AS (SELECT unnest(range(lo, hi + 1)) AS w FROM b),
            vv AS (SELECT DISTINCT v FROM c),
            sp AS (SELECT wk.w, vv.v FROM wk CROSS JOIN vv),
            fl AS (SELECT sp.w, sp.v, coalesce(c.n, 0)::BIGINT AS n
                   FROM sp LEFT JOIN c ON sp.w = c.w AND sp.v = c.v),
            cur AS (SELECT w, v, n,
                      lag(n) OVER (PARTITION BY v ORDER BY w) AS prev
                    FROM fl),
            cc AS (SELECT * FROM cur WHERE prev IS NOT NULL),
            t AS (SELECT w, sum(n - prev) AS total_delta
                  FROM cc GROUP BY w)
            SELECT cc.w AS week, cc.v AS event_type, cc.n AS cur,
              cc.prev, (cc.n - cc.prev)::BIGINT AS delta,
              round(CASE WHEN t.total_delta <> 0
                    THEN (cc.n - cc.prev) / t.total_delta::DOUBLE END, 6)
                AS share
            FROM cc JOIN t ON cc.w = t.w
        """, time_domain=True)
def q_wow_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week volume delta decomposed by event type
    (timeseries.wow_decomposition) — the 'what drove the drop'
    attribution table; week×type spine so vanished segments answer."""
    from database2ogr_spark.operators.timeseries import wow_decomposition

    return wow_decomposition(_t(spark, sf_dir, "events"))


@register(twin="""
            WITH joint AS (SELECT source, lang AS v, count(*)::BIGINT
                             AS n
                           FROM documents GROUP BY 1, 2),
            gl AS (SELECT v, sum(n) AS gn FROM joint GROUP BY v),
            tt AS (SELECT sum(gn) AS tot FROM gl),
            gm AS (SELECT v, gn::DOUBLE / tot AS p
                   FROM gl CROSS JOIN tt),
            gs AS (SELECT source, sum(n) AS gn_tot FROM joint GROUP BY 1),
            j AS (SELECT joint.source, gs.gn_tot, gm.p,
                    joint.n::DOUBLE / gs.gn_tot AS pg
                  FROM joint JOIN gs ON joint.source = gs.source
                  JOIN gm ON joint.v = gm.v),
            per AS (SELECT source, max(gn_tot) AS n,
                      sum(abs(pg - p)) AS ps, sum(p) AS pm
                    FROM j GROUP BY source)
            SELECT source, n::BIGINT AS n,
              round((ps + (1.0::DOUBLE - pm)) / 2.0::DOUBLE, 6)
                AS distance,
              round((ps + (1.0::DOUBLE - pm)) / 2.0::DOUBLE, 6)
                > 0.3::DOUBLE AS at_risk
            FROM per
        """)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over (source → lang) (validate.t_closeness_report)
    — completes the k-anonymity / l-diversity privacy triad: per-group
    total-variation distance from the corpus sensitive distribution,
    absent cells folded algebraically (no group×value spine)."""
    from database2ogr_spark.operators.validate import t_closeness_report

    return t_closeness_report(
        _t(spark, sf_dir, "documents"), ["source"], "lang", t=0.3
    )


@register(twin="""
            WITH pc AS (SELECT l_orderkey AS k, count(*)::BIGINT AS n
                        FROM lineitem GROUP BY 1),
            fl AS (SELECT coalesce(pc.n, 0)::BIGINT AS n
                   FROM orders o LEFT JOIN pc ON o.o_orderkey = pc.k)
            SELECT count(*)::BIGINT AS n_parents,
              sum(n)::BIGINT AS n_children,
              sum(CASE WHEN n = 0 THEN 1 ELSE 0 END)::BIGINT
                AS childless_parents,
              round(avg(n::DOUBLE), 6) AS mean_fanout,
              round(quantile_cont(n::DOUBLE, 0.5), 6) AS p50,
              round(quantile_cont(n::DOUBLE, 0.95), 6) AS p95,
              max(n)::BIGINT AS max_fanout
            FROM fl
        """)
def q_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders→lineitem 1:N fan-out shape (validate.fanout_profile) —
    the skewed-join early warning FK integrity doesn't give; childless
    parents count via the left join, exact percentiles."""
    from database2ogr_spark.operators.validate import fanout_profile

    return fanout_profile(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        parent_key="o_orderkey",
        child_key="l_orderkey",
    )


@register(twin="""
            WITH g AS (SELECT user_id AS u,
                         epoch_us(ts) - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                           AS g
                       FROM events WHERE event_type = 'purchase'),
            gg AS (SELECT u, g FROM g WHERE g IS NOT NULL)
            SELECT count(DISTINCT u)::BIGINT AS n_users_repeating,
              count(*)::BIGINT AS n_intervals,
              round(quantile_cont(g::DOUBLE, 0.25)
                / 86400000000.0::DOUBLE, 6) AS p25_days,
              round(quantile_cont(g::DOUBLE, 0.50)
                / 86400000000.0::DOUBLE, 6) AS p50_days,
              round(quantile_cont(g::DOUBLE, 0.75)
                / 86400000000.0::DOUBLE, 6) AS p75_days,
              round(sum(g)::DOUBLE / count(*)::DOUBLE
                / 86400000000.0::DOUBLE, 6) AS mean_days
            FROM gg
        """, time_domain=True)
def q_repeat_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution (funnel.repeat_interval):
    per-user consecutive 'purchase' gaps in integer micros, exact
    percentiles reported in days."""
    from database2ogr_spark.operators.funnel import repeat_interval

    return repeat_interval(
        read_events(spark, os.path.join(sf_dir, "events.parquet")), "purchase"
    )


@register(twin="""
            WITH a AS (SELECT user_id AS u,
                         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
                         CAST(round(value * 100, 0) AS BIGINT) AS v_c2
                       FROM events
                       WHERE (value IS NULL OR isfinite(value)) AND ts IS NOT NULL),
            a2 AS (SELECT u, d, v_c2, min(d) OVER (PARTITION BY u) AS d0
                   FROM a),
            cells AS (SELECT CAST(floor(d0 / 7) AS BIGINT)
                        AS cohort_bucket,
                        CAST(floor((d - d0) / 7) AS BIGINT) AS "offset",
                        count(*)::BIGINT AS n_events, sum(v_c2) AS s
                      FROM a2 GROUP BY 1, 2)
            SELECT cohort_bucket, "offset", n_events,
              round(s / 100.0::DOUBLE, 2) AS value_sum,
              round(sum(s) OVER (PARTITION BY cohort_bucket
                ORDER BY "offset" ROWS UNBOUNDED PRECEDING)
                / 100.0::DOUBLE, 2) AS cum_value
            FROM cells
        """, time_domain=True)
def q_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted cohort matrix / LTV curve (funnel.cohort_value):
    day-anchored cohorts, exact scaled-integer cent sums, per-cohort
    cumulative on matrix rows."""
    from database2ogr_spark.operators.funnel import cohort_value

    return cohort_value(read_events(spark, os.path.join(sf_dir, "events.parquet")))


@register(twin="""
            WITH pu AS (SELECT user_id AS u,
                          max(CAST(floor(epoch(ts) / 86400) AS BIGINT))
                            AS last_d,
                          count(*)::BIGINT AS f,
                          sum(CAST(round(value * 100, 0) AS BIGINT))
                            AS m_c2
                        FROM events WHERE (value IS NULL OR isfinite(value))
                        GROUP BY 1),
            mx AS (SELECT max(last_d) AS maxd FROM pu),
            rfm AS (SELECT u, (maxd - last_d)::DOUBLE AS r,
                      f::DOUBLE AS f, m_c2::DOUBLE AS m
                    FROM pu CROSS JOIN mx),
            b AS (SELECT
                    quantile_cont(r, 0.2) AS r0, quantile_cont(r, 0.4)
                      AS r1, quantile_cont(r, 0.6) AS r2,
                      quantile_cont(r, 0.8) AS r3,
                    quantile_cont(f, 0.2) AS f0, quantile_cont(f, 0.4)
                      AS f1, quantile_cont(f, 0.6) AS f2,
                      quantile_cont(f, 0.8) AS f3,
                    quantile_cont(m, 0.2) AS m0, quantile_cont(m, 0.4)
                      AS m1, quantile_cont(m, 0.6) AS m2,
                      quantile_cont(m, 0.8) AS m3
                  FROM rfm),
            seg AS (SELECT
                      CASE WHEN r <= r0 THEN 0 WHEN r <= r1 THEN 1
                           WHEN r <= r2 THEN 2 WHEN r <= r3 THEN 3
                           ELSE 4 END::INT AS r_bucket,
                      CASE WHEN f <= f0 THEN 0 WHEN f <= f1 THEN 1
                           WHEN f <= f2 THEN 2 WHEN f <= f3 THEN 3
                           ELSE 4 END::INT AS f_bucket,
                      CASE WHEN m <= m0 THEN 0 WHEN m <= m1 THEN 1
                           WHEN m <= m2 THEN 2 WHEN m <= m3 THEN 3
                           ELSE 4 END::INT AS m_bucket
                    FROM rfm CROSS JOIN b)
            SELECT r_bucket, f_bucket, m_bucket,
              count(*)::BIGINT AS n_users
            FROM seg GROUP BY 1, 2, 3
        """, time_domain=True)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation without a global sort (funnel.
    rfm_segments): exact percentile boundaries from ONE aggregate,
    broadcast CASE bucketing, ≤125-cell count."""
    from database2ogr_spark.operators.funnel import rfm_segments

    return rfm_segments(read_events(spark, os.path.join(sf_dir, "events.parquet")))


# cumulative-histogram interpolation per quantile; exact twin
# columns; all divisions pinned ::DOUBLE
@register(twin="""
            WITH vals AS (SELECT value AS v FROM events
                          WHERE value IS NOT NULL AND isfinite(value)),
            hist AS (SELECT CAST(floor(v / 10.0::DOUBLE) AS BIGINT) AS b,
                       count(*)::BIGINT AS n
                     FROM vals GROUP BY 1),
            cum AS (SELECT b, n, sum(n) OVER (ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cn FROM hist),
            t AS (SELECT count(*)::BIGINT AS tot,
                    quantile_cont(v::DOUBLE, 0.5) AS x0,
                    quantile_cont(v::DOUBLE, 0.9) AS x1,
                    quantile_cont(v::DOUBLE, 0.95) AS x2,
                    quantile_cont(v::DOUBLE, 0.99) AS x3
                  FROM vals),
            qq AS (SELECT * FROM (VALUES (0.5::DOUBLE, 0), (0.9::DOUBLE, 1),
                     (0.95::DOUBLE, 2), (0.99::DOUBLE, 3)) AS v(q, i)),
            hit AS (SELECT qq.q, qq.i, c.b, c.n, c.cn, t.tot,
                      row_number() OVER (PARTITION BY qq.q
                        ORDER BY c.b ASC) AS rn
                    FROM qq CROSS JOIN t
                    JOIN cum c ON c.cn::DOUBLE >= qq.q * t.tot::DOUBLE),
            est AS (SELECT q, i,
                      round(b::DOUBLE * 10.0::DOUBLE + 10.0::DOUBLE
                        * (q * tot::DOUBLE - (cn - n)::DOUBLE)
                        / n::DOUBLE, 6) AS e
                    FROM hit WHERE rn = 1)
            SELECT q, e AS estimate,
              round(CASE i WHEN 0 THEN x0 WHEN 1 THEN x1
                    WHEN 2 THEN x2 ELSE x3 END, 6) AS exact,
              round(abs(e - round(CASE i WHEN 0 THEN x0 WHEN 1 THEN x1
                    WHEN 2 THEN x2 ELSE x3 END, 6)), 6) AS abs_error
            FROM est CROSS JOIN t
        """)
def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram quantiles over event values
    (sketches.histogram_quantiles, bin 10) — the shard-addable
    percentile path, graded per quantile against the exact interpolated
    percentile it replaces."""
    from database2ogr_spark.operators.sketches import histogram_quantiles

    return histogram_quantiles(
        _t(spark, sf_dir, "events"), "value", bin_width=10.0
    )


@register(twin="""
            WITH f AS (SELECT user_id AS u, epoch_us(ts) AS us, event_id,
                         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id)
                           > 1800000000 THEN 1 ELSE 0 END AS brk
                       FROM events),
            s AS (SELECT u, us, sum(brk) OVER (PARTITION BY u
                    ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                    AS sid
                  FROM f),
            per AS (SELECT u, sid, count(*)::BIGINT AS n_ev,
                      max(us) - min(us) AS dur_us
                    FROM s GROUP BY u, sid)
            SELECT count(*)::BIGINT AS n_sessions,
              count(DISTINCT u)::BIGINT AS n_users,
              sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)::BIGINT
                AS single_event_sessions,
              round(avg(n_ev::DOUBLE), 6) AS mean_events,
              round(quantile_cont(dur_us::DOUBLE, 0.5) / 1000000.0::DOUBLE,
                6) AS p50_duration_s,
              round(quantile_cont(dur_us::DOUBLE, 0.9) / 1000000.0::DOUBLE,
                6) AS p90_duration_s
            FROM per
        """, time_domain=True)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands sessionization summary
    (funnel.session_stats, 1800 s gap) — the batch twin of the
    streaming state operator; one shared-order window pair, integer
    micro gaps, exact duration percentiles."""
    from database2ogr_spark.operators.funnel import session_stats

    return session_stats(read_events(spark, os.path.join(sf_dir, "events.parquet")))


@register(twin="""
            WITH p AS (SELECT event_type || '>' ||
                         lead(event_type, 1) OVER w || '>' ||
                         lead(event_type, 2) OVER w AS path,
                         lead(event_type, 2) OVER w IS NOT NULL AS fl
                       FROM events
                       WHERE ts IS NOT NULL AND event_type IS NOT NULL
                       WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts, event_id))
            SELECT path, count(*)::BIGINT AS n
            FROM p WHERE fl GROUP BY path
            ORDER BY n DESC, path ASC LIMIT 20
        """, time_domain=True)
def q_top_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step event-type journeys (funnel.top_journeys) —
    lead() chains over the per-user order; (n DESC, path) top-20."""
    from database2ogr_spark.operators.funnel import top_journeys

    return top_journeys(read_events(spark, os.path.join(sf_dir, "events.parquet")))


@register(twin="""
            WITH c AS (SELECT (CAST(floor(epoch(ts) / 3600) AS BIGINT)
                          % 24 + 24) % 24 AS h, count(*)::BIGINT AS n
                       FROM events GROUP BY 1),
            sp AS (SELECT unnest(range(0, 24)) AS h),
            fl AS (SELECT sp.h, coalesce(c.n, 0)::BIGINT AS n
                   FROM sp LEFT JOIN c ON sp.h = c.h),
            t AS (SELECT sum(n)::BIGINT AS tot FROM fl),
            cells AS (SELECT h, n, tot,
                        (n - tot::DOUBLE / 24.0::DOUBLE)
                          * (n - tot::DOUBLE / 24.0::DOUBLE)
                          / (tot::DOUBLE / 24.0::DOUBLE) AS cell
                      FROM fl CROSS JOIN t),
            st AS (SELECT round(sum(cell), 6) AS chisq FROM cells)
            SELECT h::INT AS hour, n,
              round(n / tot::DOUBLE, 6) AS share,
              round(cell, 6) AS chisq_cell, chisq,
              chisq > 35.172::DOUBLE AS nonuniform
            FROM cells CROSS JOIN st
        """, time_domain=True)
def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day traffic shape + chi-square uniformity flag
    (timeseries.hourly_profile) — the 'is this stream organic' audit;
    24-key agg, everything else on 24 rows."""
    from database2ogr_spark.operators.timeseries import hourly_profile

    return hourly_profile(_t(spark, sf_dir, "events"))


# k-minimum-values replay: distinct hashes, per-type k smallest,
# pair-merged rank<=k, match fraction; exact twin rides along
@register(twin="""
            WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u
                        FROM events),
            th AS (SELECT DISTINCT t,
                     ('0x' || substr(md5('7' || chr(31) || u::VARCHAR),
                       1, 15))::BIGINT AS h
                   FROM tu),
            kmin AS (SELECT t, h FROM
                       (SELECT t, h, row_number() OVER
                          (PARTITION BY t ORDER BY h ASC) AS rn
                        FROM th) r WHERE rn <= 256),
            types AS (SELECT DISTINCT t FROM tu),
            spine AS (SELECT a.t AS ta, b.t AS tb
                      FROM types a CROSS JOIN types b WHERE a.t < b.t),
            sides AS (SELECT ta, tb, h, 1 AS flag
                      FROM spine JOIN kmin ON kmin.t = spine.ta
                      UNION ALL
                      SELECT ta, tb, h, 2
                      FROM spine JOIN kmin ON kmin.t = spine.tb),
            merged AS (SELECT ta, tb, h, sum(flag) AS fl
                       FROM sides GROUP BY 1, 2, 3),
            ranked AS (SELECT * FROM
                         (SELECT *, row_number() OVER
                            (PARTITION BY ta, tb ORDER BY h ASC) AS rn
                          FROM merged) r WHERE rn <= 256),
            est AS (SELECT ta, tb, count(*)::BIGINT AS k_used,
                      sum(CASE WHEN fl = 3 THEN 1 ELSE 0 END)::BIGINT
                        AS n_match
                    FROM ranked GROUP BY 1, 2),
            sizes AS (SELECT t, count(*)::BIGINT AS n FROM tu GROUP BY t),
            bo AS (SELECT x.t AS ta, y.t AS tb, count(*)::BIGINT AS nb
                   FROM tu x JOIN tu y ON x.u = y.u AND x.t < y.t
                   GROUP BY 1, 2),
            exact AS (SELECT sa.t AS ta, sb.t AS tb,
                        round(coalesce(bo.nb, 0)
                          / (sa.n + sb.n - coalesce(bo.nb, 0))::DOUBLE, 6)
                          AS jaccard_exact
                      FROM sizes sa CROSS JOIN sizes sb
                      LEFT JOIN bo ON bo.ta = sa.t AND bo.tb = sb.t
                      WHERE sa.t < sb.t)
            SELECT e.ta AS type_a, e.tb AS type_b, e.k_used, e.n_match,
              round(e.n_match / e.k_used::DOUBLE, 6) AS jaccard_est,
              x.jaccard_exact,
              round(abs(round(e.n_match / e.k_used::DOUBLE, 6)
                - x.jaccard_exact), 6) AS abs_error
            FROM est e JOIN exact x ON e.ta = x.ta AND e.tb = x.tb
        """)
def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch audience Jaccard (sketches.kmv_audience_jaccard,
    k=256) with the exact inclusion-exclusion audit per pair — the
    set-intersection sketch HLL cannot be; integer hashes/ranks/ratios
    only, deterministic by construction."""
    from database2ogr_spark.operators.sketches import kmv_audience_jaccard

    return kmv_audience_jaccard(
        read_events(spark, os.path.join(sf_dir, "events.parquet")), k=256
    )


@register(twin="""
            WITH wu AS (SELECT DISTINCT
                          CAST(floor(floor(epoch(ts) / 86400) / 7)
                            AS BIGINT) AS w,
                          user_id AS u
                        FROM events),
            act AS (SELECT w, count(*)::BIGINT AS n FROM wu GROUP BY w),
            bo AS (SELECT b.w, count(*)::BIGINT AS n_retained
                   FROM wu a JOIN wu b ON a.u = b.u AND b.w = a.w + 1
                   GROUP BY b.w),
            bd AS (SELECT min(w) AS lo, max(w) AS hi FROM wu),
            sp AS (SELECT unnest(range(lo + 1, hi + 1)) AS w FROM bd),
            pv AS (SELECT w + 1 AS w, n AS n_prev FROM act)
            SELECT sp.w AS week,
              coalesce(pv.n_prev, 0)::BIGINT AS n_prev,
              coalesce(bo.n_retained, 0)::BIGINT AS n_retained,
              (coalesce(pv.n_prev, 0)
                - coalesce(bo.n_retained, 0))::BIGINT AS n_churned,
              round(CASE WHEN coalesce(pv.n_prev, 0) > 0
                    THEN (coalesce(pv.n_prev, 0)
                      - coalesce(bo.n_retained, 0))
                      / coalesce(pv.n_prev, 0)::DOUBLE END, 6)
                AS churn_rate
            FROM sp LEFT JOIN pv ON sp.w = pv.w
            LEFT JOIN bo ON sp.w = bo.w
        """, time_domain=True)
def q_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly churn report (funnel.churn_weekly): last week's actives
    who did not return, by inclusion-exclusion off one (week,user)
    distinct — the loss-side twin of retention_cohorts."""
    from database2ogr_spark.operators.funnel import churn_weekly

    return churn_weekly(read_events(spark, os.path.join(sf_dir, "events.parquet")))


# per-(day, register) max -> windowed register merge -> the same
# HUGEINT-exact harmonic estimate as hll_distinct; exact twin
# rides along for the per-window error column
@register(twin="""
            WITH hh AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT)
                          AS d,
                          ('0x' || substr(md5('7' || chr(31)
                            || user_id::VARCHAR), 1, 15))::BIGINT AS h
                        FROM events),
            hr AS (SELECT d, h % 256 AS reg, h // 256 AS rest FROM hh),
            dr AS (SELECT d, reg, max(53 - CASE WHEN rest > 0
                     THEN length(bin(rest)) ELSE 0 END) AS mj
                   FROM hr GROUP BY d, reg),
            fan AS (SELECT unnest(range(d, d + 7)) AS e, reg, mj FROM dr),
            wr AS (SELECT e, reg, max(mj) AS mj FROM fan GROUP BY e, reg),
            agg AS (SELECT e, sum(1::BIGINT << (61 - mj)) AS np,
                      count(*)::BIGINT AS cnt
                    FROM wr GROUP BY e),
            du AS (SELECT DISTINCT CAST(floor(epoch(ts) / 86400)
                     AS BIGINT) AS d, user_id AS u FROM events),
            b AS (SELECT min(d) AS lo, max(d) AS hi FROM du),
            f2 AS (SELECT unnest(range(d, d + 7)) AS e, u FROM du),
            cx AS (SELECT e, count(DISTINCT u)::BIGINT AS n
                   FROM f2 GROUP BY e),
            sp AS (SELECT unnest(range(lo, hi + 1)) AS e FROM b),
            ex AS (SELECT sp.e AS wd, coalesce(cx.n, 0)::BIGINT AS n_users
                   FROM sp LEFT JOIN cx ON sp.e = cx.e),
            j AS (SELECT ex.wd, ex.n_users,
                    coalesce(agg.np::HUGEINT
                      + (256 - agg.cnt)::HUGEINT
                        * (1::BIGINT << 61)::HUGEINT,
                      256::HUGEINT * (1::BIGINT << 61)::HUGEINT) AS num,
                    coalesce(256 - agg.cnt, 256)::BIGINT AS v0
                  FROM ex LEFT JOIN agg ON ex.wd = agg.e),
            est AS (SELECT wd, n_users, v0,
                      round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0))
                              * 256.0 * 256.0 * 2305843009213693952.0
                              / num::DOUBLE <= 640.0 AND v0 > 0
                            THEN 256.0 * ln(256.0 / v0::DOUBLE)
                            ELSE (0.7213 / (1.0 + 1.079 / 256.0))
                              * 256.0 * 256.0 * 2305843009213693952.0
                              / num::DOUBLE END, 6) AS estimate
                    FROM j)
            SELECT wd AS window_end_day, n_users, estimate,
              round(CASE WHEN n_users > 0
                    THEN abs(estimate - n_users) / n_users::DOUBLE END,
                6) AS rel_error
            FROM est
        """, time_domain=True)
def q_rolling_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day WAU via merged HLL registers
    (sketches.rolling_hll_users) — the mergeable-sketch scale path for
    trailing distinct users, graded per window against the exact fan-out
    twin it replaces at 100 TB."""
    from database2ogr_spark.operators.sketches import rolling_hll_users

    return rolling_hll_users(
        read_events(spark, os.path.join(sf_dir, "events.parquet")),
        window_days=7,
    )


@register(twin="""
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM lineitem),
            e AS (SELECT DISTINCT a.l_partkey AS v, b.l_partkey AS u
                  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey),
            st AS (SELECT v, u FROM e WHERE v % 37 = 0),
            f2 AS (SELECT DISTINCT f.v, g.u
                   FROM st f JOIN e g ON f.u = g.v),
            reach AS (SELECT DISTINCT v, u FROM
                        (SELECT v, u FROM st
                         UNION ALL SELECT v, u FROM f2) r)
            SELECT v AS part_id, count(*)::BIGINT AS n_reach
            FROM reach WHERE v <> u GROUP BY v
        """)
def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-hop reach on the co-purchase graph for a deterministic
    1/37 part sample (graph.khop_reach) — the absolute blast-radius
    audit next to PageRank's relative centrality; the expansion walks
    the FULL edge table but reach sets exist only for sampled sources
    (the dense-graph audit shape — unsampled measured 101 s, sampled 3.9 s at
    sf0.1)."""
    from database2ogr_spark.operators.graph import khop_reach

    edges = _copurchase_edges(spark, sf_dir)
    return khop_reach(
        edges, hops=2, source_filter=F.col("v") % 37 == 0
    ).withColumnRenamed("node", "part_id")


# Unrolled HyperANF register merge — bit-exact twin of
# graph.khop_reach_approx (hops=2, p=8, seed=7): same md5 hash
# family as stable_hash64, same bin()-bitlength rho, the same
# DECIMAL(38,0)-exact harmonic numerator and linear-counting
# branch, same 6 dp rounding. Mirrors the pytest twin
# tests/test_graph.py::test_khop_reach_approx_duckdb_register_merge_twin.
@register(twin="""
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM lineitem),
            e AS (SELECT DISTINCT a.l_partkey AS v, b.l_partkey AS u
                  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey),
            ball AS (SELECT DISTINCT v, u FROM
                       (SELECT v, u FROM e
                        UNION ALL
                        SELECT f.v, g.u FROM e f JOIN e g ON f.u = g.v) r),
            h AS (SELECT v, ('0x' || substr(md5('7' || chr(31) || u::VARCHAR),
                    1, 15))::BIGINT AS h FROM ball),
            hr AS (SELECT v, h % 256 AS reg, h // 256 AS rest FROM h),
            rho AS (SELECT v, reg, 53 - (CASE WHEN rest > 0
                      THEN length(bin(rest)) ELSE 0 END) AS rho FROM hr),
            regs AS (SELECT v, reg, max(rho) AS mj FROM rho GROUP BY v, reg),
            agg AS (SELECT v,
                      sum((1::BIGINT << (61 - mj))::DECIMAL(38,0))
                        AS num_present,
                      count(*)::BIGINT AS n_present
                    FROM regs GROUP BY v),
            est AS (SELECT v,
                      (256 - n_present)::BIGINT AS v0,
                      (num_present + (256 - n_present)::DECIMAL(38,0)
                         * 2305843009213693952::DECIMAL(38,0))::DOUBLE AS num
                    FROM agg)
            SELECT v AS part_id,
              round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0))
                      * 256.0 * 256.0 * 2305843009213693952.0 / num
                      <= 640.0 AND v0 > 0
                    THEN 256.0 * ln(256.0 / v0::DOUBLE)
                    ELSE (0.7213 / (1.0 + 1.079 / 256.0))
                      * 256.0 * 256.0 * 2305843009213693952.0 / num
                    END, 6) AS estimate
            FROM est
        """)
def q_khop_reach_sketched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF 2-hop reach estimate over the FULL co-purchase graph
    (graph.khop_reach_approx, p=8, seed=7) — the 100 TB tier next to
    q_khop_reach's exact-but-sampled audit: per-node HLL registers
    propagated along edges, so each hop is ONE node-keyed shuffle of a
    register table capped at |V|·2^p rows no matter how the true
    frontiers explode (measured 20 s full-coverage vs 101 s exact
    unsampled at sf0.1, flat hop growth — SCALE.md). The estimate is
    bit-replayable in DuckDB via an unrolled register merge (same
    md5 hash family, bin()-bitlength rho, DECIMAL-exact harmonic
    numerator, linear-counting branch, 6 dp rounding), pinned by
    tests/test_graph.py::test_khop_reach_approx_duckdb_register_merge_twin."""
    from database2ogr_spark.operators.graph import khop_reach_approx

    edges = _copurchase_edges(spark, sf_dir)
    return khop_reach_approx(edges, hops=2, p=8, seed=7).withColumnRenamed(
        "node", "part_id"
    )


@register(twin="""
            WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u
                        FROM events),
            sizes AS (SELECT t, count(*)::BIGINT AS n FROM tu GROUP BY t),
            bo AS (SELECT a.t AS ta, b.t AS tb, count(*)::BIGINT
                       AS n_both
                     FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
                     GROUP BY 1, 2),
            pairs AS (SELECT sa.t AS ta, sb.t AS tb, sa.n AS n_a,
                        sb.n AS n_b
                      FROM sizes sa CROSS JOIN sizes sb
                      WHERE sa.t < sb.t)
            SELECT ta AS type_a, tb AS type_b, n_a, n_b,
              coalesce(n_both, 0)::BIGINT AS n_both,
              round(coalesce(n_both, 0)
                / (n_a + n_b - coalesce(n_both, 0))::DOUBLE, 6) AS jaccard
            FROM pairs LEFT JOIN bo USING (ta, tb)
        """)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard between event-type user sets
    (funnel.audience_overlap): one (type,user) distinct + a per-user
    bounded self-join; disjoint pairs appear with jaccard 0 via the
    type-pair spine."""
    from database2ogr_spark.operators.funnel import audience_overlap

    return audience_overlap(read_events(spark, os.path.join(sf_dir, "events.parquet")))


@register(twin="""
            WITH s1 AS (SELECT user_id, min(ts) AS rt FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                                        AND e.ts > s1.rt
                   WHERE e.event_type = 'click' GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s2 ON e.user_id = s2.user_id
                                        AND e.ts > s2.rt
                   WHERE e.event_type = 'purchase' GROUP BY e.user_id),
            lat AS (SELECT epoch_us(s3.rt) - epoch_us(s1.rt) AS us
                    FROM s3 JOIN s1 ON s3.user_id = s1.user_id)
            SELECT count(*)::BIGINT AS n_converted,
              round(quantile_cont(us::DOUBLE, 0.25) / 1000000.0, 6) AS p25,
              round(quantile_cont(us::DOUBLE, 0.50) / 1000000.0, 6) AS p50,
              round(quantile_cont(us::DOUBLE, 0.75) / 1000000.0, 6) AS p75,
              round(quantile_cont(us::DOUBLE, 0.90) / 1000000.0, 6) AS p90
            FROM lat
        """, time_domain=True)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert quantiles view→click→purchase
    (funnel.conversion_latency) — exact interpolated percentiles over
    the funnel chain's converted-user latencies."""
    from database2ogr_spark.operators.funnel import conversion_latency

    return conversion_latency(
        read_events(spark, os.path.join(sf_dir, "events.parquet")),
        ["view", "click", "purchase"],
    )


# union of the verified constituent fragments: funnel chain,
# day-spine trend (constant group), CUSUM strength, base counts
@register(twin="""
            WITH s1 AS (SELECT user_id, min(ts) AS rt FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            s2 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s1 ON e.user_id = s1.user_id
                                        AND e.ts > s1.rt
                   WHERE e.event_type = 'click' GROUP BY e.user_id),
            s3 AS (SELECT e.user_id, min(e.ts) AS rt
                   FROM events e JOIN s2 ON e.user_id = s2.user_id
                                        AND e.ts > s2.rt
                   WHERE e.event_type = 'purchase' GROUP BY e.user_id),
            fc AS (
              SELECT 1 AS step, 'view' AS et, count(*)::BIGINT AS users
              FROM s1
              UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM s2
              UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM s3),
            fw AS (SELECT step, et, users,
                     round(users / first_value(users) OVER (ORDER BY step),
                       6) AS conv_from_first
                   FROM fc),
            cd AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
                     count(*)::BIGINT AS x
                   FROM events GROUP BY 1),
            bb AS (SELECT min(d) AS lo, max(d) AS hi FROM cd),
            sp AS (SELECT lo, unnest(range(lo, hi + 1)) AS d FROM bb),
            daily AS (SELECT sp.lo, sp.d, coalesce(cd.x, 0)::DOUBLE AS x
                      FROM sp LEFT JOIN cd ON sp.d = cd.d),
            tr AS (SELECT count(*)::BIGINT AS n,
                     sum((d - lo)::DOUBLE) AS sx, sum(x) AS sy,
                     sum((d - lo)::DOUBLE * x) AS sxy,
                     sum((d - lo)::DOUBLE * (d - lo)::DOUBLE) AS sxx
                   FROM daily),
            st AS (SELECT count(*)::BIGINT AS n, avg(x) AS mu,
                     stddev_pop(x) AS sd FROM daily),
            cum AS (SELECT d, n, sd,
                      round(abs(sum(x - mu) OVER (ORDER BY d
                        ROWS UNBOUNDED PRECEDING)), 6) AS s_abs
                    FROM daily CROSS JOIN st),
            cp AS (SELECT CASE WHEN sd > 0
                     THEN round(s_abs / (sd * sqrt(n::DOUBLE)), 6) END AS v
                   FROM cum ORDER BY s_abs DESC, d ASC LIMIT 1),
            base AS (SELECT count(*)::DOUBLE AS n_events,
                       count(DISTINCT user_id)::DOUBLE AS n_users,
                       count(DISTINCT CAST(floor(epoch(ts) / 86400)
                         AS BIGINT))::DOUBLE AS n_days
                     FROM events)
            SELECT 'n_events' AS metric, n_events AS value FROM base
            UNION ALL SELECT 'n_users', n_users FROM base
            UNION ALL SELECT 'n_days', n_days FROM base
            UNION ALL SELECT 'events_per_user',
              round(n_events / n_users, 6) FROM base
            UNION ALL SELECT 'funnel_users_' || et, users::DOUBLE FROM fw
            UNION ALL (SELECT 'funnel_conversion', conv_from_first
              FROM fw ORDER BY step DESC LIMIT 1)
            UNION ALL SELECT 'trend_slope',
              round(CASE WHEN n * sxx - sx * sx > 0
                    THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
              FROM tr
            UNION ALL SELECT 'changepoint_strength', v FROM cp
        """, time_domain=True)
def q_events_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-plan product-analytics dashboard (plans/analytics.
    events_dashboard): volume/reach/engagement + the conversion funnel +
    OLS trend + CUSUM shift strength, long-form (metric, value) — the
    composed showcase of the events tier; the oracle unions the verified
    constituent fragments."""
    from database2ogr_spark.plans.analytics import events_dashboard

    return events_dashboard(read_events(spark, os.path.join(sf_dir, "events.parquet")))


# same unrolled logreg twin; Brier + climatology skill score
@register(twin=f"""
            WITH sc AS ({_logreg_sql()}),
            a AS (SELECT count(*)::BIGINT AS n_rows,
                    avg(label::DOUBLE) AS rate,
                    avg((prob - label::DOUBLE) * (prob - label::DOUBLE))
                      AS b
                  FROM sc)
            SELECT n_rows, round(rate, 6) AS base_rate,
              round(b, 6) AS brier,
              round(rate * (1.0::DOUBLE - rate), 6) AS reference,
              round(CASE WHEN rate * (1.0::DOUBLE - rate) > 0
                    THEN 1.0::DOUBLE - b / (rate * (1.0::DOUBLE - rate))
                    END, 6) AS bss
            FROM a
        """)
def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + skill vs climatology (classifier.brier_score) over
    the same scored set as calibration_report/classifier_ece — the
    proper-scoring-rule release gate (grades calibration AND sharpness;
    BSS ≤ 0 = no better than the prior)."""
    from database2ogr_spark.operators.classifier import (
        brier_score,
        quality_classifier_scores,
    )

    scored = quality_classifier_scores(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    return brier_score(scored)


@register(twin="""
            WITH v AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE))
                           AS v
                       FROM embeddings),
            p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
                  FROM v a JOIN v b ON a.vec_id < b.vec_id
                  WHERE round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) *
                     sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
            t AS (SELECT id, count(*)::BIGINT AS n FROM
                    (SELECT ia AS id FROM p
                     UNION ALL SELECT ib FROM p) u GROUP BY id)
            SELECT v.vec_id, coalesce(t.n, 0)::BIGINT AS n_neighbors,
              coalesce(t.n, 0) >= 5 AS is_core
            FROM v LEFT JOIN t ON v.vec_id = t.id
        """)
def q_embedding_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-neighborhood density + DBSCAN core flag
    (similarity.embedding_density, τ=0.35 min_pts=5) riding the
    block-matmul pair kernel; oracle is the brute self-join count."""
    from database2ogr_spark.operators.similarity import embedding_density

    return embedding_density(
        _emb(spark, sf_dir), threshold=0.35, min_pts=5
    )


@register(twin="""
            SELECT doc_id, lang,
              CAST((row_number() OVER (PARTITION BY lang
                ORDER BY h ASC, doc_id ASC) - 1) % 5 AS INT) AS fold
            FROM (SELECT doc_id, lang,
                    ('0x' || substr(md5('11' || chr(31)
                      || doc_id::VARCHAR), 1, 15))::BIGINT AS h
                  FROM documents) t
        """)
def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold CV assignment (sampling.kfold_assign, stratify
    by lang): exact ±1 per-stratum balance via hash-ordered row_number
    mod k — what hash-mod folds only approximate."""
    from database2ogr_spark.operators.sampling import kfold_assign

    return kfold_assign(
        _t(spark, sf_dir, "documents"), k=5, stratify_col="lang"
    ).select("doc_id", "lang", "fold")


@register(twin="""
            WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT)
                         AS d, count(*)::BIGINT AS x
                       FROM events GROUP BY 1),
            b AS (SELECT min(d) AS lo_d, max(d) AS hi_d FROM c),
            sp AS (SELECT unnest(range(lo_d, hi_d + 1)) AS d FROM b),
            daily AS (SELECT sp.d, coalesce(c.x, 0)::BIGINT AS x
                      FROM sp LEFT JOIN c ON sp.d = c.d),
            q AS (SELECT
                    round(quantile_cont(x::DOUBLE, 0.25)
                      - 1.5 * (quantile_cont(x::DOUBLE, 0.75)
                        - quantile_cont(x::DOUBLE, 0.25)), 6) AS lo,
                    round(quantile_cont(x::DOUBLE, 0.75)
                      + 1.5 * (quantile_cont(x::DOUBLE, 0.75)
                        - quantile_cont(x::DOUBLE, 0.25)), 6) AS hi
                  FROM daily)
            SELECT d, x, lo, hi,
              CASE WHEN x < lo THEN 'low'
                   WHEN x > hi THEN 'high' END AS side
            FROM daily CROSS JOIN q
        """, time_domain=True)
def q_iqr_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot outlier days (timeseries.iqr_anomaly_days) over
    spined daily volume — exact interpolated percentiles (the winsorize
    quantile_cont portability contract); graded in report_all form so
    the bounds are hash-verified even on a quiet series."""
    from database2ogr_spark.operators.timeseries import iqr_anomaly_days

    return iqr_anomaly_days(_t(spark, sf_dir, "events"), report_all=True)


def _mmr_sql(k: int = 5, lam: float = 0.7, pool: int = 50) -> str:
    """DuckDB twin of q_mmr_select: pool cut + k unrolled greedy rounds.
    ``1.0 - {lam}`` is left as the same IEEE subtraction the Spark side
    performs rather than a pre-folded literal."""
    cos_q = (
        "round(list_dot_product(p.v, q.q) / "
        "(sqrt(list_dot_product(p.v, p.v)) * "
        "sqrt(list_dot_product(q.q, q.q))), 9)"
    )
    cos_s = (
        "round(list_dot_product(p.v, s.v) / "
        "(sqrt(list_dot_product(p.v, p.v)) * "
        "sqrt(list_dot_product(s.v, s.v))), 9)"
    )
    parts = [
        f"""WITH ve AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        q AS (SELECT v AS q FROM ve WHERE vec_id = 0),
        pool AS (SELECT p.vec_id AS id, p.v, {cos_q} AS rel
                 FROM ve p CROSS JOIN q WHERE p.vec_id <> 0
                 ORDER BY rel DESC, id LIMIT {pool}),
        s1 AS (SELECT 1 AS step, id, v, rel,
                 round({lam} * rel, 9) AS score
               FROM pool ORDER BY round({lam} * rel, 9) DESC, id LIMIT 1)"""
    ]
    for n in range(2, k + 1):
        sel = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, n))
        parts.append(
            f"""sel{n} AS ({sel}),
        m{n} AS (SELECT p.id, p.v, p.rel, max({cos_s}) AS ms
                 FROM pool p CROSS JOIN sel{n} s
                 WHERE p.id NOT IN (SELECT id FROM sel{n})
                 GROUP BY p.id, p.v, p.rel),
        s{n} AS (SELECT {n} AS step, id, v, rel,
                   round({lam}::DOUBLE * rel
                     - (1.0::DOUBLE - {lam}::DOUBLE) * ms, 9) AS score
                 FROM m{n} ORDER BY score DESC, id LIMIT 1)"""
        )
    final = " UNION ALL ".join(
        f"SELECT step, id AS vec_id, rel, score FROM s{i}"
        for i in range(1, k + 1)
    )
    return ",\n        ".join(parts) + f"\n        {final}"


@register(twin=_mmr_sql(k=5, lam=0.7, pool=50))
def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-5 via Maximal Marginal Relevance
    (similarity.mmr_select, λ=0.7, pool 50, query = vec 0): greedy
    argmax of λ·rel − (1−λ)·max-sim-to-selected with the rounded-to-9 /
    id-tie-break determinism discipline; oracle unrolls the 5 greedy
    rounds as CTEs."""
    from database2ogr_spark.operators.similarity import mmr_select

    emb = _emb(spark, sf_dir)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:  # empty corpus: no query vector, empty slate
        return spark.createDataFrame(
            [], "step int, vec_id bigint, rel double, score double"
        )
    qvec = [float(x) for x in qrow[0]]
    return mmr_select(
        emb.filter(F.col("vec_id") != 0), qvec, k=5, lam=0.7, pool=50
    )


# integer rho via bin() bitlength; harmonic numerator summed as
# exact integers (HUGEINT) so no float-order drift is possible
@register(twin="""
            WITH rws AS (SELECT text AS v FROM documents
                         WHERE text IS NOT NULL),
            h AS (SELECT ('0x' || substr(md5('7' || chr(31) || v), 1, 15))
                    ::BIGINT AS h FROM rws),
            hr AS (SELECT h % 256 AS reg, h // 256 AS rest FROM h),
            rho AS (SELECT reg, 53 - (CASE WHEN rest > 0
                      THEN length(bin(rest)) ELSE 0 END) AS rho FROM hr),
            regs AS (SELECT reg, max(rho) AS mj FROM rho GROUP BY reg),
            spine AS (SELECT unnest(range(0, 256)) AS reg),
            fl AS (SELECT coalesce(mj, 0)::INT AS mj
                   FROM spine LEFT JOIN regs USING (reg)),
            agg AS (SELECT sum(1::BIGINT << (61 - mj)) AS num,
                      sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END)::BIGINT AS v0
                    FROM fl),
            st AS (SELECT count(*)::BIGINT AS n_rows,
                     count(DISTINCT v)::BIGINT AS exact_distinct FROM rws),
            e AS (SELECT n_rows, exact_distinct, v0,
                    round(CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0))
                            * 256.0 * 256.0 * 2305843009213693952.0
                            / num::DOUBLE <= 640.0 AND v0 > 0
                          THEN 256.0 * ln(256.0 / v0::DOUBLE)
                          ELSE (0.7213 / (1.0 + 1.079 / 256.0))
                            * 256.0 * 256.0 * 2305843009213693952.0
                            / num::DOUBLE END, 6) AS estimate
                  FROM agg CROSS JOIN st)
            SELECT n_rows, exact_distinct, estimate,
              round(abs(estimate - exact_distinct)
                / exact_distinct::DOUBLE, 6) AS rel_error,
              v0 AS zero_registers
            FROM e
        """)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-document estimate over raw text
    (sketches.hll_distinct, p=8) with the exact-count audit column —
    integer rho via bin() bitlength and a DECIMAL-exact harmonic
    numerator, so the replay is drift-free by construction."""
    from database2ogr_spark.operators.sketches import hll_distinct

    return hll_distinct(_t(spark, sf_dir, "documents"), "text")


# lag fan-out replay; all aggregates are exact bigints, the
# per-lag float expression is identical scalar arithmetic
@register(twin="""
            WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT)
                         AS d, count(*)::BIGINT AS x
                       FROM events GROUP BY 1),
            b AS (SELECT min(d) AS lo, max(d) AS hi FROM c),
            sp AS (SELECT hi, unnest(range(lo, hi + 1)) AS d FROM b),
            daily AS (SELECT sp.hi, sp.d, coalesce(c.x, 0)::BIGINT AS x
                      FROM sp LEFT JOIN c ON sp.d = c.d),
            st AS (SELECT count(*)::BIGINT AS n, sum(x) AS s1,
                     sum(x * x) AS q FROM daily),
            fan AS (SELECT x AS xa, d + k AS d, k
                    FROM daily CROSS JOIN
                      (SELECT unnest(range(1, 15)) AS k) kk
                    WHERE d + k <= hi),
            pairs AS (SELECT f.k, f.xa, dl.x AS xb
                      FROM fan f JOIN daily dl ON f.d = dl.d),
            per AS (SELECT k, count(*)::BIGINT AS n_pairs,
                      sum(xa * xb) AS a, sum(xa) AS hb, sum(xb) AS tb
                    FROM pairs GROUP BY k)
            SELECT k::INT AS lag, n_pairs,
              round(CASE WHEN q::DOUBLE - n * (s1::DOUBLE / n)
                           * (s1::DOUBLE / n) > 0
                    THEN (a::DOUBLE - (s1::DOUBLE / n)
                           * (hb + tb)::DOUBLE
                           + n_pairs * (s1::DOUBLE / n)
                           * (s1::DOUBLE / n))
                      / (q::DOUBLE - n * (s1::DOUBLE / n)
                           * (s1::DOUBLE / n)) END, 6) AS r
            FROM per CROSS JOIN st
        """, time_domain=True)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume autocorrelation, lags 1..14 (timeseries.acf_daily) —
    the seasonality fingerprint; integer power sums make the per-lag
    estimator engine-exact before its cosmetic rounding."""
    from database2ogr_spark.operators.timeseries import acf_daily

    return acf_daily(_t(spark, sf_dir, "events"), max_lag=14)


# integer sign sum over aggregated day pairs + tie correction
@register(twin="""
            WITH c AS (SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT)
                         AS d, count(*)::BIGINT AS x
                       FROM events GROUP BY 1),
            b AS (SELECT min(d) AS lo, max(d) AS hi FROM c),
            sp AS (SELECT unnest(range(lo, hi + 1)) AS d FROM b),
            daily AS (SELECT sp.d, coalesce(c.x, 0)::BIGINT AS x
                      FROM sp LEFT JOIN c ON sp.d = c.d),
            s AS (SELECT CAST(sum(sign(bb.x - aa.x)) AS BIGINT) AS s
                  FROM daily aa JOIN daily bb ON bb.d > aa.d),
            t AS (SELECT sum(t * (t - 1) * (2 * t + 5)) AS tsum FROM
                    (SELECT count(*)::BIGINT AS t FROM daily GROUP BY x) g),
            n AS (SELECT count(*)::BIGINT AS n FROM daily),
            j AS (SELECT s.s, t.tsum, n.n,
                    (n.n * (n.n - 1) * (2 * n.n + 5) - t.tsum)::DOUBLE
                      / 18.0 AS v
                  FROM s CROSS JOIN t CROSS JOIN n)
            SELECT n AS n_days, s, round(v, 6) AS var_s,
              round(CASE WHEN v > 0 THEN
                CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
                     WHEN s < 0 THEN (s + 1) / sqrt(v)
                     ELSE 0.0 END END, 6) AS z,
              CASE WHEN v <= 0 THEN NULL
                   WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
                              WHEN s < 0 THEN (s + 1) / sqrt(v)
                              ELSE 0.0 END) > 1.96 THEN 'increasing'
                   WHEN (CASE WHEN s > 0 THEN (s - 1) / sqrt(v)
                              WHEN s < 0 THEN (s + 1) / sqrt(v)
                              ELSE 0.0 END) < -1.96 THEN 'decreasing'
                   ELSE 'no_trend' END AS trend
            FROM j
        """, time_domain=True)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall nonparametric trend test on daily volume
    (timeseries.mann_kendall): integer sign sum over day pairs of the
    AGGREGATED series + tie-corrected variance; catches monotone
    nonlinear drift OLS r² misses."""
    from database2ogr_spark.operators.timeseries import mann_kendall

    return mann_kendall(_t(spark, sf_dir, "events"))


# window-2 co-occurrence edges + 3 unrolled integer-PageRank
# rounds (same bigint div arithmetic as copurchase_pagerank)
@register(twin=f"""
            WITH wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            bp AS (SELECT ws[CAST(i AS INT)] AS a,
                     ws[CAST(i + d AS INT)] AS b
                   FROM wt CROSS JOIN
                     (SELECT unnest(range(1,
                        (SELECT max(len(ws)) FROM wt) + 1)) AS i) ii
                   CROSS JOIN (SELECT unnest(range(1, 3)) AS d) dd
                   WHERE i + d <= len(ws)),
            edges AS (SELECT DISTINCT a, b FROM
                        (SELECT a, b FROM bp
                         UNION ALL SELECT b, a FROM bp) u
                      WHERE a <> b),
            deg AS (SELECT a AS src, count(*) AS deg FROM edges GROUP BY 1),
            nodes AS (SELECT DISTINCT a AS node FROM edges
                      UNION SELECT DISTINCT b FROM edges),
            r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_c9
                   FROM nodes),
            c1 AS (SELECT e.b AS dst,
                     CAST(sum((85 * r.rank_c9) // (100 * d.deg))
                       AS BIGINT) AS s
                   FROM edges e JOIN r0 r ON e.a = r.node
                   JOIN deg d ON e.a = d.src GROUP BY 1),
            r1 AS (SELECT n.node,
                     CAST(150000000 + coalesce(c.s, 0) AS BIGINT) AS rank_c9
                   FROM nodes n LEFT JOIN c1 c ON n.node = c.dst),
            c2 AS (SELECT e.b AS dst,
                     CAST(sum((85 * r.rank_c9) // (100 * d.deg))
                       AS BIGINT) AS s
                   FROM edges e JOIN r1 r ON e.a = r.node
                   JOIN deg d ON e.a = d.src GROUP BY 1),
            r2 AS (SELECT n.node,
                     CAST(150000000 + coalesce(c.s, 0) AS BIGINT) AS rank_c9
                   FROM nodes n LEFT JOIN c2 c ON n.node = c.dst),
            c3 AS (SELECT e.b AS dst,
                     CAST(sum((85 * r.rank_c9) // (100 * d.deg))
                       AS BIGINT) AS s
                   FROM edges e JOIN r2 r ON e.a = r.node
                   JOIN deg d ON e.a = d.src GROUP BY 1),
            r3 AS (SELECT n.node,
                     CAST(150000000 + coalesce(c.s, 0) AS BIGINT) AS rank_c9
                   FROM nodes n LEFT JOIN c3 c ON n.node = c.dst)
            SELECT node AS token, rank_c9 FROM r3
            ORDER BY rank_c9 DESC, token ASC LIMIT 50
        """)
def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (collocations.textrank_keywords, window 2,
    3 integer-PageRank rounds, top 50): centrality over the distinct
    token co-occurrence graph — composes the windowed-pair codegen
    expansion with graph.pagerank_integer's engine-stable bigint
    arithmetic; the oracle unrolls the rounds as CTEs."""
    from database2ogr_spark.operators.collocations import textrank_keywords

    return textrank_keywords(
        _t(spark, sf_dir, "documents"), window=2, iters=3, top_n=50
    )


@register(twin="""
            WITH t AS (SELECT count(*)::BIGINT AS tt FROM documents),
            ab1 AS (SELECT coalesce(CAST(doc_id AS VARCHAR), '∅') AS a,
                      coalesce(source, '∅') AS b, count(*)::BIGINT AS n
                    FROM documents GROUP BY 1, 2),
            pa1 AS (SELECT a, count(*)::BIGINT AS n_b,
                      sum(n)::BIGINT AS n_rows, max(n)::BIGINT AS n_major
                    FROM ab1 GROUP BY a),
            r1 AS (SELECT 'doc_id' AS det, 'source' AS dep,
                     count(*)::BIGINT AS n_det_values,
                     sum(CASE WHEN n_b > 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_violating,
                     sum(n_rows - n_major)::BIGINT AS repair_rows
                   FROM pa1),
            ab2 AS (SELECT coalesce(source, '∅') AS a,
                      coalesce(lang, '∅') AS b, count(*)::BIGINT AS n
                    FROM documents GROUP BY 1, 2),
            pa2 AS (SELECT a, count(*)::BIGINT AS n_b,
                      sum(n)::BIGINT AS n_rows, max(n)::BIGINT AS n_major
                    FROM ab2 GROUP BY a),
            r2 AS (SELECT 'source' AS det, 'lang' AS dep,
                     count(*)::BIGINT AS n_det_values,
                     sum(CASE WHEN n_b > 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_violating,
                     sum(n_rows - n_major)::BIGINT AS repair_rows
                   FROM pa2)
            SELECT det, dep, n_det_values, n_violating, repair_rows,
              round(repair_rows::DOUBLE / tt, 6) AS violation_rate
            FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2) u
            CROSS JOIN t
        """)
def q_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency report (validate.fd_violations): doc_id →
    source (holds exactly) and source → lang (violated — sources span
    languages) with g₃-style repair counts; per pair one (A,B) agg plus
    bounded per-A folds, branches unioned."""
    from database2ogr_spark.operators.validate import fd_violations

    return fd_violations(
        _t(spark, sf_dir, "documents"),
        [("doc_id", "source"), ("source", "lang")],
    )


@register(twin="""
            WITH c AS (SELECT CAST(substr(CAST(CAST(n_chars AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit,
                       count(*)::BIGINT AS n
                       FROM documents
                       WHERE n_chars IS NOT NULL AND n_chars >= 1
                       GROUP BY 1),
            sp AS (SELECT unnest(range(1, 10)) AS digit),
            t AS (SELECT sum(n)::BIGINT AS nn FROM c),
            per AS (SELECT CAST(sp.digit AS INT) AS digit,
                      coalesce(c.n, 0)::BIGINT AS n,
                      round(coalesce(c.n, 0)::DOUBLE / nn, 6) AS obs_freq,
                      round(ln(1.0 + 1.0 / sp.digit) / ln(10.0), 6)
                        AS exp_freq
                    FROM sp LEFT JOIN c ON sp.digit = c.digit
                    CROSS JOIN t),
            dv AS (SELECT *, round(abs(obs_freq - exp_freq), 6) AS dev
                   FROM per),
            m AS (SELECT round(avg(dev), 6) AS mad FROM dv)
            SELECT digit, n, obs_freq, exp_freq, dev, mad
            FROM dv CROSS JOIN m
        """)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit test (validate.benford_test) on document
    lengths — string-based digit extraction (engine-exact), Nigrini MAD
    conformity; 9-row report + shared mad column."""
    from database2ogr_spark.operators.validate import benford_test

    return benford_test(_t(spark, sf_dir, "documents"), "n_chars")


# Davies-Bouldin over the SAME unrolled k-means chain; scatter
# and pair distances use the assignment's rounded cosine
@register(twin=f"""
            {_kmeans_sql()},
            sc AS (SELECT a.cid,
                     round(avg(1 - round(list_dot_product(a.v, c.c) /
                       (greatest(sqrt(list_dot_product(a.v, a.v)), 1e-12) *
                        greatest(sqrt(list_dot_product(c.c, c.c)), 1e-12)),
                       9)), 9) AS s
                   FROM asgf a JOIN cent3 c USING (cid) GROUP BY a.cid),
            dm AS (SELECT a.cid AS i, b.cid AS j,
                     1 - round(list_dot_product(a.c, b.c) /
                       (greatest(sqrt(list_dot_product(a.c, a.c)), 1e-12) *
                        greatest(sqrt(list_dot_product(b.c, b.c)), 1e-12)),
                       9) AS d
                   FROM cent3 a JOIN cent3 b ON a.cid <> b.cid),
            rt AS (SELECT i,
                     max(round((si.s + sj.s) / greatest(d, 1e-12), 9)) AS r
                   FROM dm JOIN sc si ON dm.i = si.cid
                        JOIN sc sj ON dm.j = sj.cid
                   GROUP BY i)
            SELECT count(*)::BIGINT AS k_used, round(avg(r), 6) AS db_index
            FROM rt
        """)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin cluster-quality index (clustering.davies_bouldin)
    for the SAME k-means configuration kmeans_embeddings grades — the
    'was k sane' report consumed before SemDeDup/IVF trust the clusters;
    cosine distances rounded exactly as the assignment rounds them."""
    from database2ogr_spark.operators.clustering import davies_bouldin

    return davies_bouldin(_emb(spark, sf_dir), k=8, n_iter=3)


# word2phrase: detect (Mikolov score) + the leftmost-greedy
# rewrite replayed — islands via pos - running candidate count,
# merge at odd in-island ranks, consume the following position
@register(twin=f"""
            WITH wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            tok AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                      ws[CAST(i AS INT)] AS w
                    FROM wt CROSS JOIN
                      (SELECT unnest(range(1,
                         (SELECT max(len(ws)) FROM wt) + 1)) AS i) ii
                    WHERE i <= len(ws)),
            bp AS (SELECT ws[CAST(i AS INT)] AS w1,
                     ws[CAST(i + 1 AS INT)] AS w2
                   FROM wt CROSS JOIN
                     (SELECT unnest(range(1,
                        (SELECT max(len(ws)) FROM wt) + 1)) AS i) ii
                   WHERE i + 1 <= len(ws)),
            c12 AS (SELECT w1, w2, count(*)::BIGINT AS n12
                    FROM bp GROUP BY 1, 2 HAVING count(*) >= 20),
            uni AS (SELECT w, count(*)::BIGINT AS c
                    FROM (SELECT unnest(ws) AS w FROM wt) GROUP BY w),
            tt AS (SELECT sum(c)::BIGINT AS N FROM uni),
            ph AS (SELECT w1, w2 FROM c12
                   JOIN uni u1 ON w1 = u1.w JOIN uni u2 ON w2 = u2.w
                   CROSS JOIN tt
                   WHERE round((n12 - 5)::DOUBLE * N / (u1.c * u2.c), 6)
                         > 1.1),
            nx AS (SELECT doc_id, pos, w,
                     lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS w_next
                   FROM tok),
            cd AS (SELECT nx.doc_id, nx.pos, nx.w, nx.w_next,
                     (ph.w1 IS NOT NULL) AS c
                   FROM nx LEFT JOIN ph
                     ON nx.w = ph.w1 AND nx.w_next = ph.w2),
            rn AS (SELECT *, CASE WHEN c THEN pos - sum(CASE WHEN c
                       THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id
                       ORDER BY pos ROWS UNBOUNDED PRECEDING) END AS grp
                   FROM cd),
            mk AS (SELECT *, c AND (row_number() OVER (PARTITION BY
                       doc_id, grp ORDER BY pos) % 2 = 1) AS merge_here
                   FROM rn),
            cs AS (SELECT *, coalesce(lag(merge_here) OVER (PARTITION BY
                       doc_id ORDER BY pos), FALSE) AS prev_merged
                   FROM mk)
            SELECT doc_id,
              md5(string_agg(CASE WHEN merge_here
                    THEN w || '_' || w_next ELSE w END, ' '
                  ORDER BY pos)) AS text_md5,
              sum(CASE WHEN merge_here THEN 1 ELSE 0 END)::BIGINT
                AS n_merges
            FROM cs WHERE NOT prev_merged
            GROUP BY doc_id
        """)
def q_phrase_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2phrase end-to-end (collocations.detect_phrases →
    apply_phrases): score bigrams (Mikolov formula, min_count 20,
    threshold 1.1 — the synthetic corpus's near-uniform bigrams top out
    at ~1.38, measured), then rewrite the corpus leftmost-greedy.
    Graded on (doc_id, md5(text), n_merges) — the whole detect+rewrite
    chain including the gaps-and-islands merge parity."""
    from database2ogr_spark.operators.collocations import (
        apply_phrases,
        detect_phrases,
    )

    docs = _t(spark, sf_dir, "documents")
    ph = detect_phrases(docs, min_count=20, threshold=1.1, delta=5)
    out = apply_phrases(docs, ph)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_merges"
    )


# Burrows' Delta: MFW cut, group x MFW spine, z-scores over
# groups (population sd; zero-variance words contribute 0)
@register(twin=f"""
            WITH toks AS (SELECT source AS g, unnest({_WORDS_SQL}) AS w
                          FROM documents),
            gc AS (SELECT g, w, count(*)::BIGINT AS c
                   FROM toks GROUP BY g, w),
            sizes AS (SELECT g, sum(c)::BIGINT AS gn FROM gc GROUP BY g),
            mfw AS (SELECT w FROM (SELECT w, sum(c) AS tc FROM gc
                      GROUP BY w ORDER BY tc DESC, w LIMIT 50) q),
            sp AS (SELECT sizes.g, sizes.gn, mfw.w
                   FROM sizes CROSS JOIN mfw),
            rel AS (SELECT sp.g, sp.w,
                      coalesce(gc.c, 0)::DOUBLE / sp.gn AS f
                    FROM sp LEFT JOIN gc
                      ON sp.g = gc.g AND sp.w = gc.w),
            st AS (SELECT w, avg(f) AS mu, stddev_pop(f) AS sd
                   FROM rel GROUP BY w),
            z AS (SELECT rel.g, rel.w,
                    CASE WHEN sd > 0 THEN (f - mu) / sd ELSE 0.0 END AS z
                  FROM rel JOIN st USING (w))
            SELECT a.g AS group_a, b.g AS group_b,
              round(avg(abs(a.z - b.z)), 6) AS delta
            FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
            GROUP BY a.g, b.g
        """)
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources
    (overlap.burrows_delta, 50 MFW) — the STYLE lens on the source
    matrix next to literal overlap and JSD divergence; everything after
    the MFW cut runs on #groups × 50 rows."""
    from database2ogr_spark.operators.overlap import burrows_delta

    return burrows_delta(_t(spark, sf_dir, "documents"), top_n_words=50)


@register(twin=f"""
            WITH wt AS (SELECT source AS g, {_WORDS_SQL} AS ws
                        FROM documents),
            bp AS (SELECT g, ws[CAST(i AS INT)] AS w1,
                     ws[CAST(i + 1 AS INT)] AS w2
                   FROM wt CROSS JOIN
                     (SELECT unnest(range(1,
                        (SELECT max(len(ws)) FROM wt) + 1)) AS i) ii
                   WHERE i + 1 <= len(ws)),
            c AS (SELECT g, w1, w2, count(*)::BIGINT AS n
                  FROM bp GROUP BY 1, 2, 3),
            lft AS (SELECT g, w1, sum(n)::BIGINT AS n1 FROM c
                    GROUP BY g, w1),
            rgt AS (SELECT g, w2, sum(n)::BIGINT AS n2 FROM c
                    GROUP BY g, w2),
            tot AS (SELECT g, sum(n)::BIGINT AS nn FROM c GROUP BY g),
            hc AS (SELECT c.g, sum(c.n)::BIGINT AS n_bigrams,
                     -sum((c.n::DOUBLE / nn) * ln(c.n::DOUBLE / n1)) AS h
                   FROM c JOIN lft USING (g, w1) JOIN tot USING (g)
                   GROUP BY c.g),
            hu AS (SELECT rgt.g,
                     -sum((n2::DOUBLE / nn) * ln(n2::DOUBLE / nn)) AS h
                   FROM rgt JOIN tot USING (g) GROUP BY rgt.g)
            SELECT hc.g AS source, n_bigrams,
              round(hc.h, 6) AS h_cond, round(hu.h, 6) AS h_uni,
              round(hu.h - hc.h, 6) AS info_gain
            FROM hc JOIN hu ON hc.g = hu.g
        """)
def q_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram conditional entropy (collocations.entropy_rate):
    H(w₂|w₁), the unigram H(w₂), and their gap — the sequence-
    predictability audit; one (g, w1, w2) count table feeds everything."""
    from database2ogr_spark.operators.collocations import entropy_rate

    return entropy_rate(_t(spark, sf_dir, "documents"))


# Gries DP: present-parts fold, absent mass = 1 - sum(s_i)
@register(twin=f"""
            WITH toks AS (SELECT source AS g, unnest({_WORDS_SQL}) AS w
                          FROM documents),
            pc AS (SELECT g, w, count(*)::BIGINT AS c
                   FROM toks GROUP BY g, w),
            sizes AS (SELECT g, sum(c)::BIGINT AS gn FROM pc GROUP BY g),
            tot AS (SELECT sum(gn)::BIGINT AS nn FROM sizes),
            tc AS (SELECT w, sum(c)::BIGINT AS tc FROM pc GROUP BY w
                   HAVING sum(c) >= 10),
            j AS (SELECT pc.w, tc.tc,
                    pc.c::DOUBLE / tc.tc AS v,
                    sizes.gn::DOUBLE / nn AS s
                  FROM pc JOIN tc USING (w) JOIN sizes USING (g)
                       CROSS JOIN tot)
            SELECT w AS term, tc AS count,
              round(0.5 * (sum(abs(v - s)) + 1.0 - sum(s)), 6) AS dp
            FROM j GROUP BY w, tc
            ORDER BY dp DESC, term ASC LIMIT 100
        """)
def q_term_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries DP term dispersion over sources (collocations.term_
    dispersion, min_count 10, top 100) — the clumpedness audit that
    catches single-source boilerplate terms a frequency list overrates;
    absent-part mass folded algebraically, no part spine."""
    from database2ogr_spark.operators.collocations import term_dispersion

    return term_dispersion(
        _t(spark, sf_dir, "documents"), min_count=10, top_n=100
    )


# Youden's J from suffix sums over the distinct-score histogram
@register(twin=f"""
            WITH sc AS ({_logreg_sql()}),
            h AS (SELECT prob AS s, sum(label)::BIGINT AS p_s,
                         (count(*) - sum(label))::BIGINT AS n_s
                  FROM sc GROUP BY prob),
            c AS (SELECT s,
                    sum(p_s) OVER (ORDER BY s DESC
                      ROWS UNBOUNDED PRECEDING) AS tp,
                    sum(n_s) OVER (ORDER BY s DESC
                      ROWS UNBOUNDED PRECEDING) AS fp
                  FROM h),
            t AS (SELECT sum(p_s)::BIGINT AS P, sum(n_s)::BIGINT AS N
                  FROM h)
            SELECT s AS threshold,
              round(tp::DOUBLE / P, 6) AS tpr,
              round(fp::DOUBLE / N, 6) AS fpr,
              round(tp::DOUBLE / P - fp::DOUBLE / N, 6) AS j
            FROM c CROSS JOIN t
            WHERE P > 0 AND N > 0
            ORDER BY round(tp::DOUBLE / P - fp::DOUBLE / N, 6) DESC, s ASC
            LIMIT 1
        """)
def q_best_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden's-J operating point (classifier.best_threshold) for the
    quality classifier — threshold/TPR/FPR from suffix sums over the
    distinct-score histogram; lower-threshold tie-break (keep more
    data)."""
    from database2ogr_spark.operators.classifier import (
        best_threshold,
        quality_classifier_scores,
    )

    scored = quality_classifier_scores(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    return best_threshold(scored)


# sliced AUC: same logreg twin + per-lang histogram windows
@register(twin=f"""
            WITH sc AS ({_logreg_sql()}),
            j AS (SELECT sc.doc_id, sc.label, sc.prob, d.lang
                  FROM sc JOIN documents d USING (doc_id)),
            h AS (SELECT lang, prob AS s, sum(label)::BIGINT AS p_s,
                         (count(*) - sum(label))::BIGINT AS n_s
                  FROM j GROUP BY lang, prob),
            c AS (SELECT *, sum(n_s) OVER (PARTITION BY lang ORDER BY s
                    ROWS UNBOUNDED PRECEDING) - n_s AS cum_n FROM h),
            u AS (SELECT lang, sum(p_s) AS n_pos, sum(n_s) AS n_neg,
                         sum(p_s * cum_n + 0.5 * p_s * n_s) AS uu
                  FROM c GROUP BY lang)
            -- CAST like sibling classifier_auc: the un-cast sums are
            -- HUGEINT → float64 at the driver vs Spark bigint
            SELECT lang, CAST(n_pos AS BIGINT) AS n_pos,
              CAST(n_neg AS BIGINT) AS n_neg,
              CASE WHEN n_pos > 0 AND n_neg > 0
                   THEN round(uu / (n_pos * n_neg), 6) END AS auc
            FROM u
        """)
def q_auc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced ROC-AUC (classifier.auc_by_group by lang) for the quality
    classifier — the fairness audit the global AUC averages away; the
    en slice is degenerate by construction (label == lang=='en') and
    honestly reports NULL. Per-(group, score) histogram, group-partitioned
    cumulative windows."""
    from database2ogr_spark.operators.classifier import (
        auc_by_group,
        quality_classifier_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = quality_classifier_scores(docs, F.col("lang") == "en")
    joined = scored.join(docs.select("doc_id", "lang"), "doc_id")
    return auc_by_group(joined, "lang")


# RRF: the bm25_topk twin chain ranked + the cosine_topk twin
# chain for query vec 0, fused by 1/(60+rank)
@register(twin=f"""
            WITH tk AS (SELECT doc_id, list_filter(string_split(
                          regexp_replace(text, '[{_SPACE}]+', ' ', 'g'), ' '),
                          x -> x <> '') AS w
                        FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS token FROM tk),
            tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
                   FROM tok GROUP BY doc_id, token),
            dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl
                   FROM tf GROUP BY doc_id),
            st AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl
                   FROM dl),
            dfq AS (SELECT token, count(*)::BIGINT AS dfreq FROM tf
                    WHERE token IN ('spark', 'window', 'shuffle')
                    GROUP BY token),
            sc AS (SELECT tf.doc_id,
                     sum(ln(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
                         * (tf * 2.2)
                         / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS s
                   FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)
                        CROSS JOIN st
                   GROUP BY tf.doc_id),
            bmr AS (SELECT doc_id, CAST(row_number() OVER
                      (ORDER BY round(s, 6) DESC, doc_id) AS INT) AS rk
                    FROM sc QUALIFY rk <= 15),
            e AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
            qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
            cs AS (SELECT e.vec_id,
                     round(list_dot_product(q, v) /
                       (sqrt(list_dot_product(q, q)) *
                        sqrt(list_dot_product(v, v))), 6) AS cosine_sim
                   FROM e CROSS JOIN qv WHERE e.vec_id <> 0),
            csr AS (SELECT vec_id AS doc_id, CAST(row_number() OVER
                      (ORDER BY cosine_sim DESC, vec_id) AS INT) AS rk
                    FROM cs QUALIFY rk <= 15),
            u AS (SELECT doc_id, rk FROM bmr
                  UNION ALL SELECT doc_id, rk FROM csr),
            f AS (SELECT doc_id, count(*)::BIGINT AS n_lists,
                    round(sum(1.0 / (60 + rk)), 6) AS rrf_score
                  FROM u GROUP BY doc_id)
            SELECT doc_id, n_lists, rrf_score,
              CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
                AS INT) AS fused_rank
            FROM f
        """)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (search.rrf_fuse,
    k=60): the BM25 top-15 for 'spark window shuffle' fused with the
    embedding-cosine top-15 for query vec 0 — rank-based, calibration-
    free combining of a lexical and a dense retriever; fusion cost is
    list-size work regardless of corpus size."""
    from database2ogr_spark.operators.search import (
        bm25_topk,
        build_positional_index,
        rrf_fuse,
    )

    out = _tmp("d2o_bm25_idx_rrf")
    build_positional_index(_t(spark, sf_dir, "documents"), out)
    bm = bm25_topk(spark, out, ["spark", "window", "shuffle"], k=15)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    bm_ranked = bm.select(
        "doc_id", F.row_number().over(w).cast("int").alias("rank")
    )
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cos = SIM.cosine_topk(emb, q, k=15, query_id_col="query_id").select(
        F.col("vec_id").alias("doc_id"), F.col("rank").cast("int").alias("rank")
    )
    return rrf_fuse([bm_ranked, cos], k_rrf=60)


def _ams_f2_sql(n_counters: int = 32, n_groups: int = 4) -> str:
    """DuckDB twin of sketches.ams_f2 (even n_groups: median = mean of
    the middle two sorted group means)."""
    m = n_counters // n_groups
    csums = ", ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1)::BIGINT AS c{j}"
        for j in range(n_counters)
    )
    groups = ", ".join(
        "("
        + " + ".join(f"c{g * m + i} * c{g * m + i}" for i in range(m))
        + f")::DOUBLE / {m}"
        for g in range(n_groups)
    )
    lo = n_groups // 2
    med = f"(ms[{lo}] + ms[{lo + 1}]) / 2.0"
    return f"""
        WITH t AS (SELECT w, {_h64_sql("w", 3)} AS h
                   FROM (SELECT unnest({_WORDS_SQL}) AS w
                         FROM documents)),
        c AS (SELECT count(*)::BIGINT AS n_tokens, {csums} FROM t),
        ex AS (SELECT sum(f * f)::BIGINT AS f2_exact
               FROM (SELECT w, count(*)::BIGINT AS f FROM t GROUP BY w)),
        g AS (SELECT n_tokens, list_sort([{groups}]) AS ms FROM c)
        SELECT n_tokens, f2_exact,
          round({med}, 6) AS f2_estimate,
          round(abs(round({med}, 6) - f2_exact) / f2_exact::DOUBLE, 6)
            AS rel_error
        FROM g CROSS JOIN ex
    """


@register(twin=_ams_f2_sql())
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment sketch (sketches.ams_f2, 32 counters / 4
    groups): F2 estimate next to the exact value and relative error —
    sketch QUALITY graded, not just arithmetic; counters are mergeable
    sums, one md5 per token."""
    from database2ogr_spark.operators.sketches import ams_f2

    return ams_f2(_t(spark, sf_dir, "documents"))


# randomization test: seed-17 md5 reallocation draws, rounded
# comparisons, (1 + n_ge)/(n_perm + 1)
@register(twin=f"""
            WITH sel AS (SELECT CAST(doc_id AS VARCHAR) AS rid,
                           CAST(n_chars AS DOUBLE) AS v,
                           source = 'src0' AS is_a
                         FROM documents
                         WHERE source IN ('src0', 'src1')
                           AND n_chars IS NOT NULL),
            obs AS (SELECT
                      sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
                      sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b,
                      avg(CASE WHEN is_a THEN v END)
                        - avg(CASE WHEN NOT is_a THEN v END) AS od
                    FROM sel),
            dr AS (SELECT v, j,
                     ({_h64_sql("rid || ':' || CAST(j AS VARCHAR)", 17)}
                        % (n_a + n_b)) < n_a AS to_a
                   FROM sel CROSS JOIN
                     (SELECT unnest(range(1, 201)) AS j) jj
                   CROSS JOIN obs),
            pj AS (SELECT j,
                     sum(CASE WHEN to_a THEN v END) AS sa,
                     sum(CASE WHEN to_a THEN 1 ELSE 0 END) AS ca,
                     sum(CASE WHEN NOT to_a THEN v END) AS sb,
                     sum(CASE WHEN NOT to_a THEN 1 ELSE 0 END) AS cb
                   FROM dr GROUP BY j
                   HAVING sum(CASE WHEN to_a THEN 1 ELSE 0 END) > 0
                      AND sum(CASE WHEN NOT to_a THEN 1 ELSE 0 END) > 0),
            h AS (SELECT sum(CASE WHEN
                      round(abs(sa / ca - sb / cb), 6)
                        >= round(abs(od), 6) THEN 1 ELSE 0 END) AS n_ge
                  FROM pj CROSS JOIN obs)
            SELECT n_a, n_b, round(od, 6) AS obs_diff, 200 AS n_perm,
              round((1 + n_ge) / 201.0, 6) AS p_value
            FROM obs CROSS JOIN h
        """)
def q_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization significance test (diff.randomization_test, 200
    md5-deterministic null draws) on document length src0 vs src1 — the
    p-value companion to ks_test; per-draw sums are one ≤n_perm-key
    partial-agg'd shuffle."""
    from database2ogr_spark.operators.diff import randomization_test

    return randomization_test(
        _t(spark, sf_dir, "documents"),
        "n_chars",
        "source",
        "src0",
        "src1",
        n_perm=200,
    )


# A-priori replay: L1 >= ms, pairs over frequent items, triples
# extended from surviving pairs — same pruning order
@register(twin="""
            WITH tx AS (SELECT DISTINCT l_orderkey AS t, l_partkey AS i
                        FROM lineitem),
            l1 AS (SELECT i, count(*)::BIGINT AS support FROM tx GROUP BY i),
            f1 AS (SELECT * FROM l1 WHERE support >= 3),
            tx1 AS (SELECT tx.t, tx.i FROM tx JOIN f1 USING (i)),
            pr AS (SELECT a.t, a.i AS i1, b.i AS i2
                   FROM tx1 a JOIN tx1 b ON a.t = b.t AND a.i < b.i),
            l2 AS (SELECT i1, i2, count(*)::BIGINT AS support
                   FROM pr GROUP BY 1, 2),
            f2 AS (SELECT * FROM l2 WHERE support >= 3),
            tx2 AS (SELECT pr.t, pr.i1, pr.i2
                    FROM pr JOIN f2 USING (i1, i2)),
            tr AS (SELECT tx2.t, tx2.i1, tx2.i2, c.i AS i3
                   FROM tx2 JOIN tx1 c ON tx2.t = c.t AND c.i > tx2.i2),
            l3 AS (SELECT i1, i2, i3, count(*)::BIGINT AS support
                   FROM tr GROUP BY 1, 2, 3),
            f3 AS (SELECT * FROM l3 WHERE support >= 3)
            SELECT 1 AS size, i AS i1, CAST(NULL AS BIGINT) AS i2,
              CAST(NULL AS BIGINT) AS i3, support FROM f1
            UNION ALL
            SELECT 2, i1, i2, CAST(NULL AS BIGINT), support FROM f2
            UNION ALL
            SELECT 3, i1, i2, i3, support FROM f3
        """)
def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent itemsets (basket.frequent_itemsets, min_support
    3, up to triples) over the order→part baskets — each level one
    txn-keyed self-join of the SURVIVING table + one partial-agg'd count;
    support pruning between levels bounds the fanout. Scalar canonical
    columns (size, i1, i2, i3, support) — no array outputs."""
    from database2ogr_spark.operators.basket import frequent_itemsets

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("txn_id"), F.col("l_partkey").alias("item")
    )
    return frequent_itemsets(li, min_support=3)


@register(twin="""
            WITH tx AS (SELECT DISTINCT l_orderkey AS t, l_partkey AS i
                        FROM lineitem),
            l1 AS (SELECT i, count(*)::BIGINT AS s1 FROM tx GROUP BY i),
            f1 AS (SELECT * FROM l1 WHERE s1 >= 3),
            tx1 AS (SELECT tx.t, tx.i FROM tx JOIN f1 USING (i)),
            l2 AS (SELECT a.i AS i1, b.i AS i2, count(*)::BIGINT AS s12
                   FROM tx1 a JOIN tx1 b ON a.t = b.t AND a.i < b.i
                   GROUP BY 1, 2),
            f2 AS (SELECT * FROM l2 WHERE s12 >= 3),
            r AS (SELECT i1 AS antecedent, i2 AS consequent, s12 FROM f2
                  UNION ALL
                  SELECT i2, i1, s12 FROM f2)
            SELECT antecedent, consequent, s12 AS support,
              round(s12::DOUBLE / s1, 6) AS confidence
            FROM r JOIN f1 ON r.antecedent = f1.i
            WHERE round(s12::DOUBLE / s1, 6) >= 0.05
        """)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (basket.association_rules, confidence ≥ 0.05 —
    the sparse synthetic baskets top out at ~0.14, measured both SFs)
    from the graded frequent-itemset table — confidence as exact support
    ratios, no corpus re-scan."""
    from database2ogr_spark.operators.basket import (
        association_rules,
        frequent_itemsets,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("txn_id"), F.col("l_partkey").alias("item")
    )
    return association_rules(
        frequent_itemsets(li, min_support=3), min_confidence=0.05
    )


# exact trailing-window distinct via the deduped-pair ×w fanout
@register(twin="""
            WITH du AS (SELECT DISTINCT
                          CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d,
                          user_id AS u
                        FROM events),
            b AS (SELECT min(d) AS lo, max(d) AS hi FROM du),
            f AS (SELECT unnest(range(d, d + 7)) AS e, u FROM du),
            c AS (SELECT e, count(DISTINCT u)::BIGINT AS n
                  FROM f GROUP BY e),
            sp AS (SELECT unnest(range(lo, hi + 1)) AS e FROM b)
            SELECT sp.e AS window_end_day,
              coalesce(c.n, 0)::BIGINT AS n_users
            FROM sp LEFT JOIN c ON sp.e = c.e
        """, time_domain=True)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day trailing active users (timeseries.rolling_distinct_
    users): deduped (day, user) pairs fan out ×7 to their window-end
    days, one countDistinct per day — never a range join, never HLL
    error; integer epoch-day arithmetic throughout."""
    from database2ogr_spark.operators.timeseries import rolling_distinct_users

    return rolling_distinct_users(_t(spark, sf_dir, "events"), window_days=7)


@register(twin="""
            WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events
                       GROUP BY user_id)
            SELECT event_id, e.user_id,
              CASE WHEN e.ts IS NULL OR e.user_id IS NULL THEN 'discard'
                   WHEN e.ts < TIMESTAMP '2024-01-15 00:00:00'
                     THEN 'train'
                   WHEN f.first_ts >= TIMESTAMP '2024-01-15 00:00:00'
                     THEN 'test'
                   ELSE 'discard' END AS split
            FROM events e LEFT JOIN f
              ON e.user_id IS NOT DISTINCT FROM f.user_id
        """)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-blocked temporal split (sampling.temporal_split, cutoff
    2024-01-15): train before cutoff, test only for cold-start users,
    known users' post-cutoff events discarded — the leakage-safe eval
    protocol; one per-user min-ts agg joined back on the user key."""
    from database2ogr_spark.operators.sampling import temporal_split

    out = temporal_split(
        _t(spark, sf_dir, "events"), cutoff="2024-01-15 00:00:00"
    )
    return out.select("event_id", "user_id", "split")


# datasheet: four bounded branches; median via the distinct-length
# histogram (lower median: smallest nc with cumFreq >= (n+1)/2)
@register(twin=f"""
            WITH base AS (SELECT md5(text) AS fp,
                     len({_WORDS_SQL})::BIGINT AS nt,
                     length(text)::BIGINT AS nc,
                     CASE WHEN regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                       '[EMAIL]', 'g'), '[0-9]{{7,}}', '[NUM]', 'g')
                       <> text THEN 1 ELSE 0 END AS pii
                   FROM documents),
            main AS (SELECT count(*)::BIGINT AS n_docs,
                       sum(nt)::BIGINT AS n_tokens,
                       sum(nc)::BIGINT AS n_chars,
                       count(DISTINCT fp)::BIGINT AS nd,
                       sum(pii)::BIGINT AS npii
                     FROM base),
            voc AS (SELECT count(DISTINCT w)::BIGINT AS vocab_size
                    FROM (SELECT unnest({_WORDS_SQL}) AS w
                          FROM documents)),
            lc AS (SELECT lang, count(*)::BIGINT AS n FROM documents
                   GROUP BY lang),
            le AS (SELECT count(*)::BIGINT AS n_langs,
                     round(-sum((n::DOUBLE / tt) * ln(n::DOUBLE / tt)), 6)
                       AS lang_entropy
                   FROM lc CROSS JOIN
                     (SELECT sum(n)::DOUBLE AS tt FROM lc)),
            hist AS (SELECT nc, count(*)::BIGINT AS hn FROM base
                     WHERE nc IS NOT NULL GROUP BY nc),
            cum AS (SELECT nc, sum(hn) OVER (ORDER BY nc
                      ROWS UNBOUNDED PRECEDING) AS cf FROM hist),
            med AS (SELECT min(nc)::BIGINT AS median_len
                    FROM cum CROSS JOIN
                      (SELECT sum(hn) AS nn FROM hist)
                    WHERE cf >= (nn + 1) / 2.0)
            SELECT n_docs, n_tokens, n_chars, vocab_size,
              round(1.0 - nd::DOUBLE / n_docs, 6) AS dup_doc_rate,
              n_langs, lang_entropy,
              round(npii::DOUBLE / n_docs, 6) AS pii_doc_rate, median_len
            FROM main CROSS JOIN voc CROSS JOIN le CROSS JOIN med
        """)
def q_dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-plan dataset datasheet (validate.dataset_datasheet): corpus
    size, vocabulary, exact-dup rate, language entropy, PII-doc rate,
    exact lower-median length — the governance artifact composed from
    verified building blocks, every branch partial-agg'd and bounded."""
    from database2ogr_spark.operators.validate import dataset_datasheet

    return dataset_datasheet(_t(spark, sf_dir, "documents"))


# SGNS: positives from the ±1 offset, negatives via exact integer
# inverse-CDF over unigram^0.75 weights, seed-11 md5 draws
@register(twin=f"""
            WITH d AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
                       WHERE doc_id % 7 = 0),
            pos AS (
              SELECT doc_id, CAST(i - 1 AS INT) AS pos, 1 AS ctx_offset,
                     ws[CAST(i AS INT)] AS center,
                     ws[CAST(i + 1 AS INT)] AS context
              FROM d CROSS JOIN (SELECT unnest(range(1,
                (SELECT max(len(ws)) FROM d) + 1)) AS i) ii
              WHERE i + 1 <= len(ws)
              UNION ALL
              SELECT doc_id, CAST(i AS INT) AS pos, -1 AS ctx_offset,
                     ws[CAST(i + 1 AS INT)] AS center,
                     ws[CAST(i AS INT)] AS context
              FROM d CROSS JOIN (SELECT unnest(range(1,
                (SELECT max(len(ws)) FROM d) + 1)) AS i) ii
              WHERE i + 1 <= len(ws)),
            cnt AS (SELECT w, count(*)::BIGINT AS c
                    FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
            wtd AS (SELECT w, greatest(1,
                      CAST(round(pow(c::DOUBLE, 0.75) * 1000) AS BIGINT))
                      AS wt
                    FROM cnt),
            cum AS (SELECT w, wt,
                      coalesce(sum(wt) OVER (ORDER BY wt DESC, w
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS lo
                    FROM wtd),
            iv AS (SELECT w, lo, lo + wt AS hi FROM cum),
            tt AS (SELECT max(hi)::BIGINT AS T FROM iv),
            dr AS (SELECT doc_id, pos, ctx_offset, center, j AS neg_ix,
                     {_h64_sql(
                         "CAST(doc_id AS VARCHAR) || ':' || "
                         "CAST(pos AS VARCHAR) || ':' || "
                         "CAST(ctx_offset AS VARCHAR) || ':' || "
                         "CAST(j AS VARCHAR)",
                         11,
                     )} % T AS u
                   FROM pos CROSS JOIN
                     (SELECT unnest(range(1, 3)) AS j) jj
                   CROSS JOIN tt),
            neg AS (SELECT doc_id, pos, ctx_offset, center,
                      iv.w AS context, 0 AS label, CAST(neg_ix AS INT)
                        AS neg_ix
                    FROM dr JOIN iv ON dr.u >= iv.lo AND dr.u < iv.hi)
            SELECT doc_id, pos, ctx_offset, center, context, 1 AS label,
              0 AS neg_ix
            FROM pos
            UNION ALL
            SELECT doc_id, pos, ctx_offset, center, context, label, neg_ix
            FROM neg
        """)
def q_skipgram_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SGNS training pairs (sampling.skipgram_negative_samples, window=1,
    n_neg=2) over the doc_id%7 slice — positives plus exact-integer
    inverse-CDF negatives from the unigram^0.75 noise distribution, the
    whole draw md5-deterministic and bucket-joined (never a nested-loop
    range scan)."""
    from database2ogr_spark.operators.sampling import skipgram_negative_samples

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    return skipgram_negative_samples(docs, window=1, n_neg=2)


# TwoNN: q = |a|^2+|b|^2-2ab rounded 9dp; q1/q2 as order stats;
# duplicates (q1 = 0) excluded from the MLE sum
@register(twin="""
            WITH e AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE))
                           AS v
                       FROM embeddings),
            p AS (SELECT a.vec_id AS ia,
                    round(list_dot_product(a.v, a.v)
                          + list_dot_product(b.v, b.v)
                          - 2 * list_dot_product(a.v, b.v), 9) AS q
                  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
            nn AS (SELECT ia, q, row_number() OVER
                     (PARTITION BY ia ORDER BY q) AS rn FROM p),
            tw AS (SELECT ia,
                     max(CASE WHEN rn = 1 THEN q END) AS q1,
                     max(CASE WHEN rn = 2 THEN q END) AS q2
                   FROM nn WHERE rn <= 2 GROUP BY ia)
            SELECT count(*)::BIGINT AS n_points,
              sum(CASE WHEN q1 > 0 THEN 1 ELSE 0 END)::BIGINT AS n_used,
              CASE WHEN sum(CASE WHEN q1 > 0 THEN 0.5 * ln(q2 / q1)
                            ELSE 0 END) > 0
                   THEN round(
                     sum(CASE WHEN q1 > 0 THEN 1 ELSE 0 END)::DOUBLE /
                     sum(CASE WHEN q1 > 0 THEN 0.5 * ln(q2 / q1)
                         ELSE 0 END), 6)
                   END AS id_twonn
            FROM tw
        """)
def q_intrinsic_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (similarity.intrinsic_dimension)
    over the embedding table — the representation-collapse audit; blocked
    matmul kernel, squared distances rounded 9 dp as the cross-engine
    contract, exact duplicates excluded per the published procedure."""
    from database2ogr_spark.operators.similarity import intrinsic_dimension

    return intrinsic_dimension(_emb(spark, sf_dir))


@register(twin="""
            WITH sel AS (SELECT CAST(n_chars AS DOUBLE) AS v,
                           source = 'src0' AS is_a
                         FROM documents
                         WHERE source IN ('src0', 'src1')
                           AND n_chars IS NOT NULL),
            hist AS (SELECT v,
                       sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS ca,
                       sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS cb
                     FROM sel GROUP BY v),
            tot AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
                    FROM hist),
            cum AS (SELECT
                      sum(ca) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS fa,
                      sum(cb) OVER (ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS fb
                    FROM hist),
            d AS (SELECT n_a, n_b,
                    max(abs(fa::DOUBLE / n_a - fb::DOUBLE / n_b)) AS dmax
                  FROM cum CROSS JOIN tot GROUP BY n_a, n_b)
            SELECT n_a, n_b, round(dmax, 6) AS d_stat,
              round(1.358 * sqrt((n_a + n_b)::DOUBLE / (n_a * n_b)), 6)
                AS d_crit_95,
              round(dmax, 6) >
                round(1.358 * sqrt((n_a + n_b)::DOUBLE / (n_a * n_b)), 6)
                AS reject_95
            FROM d
        """)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS test (diff.ks_test) on document length between
    src0 and src1 — the exact, binning-free drift companion to the PSI
    report; cumulative CDFs via the distinct-value histogram trick."""
    from database2ogr_spark.operators.diff import ks_test

    return ks_test(
        _t(spark, sf_dir, "documents"), "n_chars", "source", "src0", "src1"
    )


# interpolated KN: discount from count-of-counts, continuation
# from distinct-left-context counts — all off one bigram table
@register(twin=f"""
            WITH wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            bp AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1,
                     ws[CAST(i + 1 AS INT)] AS w2
                   FROM wt CROSS JOIN
                     (SELECT unnest(range(1,
                        (SELECT max(len(ws)) FROM wt) + 1)) AS i) ii
                   WHERE i + 1 <= len(ws)),
            c AS (SELECT w1, w2, count(*)::BIGINT AS c12
                  FROM bp GROUP BY 1, 2),
            lft AS (SELECT w1, sum(c12)::BIGINT AS c1dot,
                      count(*)::BIGINT AS n1p_w1
                    FROM c GROUP BY w1),
            ct AS (SELECT w2, count(*)::BIGINT AS n1p_w2 FROM c GROUP BY w2),
            cc AS (SELECT count(*)::BIGINT AS n_types,
                     sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
                     sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END)::BIGINT AS n2
                   FROM c),
            p AS (SELECT doc_id,
                    greatest(c12::DOUBLE -
                      (CASE WHEN n1 + 2 * n2 > 0
                            THEN n1::DOUBLE / (n1 + 2 * n2)
                            ELSE 0.0 END), 0.0) / c1dot
                    + ((CASE WHEN n1 + 2 * n2 > 0
                             THEN n1::DOUBLE / (n1 + 2 * n2)
                             ELSE 0.0 END) * n1p_w1 / c1dot)
                      * (n1p_w2::DOUBLE / n_types) AS pr
                  FROM bp JOIN c USING (w1, w2) JOIN lft USING (w1)
                       JOIN ct USING (w2) CROSS JOIN cc)
            SELECT doc_id, count(*)::BIGINT AS n_bigrams,
              round(avg(ln(pr)), 6) AS logprob
            FROM p GROUP BY doc_id
        """)
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score (tfidf.kneser_ney_logprob_
    score) — absolute discounting + continuation probability, the
    principled top of the unigram → bigram → stupid-backoff ladder;
    model tables all derive from the one bigram-count aggregation."""
    from database2ogr_spark.operators.tfidf import kneser_ney_logprob_score

    return kneser_ney_logprob_score(_t(spark, sf_dir, "documents"))


# winnowing: the (gram asc, pos desc) window argmin replayed via
# the same fixed-width string key; exact integer pair counts
@register(twin=f"""
            WITH sh AS ({_SHINGLES_SQL}),
            g AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                    s[CAST(i AS INT)] AS gram
                  FROM sh CROSS JOIN
                    (SELECT unnest(range(1,
                       (SELECT max(len(s)) FROM sh) + 1)) AS i) ii
                  WHERE i <= len(s)),
            ky AS (SELECT doc_id, pos,
                     lpad(CAST(gram AS VARCHAR), 19, '0') ||
                     lpad(CAST(9999999999 - pos AS VARCHAR), 10, '0') AS key
                   FROM g),
            sel AS (SELECT doc_id,
                      min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY pos) AS rn,
                      count(*) OVER (PARTITION BY doc_id) AS n
                    FROM ky),
            fp AS (SELECT DISTINCT doc_id,
                     CAST(substr(mn, 1, 19) AS BIGINT) AS fp
                   FROM sel WHERE rn <= greatest(n - 3, 1)),
            cold AS (SELECT fp FROM
                       (SELECT fp, count(*) AS d FROM fp GROUP BY fp) q
                     WHERE d <= 100),
            kept AS (SELECT doc_id, fp.fp FROM fp JOIN cold USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              count(*)::BIGINT AS n_shared
            FROM kept a JOIN kept b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 2
        """)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing match (dedup.winnow_pairs, window=4, k=3): document
    pairs sharing ≥2 winnowed fingerprints — the position-robust LOCAL
    overlap detector (fires on one shared passage) completing the dedup
    family next to the global-similarity members (MinHash/SimHash/
    Jaccard). Fingerprints ≈ 2/(w+1) of the gram stream; inverted-index
    join with the max_df fanout guard."""
    from database2ogr_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        _t(spark, sf_dir, "documents"),
        k_shingle=3,
        window=4,
        min_shared=2,
        max_df=100,
    )


@register(twin=f"""
            WITH wt AS (SELECT source, {_WORDS_SQL} AS ws FROM documents),
            tok AS (SELECT source, unnest(ws) AS w FROM wt),
            wc AS (SELECT source, w, count(*)::BIGINT AS c
                   FROM tok GROUP BY 1, 2),
            uni AS (SELECT source, sum(c)::BIGINT AS n_tokens,
                      count(*)::BIGINT AS n_types,
                      sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT
                        AS n_hapax
                    FROM wc GROUP BY source),
            bg AS (SELECT source,
                     ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)]
                       AS b
                   FROM wt CROSS JOIN
                     (SELECT unnest(range(1,
                        (SELECT max(len(ws)) FROM wt) + 1)) AS i) ii
                   WHERE i + 1 <= len(ws)),
            bs AS (SELECT source, count(*)::BIGINT AS nb,
                     count(DISTINCT b)::BIGINT AS ndb
                   FROM bg GROUP BY source)
            SELECT uni.source, n_tokens, n_types,
              round(n_types::DOUBLE / n_tokens, 6) AS ttr,
              round(n_hapax::DOUBLE / n_types, 6) AS hapax_rate,
              round(ndb::DOUBLE / nb, 6) AS distinct_bigram_ratio
            FROM uni LEFT JOIN bs USING (source)
        """)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity report (textstats.lexical_diversity):
    TTR, hapax rate, distinct-bigram ratio — the distinct-n/self-BLEU
    family health metrics read next to zipf_fit/vocab_growth. Two gram
    streams, everything downstream #groups-sized."""
    from database2ogr_spark.functions.textstats import lexical_diversity

    return lexical_diversity(_t(spark, sf_dir, "documents"), group_col="source")


# pairwise JSD over add-1-smoothed hashed unigram buckets; the
# sum runs over the full bucket spine so it replays exactly
@register(twin=f"""
            WITH tok AS (SELECT source AS grp,
                           {_h64_sql("w", 0)} % 2048 AS bucket
                         FROM (SELECT source, unnest({_WORDS_SQL}) AS w
                               FROM documents) q),
            cnt AS (SELECT grp, bucket, count(*)::BIGINT AS c
                    FROM tok GROUP BY 1, 2),
            tot AS (SELECT grp, sum(c)::BIGINT AS n FROM cnt GROUP BY grp),
            sp AS (SELECT grp, n, b.bucket
                   FROM tot CROSS JOIN
                     (SELECT unnest(range(0, 2048)) AS bucket) b),
            pr AS (SELECT sp.grp, sp.bucket,
                     (coalesce(c, 0) + 1.0) / (n + 2048.0) AS p
                   FROM sp LEFT JOIN cnt
                     ON sp.grp = cnt.grp AND sp.bucket = cnt.bucket)
            SELECT a.grp AS group_a, b.grp AS group_b,
              round(sum(0.5 * (a.p * ln(a.p / ((a.p + b.p) / 2))
                             + b.p * ln(b.p / ((a.p + b.p) / 2)))), 6)
                AS jsd
            FROM pr a JOIN pr b
              ON a.bucket = b.bucket AND a.grp < b.grp
            GROUP BY 1, 2
        """)
def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between source unigram
    distributions over 2048 hashed buckets (overlap.corpus_divergence) —
    the distributional companion to source_overlap (literal sharing) and
    drift_report (numeric PSI). Models are bucket-bounded; the pair join
    is #sources² × B, never corpus-sized."""
    from database2ogr_spark.operators.overlap import corpus_divergence

    return corpus_divergence(
        _t(spark, sf_dir, "documents"), group_col="source", n_buckets=2048
    )


@register(twin="""
            WITH s AS (SELECT event_type AS cur_type,
                         lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS next_type
                       FROM events
                       WHERE ts IS NOT NULL AND event_type IS NOT NULL),
            c AS (SELECT cur_type, next_type, count(*)::BIGINT AS n
                  FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
            t AS (SELECT cur_type, sum(n)::BIGINT AS tt
                  FROM c GROUP BY cur_type)
            SELECT c.cur_type, c.next_type, c.n,
              round(c.n::DOUBLE / t.tt, 6) AS prob
            FROM c JOIN t USING (cur_type)
        """, time_domain=True)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (funnel.transition_matrix): lead() over the user partition, one
    (cur, next) partial-agg'd count, probabilities on the #types² matrix
    — the data behind funnel design."""
    from database2ogr_spark.operators.funnel import transition_matrix

    return transition_matrix(_t(spark, sf_dir, "events"))


# skip-gram PMI: same counts contract as pmi_bigrams with the
# offset range 1..3 unrolled; min_count 5, top-50 total ordering
@register(twin=f"""
            WITH wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            uni AS (SELECT unnest(ws) AS w FROM wt),
            ucnt AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1),
            nt AS (SELECT count(*)::BIGINT AS n_tok FROM uni),
            bp AS (
              SELECT ws[CAST(i AS INT)] AS token_a,
                     ws[CAST(i + d AS INT)] AS token_b
              FROM wt CROSS JOIN
                (SELECT unnest(range(1, (SELECT max(len(ws)) FROM wt) + 1))
                   AS i) ii
              CROSS JOIN (SELECT unnest(range(1, 4)) AS d) dd
              WHERE i + d <= len(ws)),
            bcnt AS (SELECT token_a, token_b, count(*)::BIGINT AS n_pair
                     FROM bp GROUP BY 1, 2),
            nb AS (SELECT count(*)::BIGINT AS n_big FROM bp),
            j AS (
              SELECT b.token_a, b.token_b, b.n_pair, ua.c AS c_a,
                     ub.c AS c_b, nt.n_tok, nb.n_big
              FROM bcnt b
              JOIN ucnt ua ON b.token_a = ua.w
              JOIN ucnt ub ON b.token_b = ub.w
              CROSS JOIN nt CROSS JOIN nb
              WHERE b.n_pair >= 5)
            SELECT token_a, token_b, n_pair,
              round(ln((CAST(n_pair AS DOUBLE) / CAST(n_big AS DOUBLE)) /
                ((CAST(c_a AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
                 (CAST(c_b AS DOUBLE) / CAST(n_tok AS DOUBLE)))), 6) AS pmi
            FROM j
            ORDER BY pmi DESC, token_a, token_b
            LIMIT 50
        """)
def q_windowed_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram collocations (collocations.windowed_pmi, window=3):
    pair expansion in codegen (slice+zip_with per offset) — linear in
    tokens × window, never a positions self-join. Top-50, min_count 5."""
    from database2ogr_spark.operators.collocations import windowed_pmi

    return windowed_pmi(
        _t(spark, sf_dir, "documents"), window=3, min_count=5, top_n=50
    )


@register(twin="""
            WITH j AS (SELECT lang AS x, source AS y, count(*)::BIGINT AS n
                       FROM documents GROUP BY lang, source),
            t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM j),
            hxy AS (SELECT -sum((n / tot) * ln(n / tot)) AS h
                    FROM j CROSS JOIN t),
            hx AS (SELECT -sum((n / tot) * ln(n / tot)) AS h
                   FROM (SELECT x, sum(n) AS n FROM j GROUP BY x) mx
                        CROSS JOIN t),
            hy AS (SELECT -sum((n / tot) * ln(n / tot)) AS h
                   FROM (SELECT y, sum(n) AS n FROM j GROUP BY y) my
                        CROSS JOIN t)
            SELECT 'lang' AS col_x, 'source' AS col_y,
              round(hx.h, 6) AS h_x, round(hy.h, 6) AS h_y,
              round(hxy.h, 6) AS h_xy,
              round(hx.h + hy.h - hxy.h, 6) AS mi,
              CASE WHEN least(hx.h, hy.h) > 0
                   THEN round((hx.h + hy.h - hxy.h) / least(hx.h, hy.h), 6)
                   END AS nmi
            FROM hx CROSS JOIN hy CROSS JOIN hxy
        """)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang↔source dependence audit (validate.mutual_information): one
    corpus pass builds the joint table; entropies/MI/NMI derive from it
    (#combinations rows). The leakage detector for metadata columns."""
    from database2ogr_spark.operators.validate import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"), "lang", "source")


@register(twin=f"""
            WITH wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            uni AS (SELECT unnest(ws) AS w FROM wt),
            f AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1
                  ORDER BY c DESC, w LIMIT 500),
            r AS (SELECT ln(CAST(c AS DOUBLE)) AS y,
                    ln(CAST(row_number() OVER (ORDER BY c DESC, w)
                        AS DOUBLE)) AS x
                  FROM f)
            SELECT count(*)::BIGINT AS n_terms,
              round(regr_slope(y, x), 6) AS slope,
              round(regr_intercept(y, x), 6) AS intercept,
              round(regr_r2(y, x), 6) AS r2
            FROM r
        """)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law OLS fit (tfidf.zipf_fit) on the top-500 term
    frequencies — corpus-health audit; regression runs on the bounded
    top-N table via built-in regr_* aggregates (identical in DuckDB)."""
    from database2ogr_spark.operators.tfidf import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), top_n=500)


# terms = the standard 62-bit rolling 3-gram shingle ids (same
# replay as duplicate_spans/source_overlap, incl. the short-doc
# fallback shingle) — see q_tfidf_cosine_pairs for why unigrams
# degenerate on this corpus
@register(twin=f"""
            WITH sh AS ({_SHINGLES_SQL}),
            tf AS (SELECT doc_id AS id, gram AS w, count(*)::BIGINT AS tf
                   FROM (SELECT doc_id, unnest(s) AS gram FROM sh) gx
                   GROUP BY 1, 2),
            nd AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs
                   FROM documents),
            dfq AS (SELECT w, count(*)::BIGINT AS dfreq FROM tf
                    GROUP BY w HAVING count(*) <= 100),
            wtd AS (SELECT id, tf.w,
                      CAST(tf AS DOUBLE) *
                        ln(CAST(n_docs AS DOUBLE) / CAST(dfreq AS DOUBLE))
                        AS wgt
                    FROM tf JOIN dfq ON tf.w = dfq.w CROSS JOIN nd),
            nrm AS (SELECT id, sqrt(sum(wgt * wgt)) AS nrm
                    FROM wtd GROUP BY id),
            dots AS (SELECT a.id AS id_a, b.id AS id_b,
                       sum(a.wgt * b.wgt) AS dot
                     FROM wtd a JOIN wtd b ON a.w = b.w AND a.id < b.id
                     GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(dot / (na.nrm * nb.nrm), 6) AS cosine
            FROM dots JOIN nrm na ON na.id = id_a
                      JOIN nrm nb ON nb.id = id_b
            WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.25
        """)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join (tfidf.tfidf_cosine_pairs):
    rare-term-subspace cosine ≥ 0.25 via the term-keyed inverted-index
    join with the C(max_df,2) fanout guard — the weighted-sparse third
    member of the similarity-join family (Jaccard sets / dense
    embeddings / sparse TF-IDF). Terms are the standard 62-bit 3-gram
    shingle ids (Arrow gram kernel): the synthetic corpus has a 31-word
    vocabulary, so every UNIGRAM's df exceeds any useful max_df already
    at sf0.1 (the rare-term subspace would be empty — measured); the
    shingle space keeps df bounded at every tested scale."""
    from database2ogr_spark.operators.tfidf import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.25,
        max_df=100,
        terms="shingles",
    )


# DSIR: hashed unigram+bigram bucket models (md5 % 1024), add-1
# smoothing, per-doc log-ratio sum, then Gumbel-top-100 with the
# seed-7 hash-derived uniform — the full selection chain replayed
@register(twin=f"""
            WITH wt AS (SELECT doc_id, lang, {_WORDS_SQL} AS ws
                        FROM documents),
            g AS (
              SELECT doc_id, lang, unnest(ws) AS g FROM wt
              UNION ALL
              SELECT doc_id, lang,
                     ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS g
              FROM wt CROSS JOIN
                (SELECT unnest(range(1, (SELECT max(len(ws)) FROM wt) + 1))
                   AS i) ii
              WHERE i + 1 <= len(ws)),
            b AS (SELECT doc_id, lang, {_h64_sql("g", 0)} % 1024 AS bucket
                  FROM g),
            cnt AS (SELECT bucket, count(*)::BIGINT AS c_r,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
                        AS c_t
                    FROM b GROUP BY bucket),
            tot AS (SELECT sum(c_r)::BIGINT AS n_r, sum(c_t)::BIGINT AS n_t
                    FROM cnt),
            lr AS (SELECT bucket,
                     ln((c_t + 1.0) / (n_t + 1024.0))
                       - ln((c_r + 1.0) / (n_r + 1024.0)) AS lr
                   FROM cnt CROSS JOIN tot),
            sc AS (SELECT doc_id, count(*)::BIGINT AS n_feats,
                     round(sum(lr), 6) AS log_weight
                   FROM b JOIN lr USING (bucket) GROUP BY doc_id),
            fw AS (SELECT d.doc_id,
                     coalesce(sc.n_feats, 0)::BIGINT AS n_feats,
                     coalesce(sc.log_weight, 0.0) AS log_weight
                   FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
            gum AS (SELECT doc_id, n_feats, log_weight,
                      round(log_weight / 1.0 + -ln(-ln(
                        ({_h64_sql("CAST(doc_id AS VARCHAR)", 7)} + 0.5)
                          / 1152921504606846976.0)), 6) AS score
                    FROM fw)
            SELECT doc_id, n_feats, log_weight, score FROM gum
            ORDER BY score DESC, doc_id LIMIT 100
        """)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (sampling.dsir_select chain): hashed
    unigram+bigram importance log-weights against the lang='en' target
    slice, then Gumbel-top-100 resampling with the hash-derived uniform —
    model size is n_buckets (1024), independent of corpus size; the
    'random' draw is md5-deterministic so DuckDB replays the whole chain
    including the selection."""
    from database2ogr_spark.operators.sampling import dsir_sample

    return dsir_sample(
        _t(spark, sf_dir, "documents"),
        F.col("lang") == "en",
        k=100,
        n_buckets=1024,
    )


# Heaps'-law growth curve: integer bucket arithmetic
# (ceil via (a+b-1)//b), cumulative window over the 16-row spine
@register(twin=f"""
            WITH b AS (SELECT min(doc_id)::BIGINT AS lo,
                              max(doc_id)::BIGINT AS hi FROM documents),
            wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            pd AS (SELECT doc_id,
                     CASE WHEN hi > lo THEN greatest(1,
                       ((doc_id - lo) * 16 + (hi - lo) - 1) // (hi - lo))
                       ELSE 1 END AS bucket,
                     len(ws)::BIGINT AS nt
                   FROM wt CROSS JOIN b),
            ds AS (SELECT bucket, count(*)::BIGINT AS n_docs,
                     sum(nt)::BIGINT AS n_tokens
                   FROM pd GROUP BY bucket),
            ft AS (SELECT w, min(doc_id)::BIGINT AS first_id
                   FROM (SELECT doc_id, unnest(ws) AS w FROM wt)
                   GROUP BY w),
            fb AS (SELECT CASE WHEN hi > lo THEN greatest(1,
                       ((first_id - lo) * 16 + (hi - lo) - 1) // (hi - lo))
                       ELSE 1 END AS bucket
                   FROM ft CROSS JOIN b),
            nv AS (SELECT bucket, count(*)::BIGINT AS n_new
                   FROM fb GROUP BY bucket),
            sp AS (SELECT unnest(range(1, 17)) AS bucket)
            SELECT CAST(sp.bucket AS INT) AS checkpoint,
              sum(coalesce(ds.n_docs, 0)) OVER w::BIGINT AS cum_docs,
              sum(coalesce(ds.n_tokens, 0)) OVER w::BIGINT AS cum_tokens,
              sum(coalesce(nv.n_new, 0)) OVER w::BIGINT AS cum_vocab
            FROM sp LEFT JOIN ds ON sp.bucket = ds.bucket
                    LEFT JOIN nv ON sp.bucket = nv.bucket
            WINDOW w AS (ORDER BY sp.bucket
                         ROWS UNBOUNDED PRECEDING)
        """)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve (tfidf.vocab_growth, K=16):
    cumulative docs/tokens/vocab along the doc_id order, checkpoint
    assignment in exact integer arithmetic and every output column an
    exact integer — the zero-float-drift oracle. heaps_fit (the OLS
    ln V ~ ln N exponent) is pytest-pinned on an exact power-law corpus."""
    from database2ogr_spark.operators.tfidf import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), n_checkpoints=16)


# Cohen's kappa over the same lang-id prediction as lang_confusion;
# NULL labels coalesce to the sentinel so every join is equality
@register(twin=f"""
            WITH h AS (SELECT doc_id, lang, {_HITS_SELECT} FROM documents
                       WHERE text IS NOT NULL),
            bb AS (SELECT *, {_BEST} AS best FROM h),
            p AS (SELECT coalesce(lang, '∅') AS x,
                         coalesce({_LANG_CASE}, '∅') AS y FROM bb),
            j AS (SELECT x, y, count(*)::BIGINT AS n FROM p GROUP BY 1, 2),
            t AS (SELECT sum(n)::BIGINT AS nn FROM j),
            ag AS (SELECT coalesce(sum(n), 0)::BIGINT AS agree
                   FROM j WHERE x = y),
            ma AS (SELECT x, sum(n)::BIGINT AS na FROM j GROUP BY x),
            mb AS (SELECT y, sum(n)::BIGINT AS nb FROM j GROUP BY y),
            ch AS (SELECT coalesce(sum(na::DOUBLE * nb::DOUBLE /
                     (nn::DOUBLE * nn::DOUBLE)), 0.0) AS chance
                   FROM ma JOIN mb ON ma.x = mb.y CROSS JOIN t)
            SELECT 'lang' AS col_a, 'lang_pred' AS col_b, nn AS n_rows,
              round(agree::DOUBLE / nn, 6) AS po,
              round(chance, 6) AS pe,
              CASE WHEN chance < 1.0
                   THEN round((agree::DOUBLE / nn - chance) / (1.0 - chance), 6)
                   END AS kappa
            FROM ag CROSS JOIN t CROSS JOIN ch
        """)
def q_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (validate.cohens_kappa) between metadata lang and the
    heuristic lang-id prediction — the chance-corrected companion to
    lang_confusion: raw agreement rewards majority-class collapse, kappa
    does not. One (true, pred) joint-count shuffle; everything else runs
    on the bounded joint table."""
    from database2ogr_spark.operators.validate import cohens_kappa

    # text analyses need text: NULL-text docs are excluded (documents-
    # family dirty-data contract, mirrored in the twin)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "lang", "text")
    )
    s = TS.with_text_stats(d, "text", langs=tuple(TS.STOPWORDS))
    hits = {lang: F.col(f"__hits_{lang}") for lang in TS.STOPWORDS}
    pred = s.select(
        F.col("lang"), TS.lang_id_from_hits(hits).alias("lang_pred")
    )
    return cohens_kappa(pred, "lang", "lang_pred")


@register(twin=_bpe_fertility_sql(num_merges=6, min_freq=2))
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility/parity audit (bpe.tokenizer_
    fertility) under the same 6-merge BPE config as bpe_segment — the
    multilingual-fairness report (tokens/word, chars/token, parity vs the
    best-served language, OOV share). Merges apply to the DISTINCT vocab;
    one word-keyed join back; one lang agg."""
    from database2ogr_spark.operators.bpe import learn_bpe, tokenizer_fertility

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe(docs, num_merges=6, min_word_freq=2)
    return tokenizer_fertility(docs, merges)


# champion tie-break = max(struct(score, id)) -> (score DESC,
# id DESC); cap window = hardest negatives (score DESC, id ASC)
@register(twin="""
            WITH pool AS (SELECT source AS grp, doc_id AS rejected_id,
                            n_chars::DOUBLE AS rejected_score
                          FROM documents),
            ch AS (SELECT grp, rejected_id AS chosen_id,
                     rejected_score AS chosen_score
                   FROM (SELECT *, row_number() OVER (PARTITION BY grp
                           ORDER BY rejected_score DESC, rejected_id DESC)
                           AS rn
                         FROM pool WHERE rejected_score IS NOT NULL) q
                   WHERE rn = 1),
            p AS (SELECT ch.grp, chosen_id, rejected_id, chosen_score,
                    rejected_score
                  FROM ch JOIN pool USING (grp)
                  WHERE rejected_id <> chosen_id
                    AND chosen_score - rejected_score >= 100.0),
            c AS (SELECT *, row_number() OVER (PARTITION BY grp
                    ORDER BY rejected_score DESC, rejected_id ASC) AS rn
                  FROM p)
            SELECT grp AS source, chosen_id, rejected_id, chosen_score,
              rejected_score, chosen_score - rejected_score AS margin
            FROM c WHERE rn <= 10
        """)
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF/DPO preference-pair construction (preference.preference_pairs):
    per source, the top-n_chars doc (champion via partial-aggregable
    max(struct), no per-group sort) against each sibling trailing by
    ≥ 100 chars, capped to the 10 hardest negatives. Margin filter and
    cap are the two public DPO data-prep knobs."""
    from database2ogr_spark.operators.preference import preference_pairs

    return preference_pairs(
        _t(spark, sf_dir, "documents"),
        group_col="source",
        score_col="n_chars",
        min_margin=100.0,
        max_pairs_per_group=10,
    )


# mutual-NN + ratio margin over the two label halves; cosine
# rounded before ranking, margin rounded before the threshold
@register(twin="""
            WITH e AS (SELECT vec_id, label,
                         list_transform(embedding, x -> CAST(x AS DOUBLE))
                           AS v
                       FROM embeddings),
            s AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE label < 5),
            t AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE label >= 5),
            sc AS (SELECT src_id, tgt_id,
                     round(list_dot_product(sv, tv) /
                       (sqrt(list_dot_product(sv, sv)) *
                        sqrt(list_dot_product(tv, tv))), 6) AS cosine_sim
                   FROM s CROSS JOIN t),
            r AS (SELECT *,
                    row_number() OVER (PARTITION BY src_id
                      ORDER BY cosine_sim DESC, tgt_id) AS rs,
                    row_number() OVER (PARTITION BY tgt_id
                      ORDER BY cosine_sim DESC, src_id) AS rt
                  FROM sc),
            a_s AS (SELECT src_id, avg(cosine_sim) AS asrc FROM r
                    WHERE rs <= 4 GROUP BY src_id),
            a_t AS (SELECT tgt_id, avg(cosine_sim) AS atgt FROM r
                    WHERE rt <= 4 GROUP BY tgt_id),
            m AS (SELECT src_id, tgt_id, cosine_sim FROM r
                  WHERE rs = 1 AND rt = 1)
            SELECT m.src_id, m.tgt_id, m.cosine_sim,
              round(m.cosine_sim / ((asrc + atgt) / 2.0), 6) AS margin
            FROM m JOIN a_s USING (src_id) JOIN a_t USING (tgt_id)
            WHERE round(m.cosine_sim / ((asrc + atgt) / 2.0), 6) >= 1.0
        """)
def q_mine_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (similarity.mine_bitext, Artetxe &
    Schwenk ratio margin): the label<5 half of the embedding table
    aligned against the label>=5 half by mutual-NN + margin >= 1.0 over
    k=4 neighbourhood averages — the cross-lingual pair-mining shape.
    Exact tier (one scored cross table, persisted for its three
    readers); the scale path swaps the cross join for IVF/LSH candidate
    blocks, margin logic unchanged."""
    from database2ogr_spark.operators.similarity import mine_bitext

    emb = _emb(spark, sf_dir)
    return mine_bitext(
        emb.filter(F.col("label") < 5),
        emb.filter(F.col("label") >= 5),
        k=4,
        threshold=1.0,
    )


@register(twin=f"""
            SELECT doc_id,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(list_filter(string_split({_NORM_SQL}, ''), c -> c <> ''),
                               c -> CAST(ascii(c) AS BIGINT))),
                (a, b) -> (a * 31 + b) % 1000000007) AS fp
            FROM documents WHERE text IS NOT NULL
        """)
def q_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", TS.rolling_fingerprint("text").alias("fp"))
    )


@register(twin=f"""
            WITH sh AS ({_SHINGLES_SQL}),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh)
            SELECT doc_id,
              min({_mh_sql("g", 0)}) AS h1,
              min({_mh_sql("g", 7)}) AS h8,
              min({_mh_sql("g", 15)}) AS h16
            FROM ex GROUP BY doc_id
        """)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three components of the 16-hash MinHash signature (oracle-checkable
    core of the LSH pipeline), via the Arrow-kernel operator."""
    sigs = DD.minhash_signatures(_t(spark, sf_dir, "documents"), num_hashes=16)
    return sigs.select(
        F.col("id").alias("doc_id"),
        F.element_at(F.col("sig"), 1).alias("h1"),
        F.element_at(F.col("sig"), 8).alias("h8"),
        F.element_at(F.col("sig"), 16).alias("h16"),
    )


# DF-cutoff (max_df=100) mirrors the Spark entry's hot-shingle guard:
# grams in >100 docs leave the universe before pairing; set sizes are
# recomputed over the filtered sets
@register(twin=f"""
            WITH sh AS ({_SHINGLES_SQL}),
            ex0 AS (SELECT DISTINCT doc_id, g FROM
                   (SELECT doc_id, unnest(s) AS g FROM sh)),
            hot AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) > 100),
            ex AS (SELECT * FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
            sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
              round(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
            WHERE round(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) >= 0.2
        """)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs WITH the hot-shingle guard (max_df=100,
    mirrored in the oracle): shingles shared by >100 docs leave the universe
    before the inverted-index self-join, bounding the per-shingle pair
    blowup at max_df² — the graded plan is the plan that survives 100 TB."""
    return DD.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k_shingle=3, threshold=0.2, max_df=100
    )


# the 100 TB default grouping path: MinHash-LSH edges (exact twin
# above) closed transitively via recursive CTE; group = min reachable
@register(twin=f"""
            WITH RECURSIVE pairs AS (
              SELECT id_a, id_b FROM ({_lsh_pairs_sql(0.2)}) p),
            sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
              UNION
              SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id),
            labels AS (SELECT id, MIN(r) AS grp FROM reach GROUP BY id)
            SELECT d.doc_id, COALESCE(l.grp, d.doc_id) AS group_id
            FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
        """)
def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group assignment, the scale default: MinHash-LSH candidate
    edges → connected components (iterative min-label propagation,
    operators/graph.py). Candidate generation is banded equi-joins — linear
    in the corpus, no per-shingle quadratic — which is what survives 100 TB.
    With pinned seeds the LSH edge set is deterministic, so the DuckDB
    oracle composes the exact LSH-pair twin with a recursive-CTE closure —
    a full hash match; q_near_dup_groups_exact keeps grading the
    exact-Jaccard edge variant."""
    return near_dup_groups(
        _t(spark, sf_dir, "documents"), k_shingle=3, threshold=0.2,
        driver_threshold=100_000,  # caller hint: tiny edge set at bench SF
    )


# transitive closure of the ngram_jaccard pair relation via recursive
# CTE (UNION dedup guarantees termination); group = min reachable id
# the DF-cutoff (max_df=100) mirrors the Spark query's hot-shingle
# guard: grams in >100 docs leave the universe before pairing and
# set sizes are recomputed over the filtered sets
@register(twin=f"""
            WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
            ex0 AS (SELECT DISTINCT doc_id, g FROM
                   (SELECT doc_id, unnest(s) AS g FROM sh)),
            hot AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) > 100),
            ex AS (SELECT * FROM ex0 WHERE g NOT IN (SELECT g FROM hot)),
            sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
            shared AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT id_a, id_b FROM shared
              JOIN sizes sa ON id_a = sa.doc_id
              JOIN sizes sb ON id_b = sb.doc_id
              WHERE round(shared / CAST(sa.n + sb.n - shared AS DOUBLE), 6) >= 0.2),
            sym AS (SELECT id_a AS u, id_b AS v FROM pairs
                    UNION ALL SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
              UNION
              SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id),
            labels AS (SELECT id, MIN(r) AS grp FROM reach GROUP BY id)
            SELECT d.doc_id, COALESCE(l.grp, d.doc_id) AS group_id
            FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
        """)
def q_near_dup_groups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable grouping baseline: exact n-gram Jaccard edges
    with the hot-shingle guard (max_df) bounding the inverted-index
    self-join; every doc labeled with its group's min doc_id."""
    return near_dup_groups(
        _t(spark, sf_dir, "documents"), k_shingle=3, threshold=0.2,
        edges="jaccard", max_df=100, driver_threshold=100_000,
    )


# the star kernel must produce the SAME labels as min-label
# propagation on the same edge set — one recursive-CTE twin grades
# both closure kernels
@register(twin=_REGISTRY["near_dup_groups_exact"].twin)
def q_near_dup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact-Jaccard edge set as q_near_dup_groups_exact, closed with
    the alternating large-star/small-star kernel
    (graph.connected_components_star — the O(log² n)-round high-diameter
    path) instead of min-label propagation. Identical labels by
    construction, so the SAME recursive-CTE oracle grades both kernels —
    a cross-kernel hash equivalence proof."""
    return near_dup_groups(
        _t(spark, sf_dir, "documents"), k_shingle=3, threshold=0.2,
        edges="jaccard", max_df=100, cc="star",
    )


@register(twin=f"""
            WITH cg AS (SELECT doc_id, unnest(s) AS gram FROM
                ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 <> 0)")})),
            bg AS (SELECT DISTINCT unnest(s) AS gram FROM
                ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 = 0)")})),
            bad AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram))
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        """)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.decontaminate): docs whose
    id is ≡0 mod 20 play the benchmark; the rest of the corpus survives
    unless it shares a 13-word-gram with any benchmark doc."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return DD.decontaminate(corpus, bench, k=13).select("doc_id", "lang", "source")


@register(twin=f"""
            WITH cg AS (SELECT DISTINCT doc_id, gram FROM
                (SELECT doc_id, unnest(s) AS gram FROM
                  ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 <> 0)")}))),
            bg AS (SELECT DISTINCT unnest(s) AS gram FROM
                ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 = 0)")})),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1),
            hits AS (SELECT cg.doc_id, count(*) AS n_hits
                     FROM cg JOIN bg USING (gram) GROUP BY 1)
            SELECT s.doc_id, s.n_grams, COALESCE(h.n_hits, 0) AS n_hits,
              round(COALESCE(h.n_hits, 0) / CAST(s.n_grams AS DOUBLE), 6)
                AS frac
            FROM sizes s LEFT JOIN hits h USING (doc_id)
        """)
def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc benchmark-overlap share (dedup.contamination_fraction) on the
    same ≡0-mod-20 benchmark split as q_decontaminate — the measurement
    behind fraction-threshold decontamination."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return DD.contamination_fraction(corpus, bench, k=13)


@register(twin=f"""
            WITH cg AS (SELECT DISTINCT doc_id, gram FROM
                (SELECT doc_id, unnest(s) AS gram FROM
                  ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 <> 0)")}))),
            bg AS (SELECT DISTINCT unnest(s) AS gram FROM
                ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 = 0)")})),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY 1),
            hits AS (SELECT cg.doc_id, count(*) AS n_hits
                     FROM cg JOIN bg USING (gram) GROUP BY 1),
            bad AS (SELECT s.doc_id FROM sizes s JOIN hits h USING (doc_id)
                    WHERE round(h.n_hits / CAST(s.n_grams AS DOUBLE), 6) > 0.05)
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        """)
def q_decontaminate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction-threshold decontamination (drop at >5% distinct-gram
    overlap) — the long-document-fair variant of the any-hit rule."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return DD.decontaminate_fraction(corpus, bench, k=13, max_frac=0.05).select(
        "doc_id", "lang", "source"
    )


@register(twin=f"""
            WITH s AS (
              SELECT doc_id, string_split(text, ' a ') AS paras
              FROM documents WHERE text IS NOT NULL),
            c AS (SELECT doc_id, paras,
                    list_transform(paras, p -> len(list_filter(
                      string_split_regex(trim(p), '[{_SPACE}]+'), x -> x <> '')))
                      AS cnts
                  FROM s),
            k AS (SELECT doc_id, paras, cnts,
                    list_transform(cnts, (x, i) ->
                      list_sum(list_slice(cnts, 1, i))) AS cums
                  FROM c),
            r AS (SELECT doc_id, paras, cnts,
                    len(list_filter(cums, v -> v <= 30)) AS kept_n,
                    CAST(coalesce(list_sum(list_slice(cnts, 1,
                      len(list_filter(cums, v -> v <= 30)))), 0) AS BIGINT)
                      AS kept_sum
                  FROM k)
            SELECT doc_id,
              CASE WHEN kept_n = 0 THEN
                array_to_string(list_slice(list_filter(
                  string_split_regex(trim(paras[1]), '[{_SPACE}]+'), x -> x <> ''),
                  1, 30), ' ')
              ELSE array_to_string(list_slice(paras, 1, kept_n), ' a ') END
                AS text_trunc,
              CASE WHEN kept_n = 0 THEN CAST(least(30, cnts[1]) AS BIGINT)
                ELSE kept_sum END AS n_tokens
            FROM r
        """)
def q_truncate_to_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-safe token-budget truncation (chunking.truncate_to_budget).
    The synthetic corpus is single-line (no newline paragraph structure), so
    the entry segments on the frequent ' a ' token sequence to get genuinely
    variable-length segments; production callers pass sep='\\n\\n'. Budget 30
    exercises all three paths at sf0.01: multi-segment prefixes, exact fits,
    and the first-segment-overflow fallback."""
    from database2ogr_spark.operators.chunking import truncate_to_budget

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return truncate_to_budget(d, "text", max_tokens=30, sep=" a ").select(
        "doc_id", "text_trunc", "n_tokens"
    )


@register(twin="SELECT doc_id, lang, source, n_chars FROM documents")
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source round-trip (sources/jsonl.py): documents written as
    JSON-lines and read back through the quarantine reader must reproduce
    the table exactly (good side complete, quarantine empty)."""
    from database2ogr_spark.sources.jsonl import read_jsonl

    out = _tmp("d2o_jsonl_roundtrip")
    docs = _t(spark, sf_dir, "documents")
    docs.coalesce(4).write.mode("overwrite").json(out)
    good, quarantine = read_jsonl(spark, out)
    assert quarantine.count() == 0
    return good.select("doc_id", "lang", "source", "n_chars")


@register(twin="SELECT doc_id, lang, source, n_chars FROM documents")
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip (sources/csvfile.py): the documents table's
    STRUCTURED columns written as headerless CSV and read back through
    the quarantine reader must reproduce them exactly (good side
    complete, quarantine empty).

    The free-text column is deliberately NOT part of the exchange
    (caught by ``--perturb skew``): the reader's records-are-lines contract
    (csvfile.py module docstring — multiLine CSV serializes the scan per
    file and has no place in a 100 TB hot path) means a text field with
    embedded newlines is written as a QUOTED MULTI-LINE field that the
    line-based reader correctly quarantines — so a corpus where one
    boilerplate page with newlines is 20% of the crawl broke the old
    full-table roundtrip's empty-quarantine assertion. Line-safe columns
    are the CSV exchange surface; text-bearing corpora exchange via
    JSONL (jsonl_roundtrip), whose records self-delimit."""
    from pyspark.sql import types as T

    from database2ogr_spark.sources.csvfile import read_csv_quarantine
    from database2ogr_spark.sources.jsonl import DOCUMENTS_SCHEMA

    cols = ["doc_id", "lang", "source", "n_chars"]
    schema = T.StructType([f for f in DOCUMENTS_SCHEMA.fields if f.name in cols])
    out = _tmp("d2o_csv_roundtrip")
    docs = _t(spark, sf_dir, "documents").select(*cols)
    docs.coalesce(4).write.mode("overwrite").csv(out)
    good, quarantine = read_csv_quarantine(spark, out, schema)
    assert quarantine.count() == 0
    return good.select(*cols)


@register(twin="""
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            edges AS (
              SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey <> b.l_partkey),
            deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
            nodes AS (SELECT DISTINCT src AS node FROM edges
                      UNION SELECT DISTINCT dst FROM edges),
            r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_c9
                   FROM nodes),
            c1 AS (SELECT e.dst, CAST(sum((85 * r.rank_c9) // (100 * d.deg))
                     AS BIGINT) AS s
                   FROM edges e
                   JOIN r0 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src GROUP BY 1),
            r1 AS (SELECT n.node,
                     CAST(150000000 + coalesce(c.s, 0) AS BIGINT) AS rank_c9
                   FROM nodes n LEFT JOIN c1 c ON n.node = c.dst),
            c2 AS (SELECT e.dst, CAST(sum((85 * r.rank_c9) // (100 * d.deg))
                     AS BIGINT) AS s
                   FROM edges e
                   JOIN r1 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src GROUP BY 1),
            r2 AS (SELECT n.node,
                     CAST(150000000 + coalesce(c.s, 0) AS BIGINT) AS rank_c9
                   FROM nodes n LEFT JOIN c2 c ON n.node = c.dst),
            c3 AS (SELECT e.dst, CAST(sum((85 * r.rank_c9) // (100 * d.deg))
                     AS BIGINT) AS s
                   FROM edges e
                   JOIN r2 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src GROUP BY 1),
            r3 AS (SELECT n.node,
                     CAST(150000000 + coalesce(c.s, 0) AS BIGINT) AS rank_c9
                   FROM nodes n LEFT JOIN c3 c ON n.node = c.dst)
            SELECT node AS part_id, rank_c9 FROM r3
        """)
def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase centrality: parts sharing an order form symmetric edges
    (bounded quadratic — order size caps the per-order fan-out), then 3
    rounds of scaled-integer PageRank (graph.pagerank_integer). Fully
    deterministic — the DuckDB twin unrolls the iterations as CTEs with the
    identical integer arithmetic and hash-matches."""
    from database2ogr_spark.operators.graph import pagerank_integer

    edges = _copurchase_edges(spark, sf_dir)
    return pagerank_integer(edges, iters=3).select(
        F.col("node").alias("part_id"), "rank_c9"
    )


@register(twin="""
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            edges AS (
              SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
              FROM li a JOIN li b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey <> b.l_partkey),
            seeds AS (SELECT p_partkey AS node, p_brand AS label
                      FROM part
                      WHERE p_partkey % 5 = 0 AND p_brand IS NOT NULL),
            v1 AS (SELECT e.dst AS node, s.label, count(*) AS n
                   FROM edges e JOIN seeds s ON e.src = s.node GROUP BY 1, 2),
            m1 AS (SELECT node, max(n) AS nm FROM v1 GROUP BY 1),
            r1 AS (SELECT v1.node, min(v1.label) AS label
                   FROM v1 JOIN m1 ON v1.node = m1.node AND v1.n = m1.nm
                   WHERE v1.node NOT IN (SELECT node FROM seeds)
                   GROUP BY 1),
            l1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r1),
            v2 AS (SELECT e.dst AS node, l.label, count(*) AS n
                   FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
            m2 AS (SELECT node, max(n) AS nm FROM v2 GROUP BY 1),
            r2 AS (SELECT v2.node, min(v2.label) AS label
                   FROM v2 JOIN m2 ON v2.node = m2.node AND v2.n = m2.nm
                   WHERE v2.node NOT IN (SELECT node FROM seeds)
                   GROUP BY 1),
            l2 AS (SELECT * FROM seeds UNION ALL SELECT * FROM r2)
            SELECT l2.node AS part_id, l2.label,
              l2.node IN (SELECT node FROM seeds) AS is_seed
            FROM l2
        """)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised labeling (graph.label_propagation): brands of every
    5th part seed a 2-round neighbor-majority propagation over the same
    co-purchase edges as q_copurchase_pagerank — fully deterministic
    (count votes, min-label ties), twin unrolled as CTEs."""
    from database2ogr_spark.operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf_dir)
    # a seed without a label is not a seed: NULL labels would propagate
    # as NULL votes whose tie-breaks differ across engines
    seeds = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_partkey") % 5 == 0) & F.col("p_brand").isNotNull())
        .select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("label"))
    )
    return label_propagation(edges, seeds, iters=2).select(
        F.col("node").alias("part_id"), "label", "is_seed"
    )


# same orientation arithmetic as graph.triangle_count: edges point
# from the lower (degree, id) endpoint to the higher (row-value
# comparisons), wedges close on the oriented (t1, t2) edge
@register(twin="""
            WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e AS (
              SELECT u, v FROM (
                SELECT a.l_partkey AS u, b.l_partkey AS v,
                       count(*) AS support
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2) s
              WHERE support >= 2),
            deg AS (SELECT node, count(*) AS degree FROM
                      (SELECT u AS node FROM e
                       UNION ALL SELECT v FROM e)
                    GROUP BY node),
            o AS (SELECT
                    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                         THEN e.u ELSE e.v END AS s,
                    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                         THEN e.v ELSE e.u END AS t,
                    CASE WHEN (du.degree, e.u) < (dv.degree, e.v)
                         THEN dv.degree ELSE du.degree END AS dt
                  FROM e
                  JOIN deg du ON du.node = e.u
                  JOIN deg dv ON dv.node = e.v),
            tri AS (SELECT w1.s AS s, w1.t AS t1, w2.t AS t2
                    FROM o w1
                    JOIN o w2 ON w1.s = w2.s
                     AND (w1.dt, w1.t) < (w2.dt, w2.t)
                    JOIN o c ON c.s = w1.t AND c.t = w2.t),
            pv AS (SELECT node, count(*) AS n_triangles FROM
                     (SELECT s AS node FROM tri
                      UNION ALL SELECT t1 FROM tri
                      UNION ALL SELECT t2 FROM tri)
                   GROUP BY node)
            SELECT d.node AS part_id, d.degree,
                   CAST(coalesce(pv.n_triangles, 0) AS BIGINT) AS n_triangles,
                   CASE WHEN d.degree >= 2
                        THEN round(2.0 * coalesce(pv.n_triangles, 0)
                               / (d.degree * (d.degree - 1.0)), 6)
                        ELSE 0.0 END AS clustering_c
            FROM deg d LEFT JOIN pv USING (node)
        """)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation + local clustering coefficient over
    the SUPPORT-FILTERED co-purchase graph (pairs co-purchased in ≥2
    orders — one-order co-occurrence is noise, and a small part catalog
    makes the unfiltered graph near-complete: 1.2M edges → 3.6k at sf0.1,
    measured). graph.triangle_count uses degree-ordered orientation per
    Suri-Vassilvitskii WWW'11 — every vertex's oriented out-degree is
    O(√m), no hub blow-up. The DuckDB twin replays the identical support
    filter + orientation with row-value comparisons and hash-matches."""
    from database2ogr_spark.operators.graph import triangle_count

    # support-counted a<b co-purchase pairs, basket-expanded like
    # _copurchase_edges (one groupBy shuffle + narrow ordered-pair
    # transform over the sorted distinct part array instead of the
    # distinct + orderkey self-join; identical pair supports since each
    # order contributes each unordered pair once)
    baskets = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    ps = F.col("ps")
    edges = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        ps,
                        lambda x, i: F.transform(
                            F.slice(ps, i + F.lit(2), F.size(ps)),
                            lambda y: F.struct(
                                x.alias("src"), y.alias("dst")
                            ),
                        ),
                    )
                )
            ).alias("e")
        )
        .groupBy(
            F.col("e.src").alias("src"), F.col("e.dst").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges).select(
        F.col("node").alias("part_id"), "degree", "n_triangles", "clustering_c"
    )


@register(twin="""
            WITH t AS (SELECT doc_id, source, n_chars // 4 + 1 AS n_tokens,
                              -abs(n_chars - 500) AS score FROM documents),
            c AS (SELECT doc_id, source, n_tokens,
                         -- CAST: sum(BIGINT) is HUGEINT in DuckDB → float64
                         -- under the driver's pandas canonicalizer vs
                         -- Spark's bigint (the r5 hash-FAIL class)
                         CAST(sum(n_tokens) OVER (PARTITION BY source
                           ORDER BY score DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost
                  FROM t)
            SELECT doc_id, source, n_tokens, cum_cost
            FROM c WHERE cum_cost <= 1000
        """)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget selection (sampling.select_to_budget):
    docs ranked by a target-length score, kept while the running token
    total stays ≤ 1000 — the "fill N tokens from the best documents" mix
    step. The twin replays the identical cumulative window."""
    from database2ogr_spark.operators.sampling import select_to_budget

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("n_chars div 4 + 1").alias("n_tokens"),
        (-F.abs(F.col("n_chars") - 500)).alias("score"),
    )
    return select_to_budget(
        docs, budget=1000, cost_col="n_tokens", score_col="score"
    ).select("doc_id", "source", "n_tokens", "cum_cost")


@register(twin="""
            WITH med AS (SELECT source, median(n_chars) AS med
                         FROM documents GROUP BY source),
            j AS (SELECT d.doc_id, d.source, d.n_chars, m.med
                  FROM documents d LEFT JOIN med m USING (source)),
            mad AS (SELECT source, median(abs(n_chars - med)) AS mad
                    FROM j WHERE n_chars IS NOT NULL GROUP BY source)
            SELECT j.doc_id, j.source, j.n_chars, j.med, mad.mad,
              CASE WHEN mad.mad > 0
                   THEN round((j.n_chars - j.med) / (1.4826 * mad.mad), 6)
                   END AS robust_z,
              CASE WHEN mad.mad > 0
                   THEN abs(round((j.n_chars - j.med) / (1.4826 * mad.mad), 6))
                          > 3.0
                   ELSE j.n_chars <> j.med END AS is_outlier
            FROM j LEFT JOIN mad USING (source)
        """)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length outliers (cleaning.mad_outliers): exact
    median/MAD with the 1.4826 consistency constant, |z| > 3 flags.
    Deterministic (exact medians); twin mirrors the arithmetic."""
    from database2ogr_spark.operators.cleaning import mad_outliers

    docs = _t(spark, sf_dir, "documents")
    return mad_outliers(docs, value_col="n_chars").select(
        "doc_id", "source", "n_chars", "med", "mad", "robust_z", "is_outlier"
    )


@register(twin="""
            WITH c AS (SELECT vec_id, label,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv
                  FROM c WHERE vec_id < 8),
            s AS (
              SELECT query_id, query_label, c.vec_id, c.label AS neg_label,
                round(list_dot_product(qv, v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                      6) AS cosine_sim
              FROM q CROSS JOIN c WHERE c.label <> query_label),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)::INT AS rank
                  FROM s)
            SELECT query_id, query_label, vec_id, neg_label, cosine_sim, rank
            FROM r WHERE rank <= 5
        """)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (similarity.hard_negatives): top-5
    most-similar DIFFERENT-label vectors per query — broadcast query set,
    label filter inside the scan stage. Twin mirrors the cosine_topk
    arithmetic plus the label predicate."""
    emb = _emb(spark, sf_dir)
    qset = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return SIM.hard_negatives(emb, qset, k=5, query_id_col="query_id")


@register(twin="""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            l AS (SELECT vec_id, i, v[i + 1] AS x
                  FROM c CROSS JOIN (SELECT unnest(range(0, 64)) AS i) t),
            s AS (SELECT i, avg(x) AS mu, stddev_pop(x) AS sd
                  FROM l GROUP BY i)
            SELECT l.vec_id, CAST(l.i AS INT) AS dim,
                   round((l.x - s.mu) / greatest(s.sd, 1e-12), 6) AS w
            FROM l JOIN s USING (i)
        """)
def q_whiten_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (similarity.whiten_embeddings):
    2·dim unrolled moments in ONE aggregation (no explode, no dim
    shuffle), broadcast back, elementwise projection. Graded in scalar
    long form (vec_id, dim, w) per the complex-type gate rule."""
    emb = _emb(spark, sf_dir)
    wide = SIM.whiten_embeddings(emb, dim=64)
    return wide.select(
        "vec_id", F.posexplode("whitened").alias("dim", "w")
    ).select("vec_id", "dim", F.round("w", 6).alias("w"))


@register(twin="""
            WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
                        FROM documents),
            f AS (SELECT doc_id, ch, count(*) AS c
                  FROM ch WHERE ch <> '' GROUP BY doc_id, ch),
            t AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM f GROUP BY doc_id),
            e AS (SELECT f.doc_id, max(t.n) AS n_chars_counted,
                         round(-sum((c::DOUBLE / n) * ln(c::DOUBLE / n)), 6)
                           AS char_entropy
                  FROM f JOIN t USING (doc_id) GROUP BY f.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(e.n_chars_counted, 0) AS BIGINT)
                     AS n_chars_counted,
                   coalesce(e.char_entropy, 0.0) AS char_entropy
            FROM documents d LEFT JOIN e USING (doc_id)
        """)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy (repetition.char_entropy) —
    gibberish/compressibility quality signal; one exchange (the per-id
    reduce shares the (id, ch) shuffle's prefix). Twin replays the exact
    -Σ p·ln p over the same filtered char multiset."""
    from database2ogr_spark.operators.repetition import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


@register(twin="""
            WITH d AS (SELECT doc_id, source, n_chars FROM documents
                       WHERE n_chars IS NOT NULL),
            r AS (SELECT doc_id, source, n_chars,
                    percent_rank() OVER (PARTITION BY source ORDER BY n_chars)
                      AS pr
                  FROM d),
            h AS (SELECT n_chars AS v, count(*) AS cnt FROM d GROUP BY 1),
            c AS (SELECT v,
                    sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cnt
                      AS start,
                    sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
                  FROM h),
            n AS (SELECT count(*) AS nt FROM d),
            y AS (SELECT r.doc_id, r.source, r.n_chars, r.pr,
                    CAST(floor(r.pr * (n.nt - 1)) AS BIGINT) AS klo,
                    CAST(ceil(r.pr * (n.nt - 1)) AS BIGINT) AS khi,
                    r.pr * (n.nt - 1) - floor(r.pr * (n.nt - 1)) AS frac
                  FROM r CROSS JOIN n)
            SELECT y.doc_id, y.source, y.n_chars, round(y.pr, 9) AS pr,
                   round(lo.v + y.frac * (hi.v - lo.v), 6) AS normalized
            FROM y
            JOIN c lo ON y.klo >= lo.start AND y.klo < lo.cum
            JOIN c hi ON y.khi >= hi.start AND y.khi < hi.cum
        """)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration (cleaning.quantile_normalize):
    within-source percent-rank mapped onto the exact pooled quantile
    function with type-7 interpolation — built from the distinct-value
    histogram, so nothing corpus-sized is globally sorted. Twin replays
    the identical rational arithmetic."""
    from database2ogr_spark.operators.cleaning import quantile_normalize

    return quantile_normalize(
        _t(spark, sf_dir, "documents"), value_col="n_chars"
    )


@register(twin="""
            WITH p AS (SELECT p_partkey, p_name,
                              string_split(trim(p_name), ' ')[1] AS blk,
                              len(p_name) AS ln
                       FROM part),
            q AS (SELECT * FROM p WHERE p_partkey < 50)
            SELECT q.p_partkey AS probe_id, p.p_partkey AS match_id,
                   q.p_name AS probe_name, p.p_name AS match_name,
                   CAST(levenshtein(q.p_name, p.p_name) AS INT) AS distance
            FROM q JOIN p ON q.blk = p.blk
             AND q.p_partkey <> p.p_partkey
             AND abs(q.ln - p.ln) <= 2
            WHERE levenshtein(q.p_name, p.p_name) <= 2
        """)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity lookup (linkage.fuzzy_join): 50 probe part
    names fuzzy-matched (≤2 edits) against the part table under
    first-token blocking + the lossless length-band prune; verification is
    Spark's banded threshold levenshtein. Twin replays block + band +
    exact distance."""
    from database2ogr_spark.operators.linkage import fuzzy_join

    part = _t(spark, sf_dir, "part")
    probes = part.filter(F.col("p_partkey") < 50).select(
        F.col("p_partkey").alias("probe_id"), F.col("p_name").alias("probe_name")
    )
    cands = part.select(
        F.col("p_partkey").alias("match_id"), F.col("p_name").alias("match_name")
    )
    return fuzzy_join(
        probes,
        cands,
        left_id="probe_id",
        right_id="match_id",
        left_text="probe_name",
        right_text="match_name",
        max_distance=2,
    )


@register(twin=" UNION ALL ".join(
            (
                _fk_sql("lineitem", "l_orderkey", "orders", "o_orderkey"),
                _fk_sql("orders", "o_custkey", "customer", "c_custkey"),
                _fk_sql("customer", "c_nationkey", "nation", "n_nationkey"),
                _fk_sql("supplier", "s_nationkey", "nation", "n_nationkey"),
            )
        ))
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit (validate.fk_orphans):
    anti-join orphan counts + NULL-FK separation for the four TPC-H FK
    relations, unioned into one report. Twin replays each relation with
    NOT IN over the parent keys."""
    from database2ogr_spark.operators.validate import fk_orphans

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    parts = [
        fk_orphans(li, orders, child_key="l_orderkey", parent_key="o_orderkey",
                   relation="lineitem.l_orderkey->orders.o_orderkey"),
        fk_orphans(orders, cust, child_key="o_custkey", parent_key="c_custkey",
                   relation="orders.o_custkey->customer.c_custkey"),
        fk_orphans(cust, nat, child_key="c_nationkey", parent_key="n_nationkey",
                   relation="customer.c_nationkey->nation.n_nationkey"),
        fk_orphans(sup, nat, child_key="s_nationkey", parent_key="n_nationkey",
                   relation="supplier.s_nationkey->nation.n_nationkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(twin="""
            WITH b0 AS (SELECT n_chars::DOUBLE AS x FROM documents
                        WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
            c0 AS (SELECT n_chars::DOUBLE AS x FROM documents
                   WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL),
            bounds AS (SELECT min(x) AS mn, max(x) AS mx FROM b0),
            bb AS (SELECT CAST(least(greatest(floor((x - mn) /
                     (CASE WHEN mx > mn THEN (mx - mn) / 10.0 ELSE 1.0 END)),
                     0), 9) AS INT) AS bin, count(*) AS n
                   FROM b0 CROSS JOIN bounds GROUP BY 1),
            cb AS (SELECT CAST(least(greatest(floor((x - mn) /
                     (CASE WHEN mx > mn THEN (mx - mn) / 10.0 ELSE 1.0 END)),
                     0), 9) AS INT) AS bin, count(*) AS n
                   FROM c0 CROSS JOIN bounds GROUP BY 1),
            spine AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
            j AS (SELECT s.bin, coalesce(bb.n, 0) AS base_n,
                         coalesce(cb.n, 0) AS cur_n
                  FROM spine s LEFT JOIN bb USING (bin)
                  LEFT JOIN cb USING (bin)),
            t AS (SELECT sum(base_n) AS bt, sum(cur_n) AS ct FROM j)
            SELECT bin, base_n, cur_n,
              round(greatest(base_n::DOUBLE / bt, 1e-6), 6) AS base_frac,
              round(greatest(cur_n::DOUBLE / ct, 1e-6), 6) AS cur_frac,
              round((greatest(cur_n::DOUBLE / ct, 1e-6)
                     - greatest(base_n::DOUBLE / bt, 1e-6))
                    * ln(greatest(cur_n::DOUBLE / ct, 1e-6)
                         / greatest(base_n::DOUBLE / bt, 1e-6)), 6)
                AS psi_term
            FROM j CROSS JOIN t
        """)
def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI distribution-drift report (diff.drift_report): even-doc_id docs
    as the base frame vs odd as current, n_chars over 10 equal-width
    base-range bins with eps-smoothed PSI terms. Twin replays the exact
    binning + smoothing arithmetic."""
    from database2ogr_spark.operators.diff import drift_report

    docs = _t(spark, sf_dir, "documents")
    return drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        value_col="n_chars",
        n_bins=10,
    )


@register(twin="""
        WITH c AS (SELECT coalesce(CAST(user_id AS VARCHAR), '<null>')
                     AS key_value, count(*) AS n
                   FROM events GROUP BY 1),
        t AS (SELECT count(*) AS tt FROM events),
        top AS (SELECT key_value, n FROM c
                ORDER BY n DESC, key_value LIMIT 10)
        SELECT key_value, n, round(n::DOUBLE / t.tt, 6) AS frac,
               CAST(row_number() OVER (ORDER BY n DESC, key_value) AS INT)
                 AS rank
        FROM top CROSS JOIN t
    """)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (partitioning.skew_report): 10 hottest
    user_id values with row share — distributed top-k
    (TakeOrderedAndProject, plan-pinned), never a global-sort window."""
    from database2ogr_spark.operators.partitioning import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "user_id", k=10)


@register(twin="""
            SELECT event_id, event_type,
              CASE event_type
                WHEN 'click' THEN 'engagement'
                WHEN 'view' THEN 'impression'
                WHEN 'purchase' THEN 'conversion'
                WHEN 'signup' THEN 'conversion'
                WHEN 'error' THEN 'fault'
              END AS category
            FROM events
        """)
def q_events_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment, batch twin (streaming.enrich_with_dimension
    — the stateless third cell of the streaming join matrix; the streaming
    path is verified in tests/test_streaming.py against this exact call).
    The dimension is a deterministic severity mapping over event_type."""
    from database2ogr_spark.streaming.events import enrich_with_dimension

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "impression"),
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("error", "fault"),
        ],
        "event_type string, category string",
    )
    return enrich_with_dimension(ev, dim).select(
        "event_id", "event_type", "category"
    )


@register(twin=f"""
            WITH t AS (
              SELECT source, unnest({_WORDS_SQL}) AS token FROM documents),
            c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1
                  HAVING count(*) >= 5),
            vocab AS (SELECT token FROM (
                SELECT token, row_number() OVER
                  (ORDER BY cnt DESC, token) AS rk FROM c) WHERE rk <= 20),
            tot AS (SELECT source, count(*) AS n_tokens FROM t GROUP BY 1),
            oov AS (SELECT source, count(*) AS n_oov FROM t
                    WHERE token NOT IN (SELECT token FROM vocab) GROUP BY 1)
            SELECT tot.source, tot.n_tokens,
              coalesce(oov.n_oov, 0) AS n_oov,
              round(coalesce(oov.n_oov, 0) / CAST(tot.n_tokens AS DOUBLE), 6)
                AS oov_rate
            FROM tot LEFT JOIN oov USING (source)
        """)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit report (tfidf.vocab_coverage): per-source OOV rate
    against the top-20 build_vocab vocabulary (cut small on purpose so the
    OOV path carries real mass on this corpus). Broadcast anti-join; two
    counts off one exploded stream."""
    from database2ogr_spark.operators.tfidf import build_vocab, vocab_coverage

    d = _t(spark, sf_dir, "documents")
    vocab = build_vocab(d, min_count=5, max_size=20)
    return vocab_coverage(d, vocab)


@register(twin="""
            WITH p AS (
              SELECT lang, doc_id, n_chars,
                CAST(floor((sum(n_chars) OVER (PARTITION BY lang
                    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars)
                  / 10000) AS BIGINT) AS bin_id
              FROM documents)
            SELECT lang, bin_id, doc_id,
              (sum(n_chars) OVER w - n_chars)::BIGINT AS start,
              (sum(n_chars) OVER w)::BIGINT AS "end"
            FROM p
            WINDOW w AS (PARTITION BY lang, bin_id ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING)
        """)
def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-ready packing manifest (sampling.pack_manifest): the
    pack_sequences bins plus each doc's [start, end) offsets inside its
    packed sequence — the inputs of a block-diagonal attention mask. Same
    window, zero new shuffles."""
    return SMP.pack_manifest(
        _t(spark, sf_dir, "documents"),
        budget=10_000,
        group_col="lang",
        id_col="doc_id",
        token_col="n_chars",
    )


# priority-aware retention = the same group closure + a padded
# (priority, id) arg_min and a semi filter
@register(twin=(
        "WITH base AS (" + _REGISTRY["near_dup_groups"].twin + "), "
        "j AS (SELECT b.doc_id, b.group_id, "
        "  lpad(CAST(CASE d.source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 "
        "       ELSE 999 END AS VARCHAR), 6, '0') || "
        "  lpad(CAST(b.doc_id AS VARCHAR), 20, '0') AS k "
        "FROM base b JOIN documents d USING (doc_id)), "
        "w AS (SELECT group_id, arg_min(doc_id, k) AS winner FROM j "
        "      GROUP BY 1) "
        "SELECT d.doc_id, d.source FROM documents d "
        "WHERE d.doc_id IN (SELECT winner FROM w)"
    ))
def q_dedup_survivors_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup retention (dedup.near_dup_survivors_by_
    priority): src0/src1 outrank everything else, so whenever a near-dup
    group spans sources the curated copy survives instead of the min-id
    one. Same LSH→CC group chain as near_dup_groups; the oracle composes
    that twin with the padded (priority, id) arg_min."""
    return DD.near_dup_survivors_by_priority(
        _t(spark, sf_dir, "documents"),
        {"src0": 0, "src1": 1},
        k_shingle=3,
        threshold=0.2,
        driver_threshold=100_000,  # caller hint: tiny edge set at bench SF
    ).select("doc_id", "source")


@register(twin="""
            SELECT doc_id FROM documents
            WHERE ' ' || text || ' ' LIKE '% spark %'
              AND ' ' || text || ' ' LIKE '% window %'
        """)
def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval over a materialized inverted index
    (operators/search.py): build the (token, df, postings) index once,
    answer an AND query ('spark' AND 'window') purely from the index —
    the corpus is never rescanned at query time."""
    from database2ogr_spark.operators.search import (
        build_inverted_index,
        search_all_terms,
    )

    idx = _tmp("d2o_inverted_index")
    build_inverted_index(_t(spark, sf_dir, "documents"), idx)
    return search_all_terms(spark, idx, ["spark", "window"])


@register(twin="""
            WITH e AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            b AS (SELECT v AS bv FROM e WHERE vec_id % 20 = 0),
            c AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
            bad AS (
              SELECT DISTINCT c.vec_id FROM c CROSS JOIN b
              WHERE round(list_dot_product(v, bv) /
                      (sqrt(list_dot_product(v, v)) *
                       sqrt(list_dot_product(bv, bv))), 6) >= 0.45)
            SELECT vec_id FROM c
            WHERE vec_id NOT IN (SELECT vec_id FROM bad)
        """)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (similarity.decontaminate_semantic):
    corpus vectors within cosine 0.45 of any benchmark vector (ids ≡0 mod
    20) are dropped — catches paraphrased eval leakage the n-gram rules
    miss. Broadcast nested-loop semi probe; corpus never shuffles. The
    0.45 operating point is data-appropriate for this synthetic corpus
    (random vectors: cross-split max 0.49, p99.9 0.38 — real embeddings
    use ~0.9+); the realistic-threshold drop semantics are pinned with
    planted vectors in tests/test_similarity.py."""
    from database2ogr_spark.operators.similarity import decontaminate_semantic

    emb = _emb(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return decontaminate_semantic(corpus, bench, threshold=0.45).select("vec_id")


# banded sign-LSH twin of the scale-path entry: 4 bands x 4 bits
# over the shared hyperplane family (band b = planes [4b, 4b+4)),
# candidates = corpus/bench vectors sharing ANY band bucket,
# verified with the exact rounded cosine — replays the Spark plan
# (signs_bucket_expr windows, dropDuplicates, left_anti) exactly
@register(twin=f"""
            WITH e AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            ben AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 20 = 0),
            c AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
            cb AS ({" UNION ALL ".join(
                f"SELECT vec_id, {b} AS band, "
                f"{_lsh_bucket_sql(4, 64, plane_offset=4 * b)} AS bucket FROM c"
                for b in range(4))}),
            bb AS ({" UNION ALL ".join(
                f"SELECT bid, {b} AS band, "
                f"{_lsh_bucket_sql(4, 64, plane_offset=4 * b, vec='bv')} AS bucket "
                f"FROM ben" for b in range(4))}),
            cand AS (SELECT DISTINCT cb.vec_id, bb.bid
                     FROM cb JOIN bb USING (band, bucket)),
            bad AS (
              SELECT DISTINCT c.vec_id
              FROM cand
              JOIN c ON c.vec_id = cand.vec_id
              JOIN ben ON ben.bid = cand.bid
              WHERE round(list_dot_product(c.v, ben.bv) /
                      (sqrt(list_dot_product(c.v, c.v)) *
                       sqrt(list_dot_product(ben.bv, ben.bv))), 6) >= 0.45)
            SELECT vec_id FROM c
            WHERE vec_id NOT IN (SELECT vec_id FROM bad)
        """)
def q_decontaminate_semantic_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB tier of q_decontaminate_semantic (the exact operator's
    cost grows with the |corpus|x|benchmark| PRODUCT when both sides
    scale, SCALE.md): banded sign-LSH candidate generation (4 bands x
    4 bits over the shared md5-derived hyperplane family) + exact
    rounded-cosine verification, so candidate generation is a bucketed
    equi-join shipping bands*(|corpus|+|bench|) rows instead of the
    cross product. False positives impossible (verification is the exact
    predicate); recall < 1 by the standard banding trade — survivors are
    a SUPERSET of the exact entry's, pinned in tests/test_similarity.py.
    Deterministic given the pinned hyperplanes, so the DuckDB twin
    replays banding, candidate dedup, and verification exactly."""
    from database2ogr_spark.operators.similarity import decontaminate_semantic_lsh

    emb = _emb(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return decontaminate_semantic_lsh(
        corpus, bench, threshold=0.45, bands=4, bits=4, dim=64
    ).select("vec_id")


@register(twin=f"""
            SELECT doc_id, lang,
              row_number() OVER (ORDER BY
                {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} ASC, doc_id ASC)
                - 1 AS position
            FROM documents
        """)
def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed global enumeration (sampling.training_order): dense
    0-based positions in hash-shuffled order WITHOUT the single-task
    row_number funnel (arithmetic range buckets → per-bucket windows →
    256-row offset broadcast). The oracle is the naive global-sort
    row_number — DuckDB can afford it; Spark must not."""
    from database2ogr_spark.operators.sampling import training_order

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return training_order(d).select("doc_id", "lang", "position")


@register(twin="""
            SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 0
        """)
def q_corrupt_file_resilience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational resilience: a dataset where one batch's parquet file is
    truncated mid-byte (a real failure mode of interrupted uploads at
    100 TB) must still serve the intact batches under
    ``ignoreCorruptFiles`` instead of failing the whole scan. The entry
    writes even-ids and odd-ids as separate batch dirs, corrupts the odd
    batch's files, and reads back — exactly the even half survives
    (deterministic, so the oracle is the even-id selection). The default
    (fail-fast) remains the right posture for silent-loss-intolerant
    pipelines; this flag is the explicit opt-in, scoped to this read."""
    out = _tmp("d2o_corrupt_resilience")
    docs = _t(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang", "source")\
        .coalesce(2).write.mode("overwrite").parquet(f"{out}/batch=0")
    docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "source")\
        .coalesce(2).write.mode("overwrite").parquet(f"{out}/batch=1")
    import glob

    for p in glob.glob(f"{out}/batch=1/part-*.parquet"):
        with open(p, "r+b") as fh:
            fh.truncate(max(1, os.path.getsize(p) // 3))
    return (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(out)
        .select("doc_id", "lang", "source")
    )


@register(twin="""
            SELECT tok AS token, count(*) AS n FROM (
              SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
            WHERE tok <> '' GROUP BY 1
        """)
def q_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items SKETCH heavy hitters (``approx_top_k`` — bounded
    memory, map-side mergeable) vs the exact groupBy of frequent_tokens.
    The sketch's contract: items are exact while distinct count ≤ tracked
    capacity, and degrade one-sidedly (counts never under their true value
    minus the bound) beyond it. This corpus's 31 distinct tokens sit far
    under the 10⁴ capacity, so the graded rows ARE the exact counts — a
    hash match proves the sketch met its exactness regime; at 100 TB the
    same plan holds heavy hitters in O(capacity) memory per partition where
    the exact groupBy's shuffle grows with the vocabulary."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    sk = toks.agg(F.expr("approx_top_k(token, 100)").alias("top"))
    return (
        sk.select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("token"), F.col("e.count").alias("n"))
    )


# leakage-safe split = the graded near-dup closure + the split hash CASE
# applied to group_id — pure composition of two green twins
@register(twin=(
        "WITH base AS (" + _REGISTRY["near_dup_groups"].twin + ") "
        "SELECT doc_id, group_id, CASE WHEN "
        + _h64_sql("CAST(group_id AS VARCHAR)", 7)
        + " % 100 < 95 THEN 'train' ELSE 'val' END AS split FROM base"
    ))
def q_split_corpus_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split: keyed on the near-dup GROUP id instead
    of the doc id, so near-duplicate documents can never straddle the
    split boundary (the eval-contamination hole an id-keyed split leaves
    open — tests/test_sampling.py demonstrates the plain split leaking on
    this very corpus). Composition of two graded operators: near_dup_groups
    (minhash default) → split_corpus(id_col=group_id); the oracle wraps the
    near_dup_groups twin and applies the identical hash-bucket CASE."""
    from database2ogr_spark.operators.sampling import split_corpus

    docs = _t(spark, sf_dir, "documents")
    groups = near_dup_groups(
        docs, k_shingle=3, threshold=0.2, driver_threshold=100_000
    )
    out = split_corpus(groups, {"train": 95, "val": 5}, id_col="group_id")
    return out.select("doc_id", "group_id", "split")


@register(twin="""
            SELECT doc_id, lang, NULL AS source FROM documents
            WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, lang, source FROM documents WHERE doc_id % 2 = 1
        """)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an old export (doc_id, lang) and a new export
    with an added column (doc_id, lang, source) live in one dataset
    directory; ``mergeSchema`` reconciles them — old rows surface the new
    column as NULL. At scale this is how a corpus accretes columns without
    rewriting history. Footer-only schema merge; per-file pruning intact."""
    out = _tmp("d2o_schema_evo")
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "source")
    old.coalesce(2).write.mode("overwrite").parquet(f"{out}/batch=0")
    new.coalesce(2).write.mode("overwrite").parquet(f"{out}/batch=1")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("doc_id", "lang", "source")
    )


@register(twin="""
            SELECT lang, source, grouping(lang, source) AS gid,
              count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
            FROM documents
            GROUP BY GROUPING SETS ((lang), (source), ())
        """)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS beyond cube/rollup (lang_source_cube /
    hypertable_rollup grade those): exactly the (lang), (source), and
    grand-total grains — no (lang, source) cross grain — in one shuffle,
    with ``grouping_id`` disambiguating real NULLs from subtotal rows."""
    d = _t(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT lang, source, grouping_id(lang, source) AS gid,
               count(*) AS n_docs, sum(n_chars) AS total_chars
        FROM {d}
        GROUP BY GROUPING SETS ((lang), (source), ())
        """,
        d=d,
    )


@register(twin="""
            SELECT 'not_null:o_orderkey' AS rule,
              count(*) FILTER (WHERE o_orderkey IS NULL) AS violations
            FROM orders
            UNION ALL
            SELECT 'not_null:o_custkey',
              count(*) FILTER (WHERE o_custkey IS NULL) FROM orders
            UNION ALL
            SELECT 'not_null:o_orderdate',
              count(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
            UNION ALL
            SELECT 'in_range:o_totalprice',
              count(*) FILTER (WHERE o_totalprice IS NOT NULL
                AND (o_totalprice < 0 OR o_totalprice > 400000))
            FROM orders
            UNION ALL
            SELECT 'accepted_values:o_orderpriority',
              count(*) FILTER (WHERE o_orderpriority IS NOT NULL
                AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
                  '4-NOT SPECIFIED', '5-LOW'))
            FROM orders
            UNION ALL
            SELECT 'unique:o_orderkey',
              -- sum() of BIGINT is HUGEINT in DuckDB; pandas (the driver
              -- canonicalizer) renders HUGEINT as float64, and this branch
              -- coerces the whole UNION-ALL column → r5 hash-FAIL. Cast.
              CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM (
                SELECT count(*) AS n FROM orders
                WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
            UNION ALL
            SELECT 'foreign_key:o_custkey', count(*) FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer)
        """)
def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (operators/validate.validate_constraints): every
    declared rule over orders in one report — N single-column rules cost
    ONE scan (a stack of conditional counts), uniqueness and the customer
    FK probe reduce to key columns before their shuffles. The clean table
    yields all-zero violations EXCEPT the deliberately-tight price range,
    which proves the counting path is live."""
    from database2ogr_spark.operators.validate import validate_constraints

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    return validate_constraints(
        o,
        not_null=("o_orderkey", "o_custkey", "o_orderdate"),
        unique=("o_orderkey",),
        in_range={"o_totalprice": (0.0, 400_000.0)},
        accepted_values={
            "o_orderpriority": (
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            )
        },
        foreign_keys={"o_custkey": c},
    )


@register(twin="""
            WITH t AS (
              SELECT l_returnflag, l_extendedprice AS v,
                CAST(round(l_quantity * 100) AS BIGINT) AS w
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL),
            o AS (
              SELECT l_returnflag, v,
                sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cw,
                sum(w) OVER (PARTITION BY l_returnflag) AS tot
              FROM t)
            SELECT l_returnflag, min(v) AS wmedian_price
            FROM o WHERE cw >= tot / 2.0 GROUP BY 1
        """)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom GROUPED_AGG pandas UDF (functions/aggregates.weighted_median)
    — quantity-weighted lower median of extended price per return flag;
    semantics pinned so the DuckDB running-weight window twin reproduces it
    exactly. The price passes through untouched (no float arithmetic)."""
    from database2ogr_spark.functions.aggregates import weighted_median

    # a contribution needs both a price and a weight: NULL v rows are
    # unorderable in the running-weight twin and NULL w rows carry no mass
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
        )
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("v"),
            F.round(F.col("l_quantity") * 100).cast("bigint").alias("w"),
        )
    )
    return li.groupBy("l_returnflag").agg(
        weighted_median()("v", "w").alias("wmedian_price")
    )


@register(twin="""
            -- count(*) FILTER, not sum(CASE...): DuckDB types sum(int) as
            -- HUGEINT → pandas float64 at the driver → r5 hash-FAIL vs
            -- Spark's bigint. count(*) is BIGINT natively.
            SELECT user_id,
              count(*) FILTER (WHERE event_type = 'click') AS click,
              count(*) FILTER (WHERE event_type = 'view') AS view,
              count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              count(*) FILTER (WHERE event_type = 'signup') AS signup,
              count(*) FILTER (WHERE event_type = 'error') AS error
            FROM events GROUP BY 1
        """)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic DataFrame.pivot surface (warnify is the bespoke pivot; this
    is the built-in): per-user event counts pivoted into one column per
    event type. Values are EXPLICITLY enumerated — at scale an implicit
    pivot runs a distinct-scan planning job and can explode the schema;
    pinning the value list keeps planning O(1) and the schema stable."""
    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@register(twin="""
            WITH j AS (
              SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE o.o_totalprice > 450000)
            SELECT c_mktsegment, o_orderkey,
              rank() OVER w AS rnk,
              dense_rank() OVER w AS drnk,
              round(percent_rank() OVER w, 6) AS prnk,
              round(cume_dist() OVER w, 6) AS cdist
            FROM j
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY o_totalprice DESC, o_orderkey ASC)
        """)
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking-window surface in one query: rank, dense_rank,
    percent_rank, cume_dist over order totals per market segment (row_number
    is graded via window_top_orders_per_segment). All five share one
    (partition, order) → a single Window node; ANSI semantics match DuckDB
    exactly (percent_rank/cume_dist rounded to 6 dp for float formatting)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450_000)
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return j.select(
        "c_mktsegment",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(twin="""
            WITH h1 AS (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                          AND o_orderdate < TIMESTAMP '1997-07-01'),
            h2 AS (SELECT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '1997-07-01'
                     AND o_orderdate < TIMESTAMP '1998-01-01')
            SELECT o_custkey AS custkey, 'retained' AS cohort
            FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
            UNION ALL
            SELECT o_custkey, 'churned'
            FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2)
            UNION ALL
            SELECT o_custkey, 'new'
            FROM (SELECT o_custkey FROM h2 EXCEPT SELECT o_custkey FROM h1)
        """)
def q_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXCEPT / INTERSECT surface (SURVEY §2.6 completes union):
    customers active in 1997-H1 partitioned into retained (INTERSECT with
    H2), churned (EXCEPT H2), and new (H2 EXCEPT H1). Both compile to
    left-anti / left-semi aggregates — distinct set semantics, one shuffle
    per operand pair, and the three classes are disjoint by construction
    (pinned in pytest)."""
    o = _t(spark, sf_dir, "orders")
    h1 = o.filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-07-01")))
    ).select("o_custkey")
    h2 = o.filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-07-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    ).select("o_custkey")
    retained = h1.intersect(h2).select(
        F.col("o_custkey").alias("custkey"), F.lit("retained").alias("cohort")
    )
    churned = h1.subtract(h2).select(
        F.col("o_custkey").alias("custkey"), F.lit("churned").alias("cohort")
    )
    new = h2.subtract(h1).select(
        F.col("o_custkey").alias("custkey"), F.lit("new").alias("cohort")
    )
    return retained.unionByName(churned).unionByName(new)


@register(twin="""
            WITH pb AS (
              SELECT user_id, date_trunc('hour', ts) AS bucket,
                arg_max(value,
                  lpad(CAST(epoch_us(ts) + 1000000000000000000
                            AS VARCHAR), 20, '0')
                  || lpad(CAST(event_id AS VARCHAR), 20, '0')) AS v
              FROM events GROUP BY 1, 2),
            spans AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
                      FROM pb GROUP BY 1),
            grid AS (SELECT user_id,
                       unnest(generate_series(b0, b1, INTERVAL 1 HOUR))
                         AS bucket
                     FROM spans),
            j AS (SELECT g.user_id, g.bucket, pb.v
                  FROM grid g LEFT JOIN pb
                    ON g.user_id = pb.user_id AND g.bucket = pb.bucket)
            SELECT user_id, bucket,
              last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS value_filled,
              v IS NOT NULL AS observed
            FROM j
        """, time_domain=True)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly grid + LOCF per user (timeseries.gap_fill_locf) — the
    resample/gap-fill surface; at sf0.01 ~90% of grid rows are imputed, so
    the carry-forward path is exercised heavily."""
    from database2ogr_spark.operators.timeseries import gap_fill_locf

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return gap_fill_locf(ev, unit="hour")


@register(twin="""
            WITH fp AS (
              SELECT doc_id, md5(concat_ws(chr(31), text, lang, source,
                CAST(n_chars AS VARCHAR))) AS f
              FROM documents),
            changed_fp AS (
              SELECT doc_id, md5(concat_ws(chr(31), text,
                CASE WHEN doc_id % 31 = 0 THEN 'xx' ELSE lang END, source,
                CAST(n_chars AS VARCHAR))) AS f
              FROM documents),
            new_fp AS (
              SELECT doc_id, f FROM changed_fp WHERE doc_id % 97 <> 0
              UNION ALL
              SELECT doc_id + 1000000, f FROM fp WHERE doc_id % 89 = 0)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.f IS NULL THEN 'added'
                   WHEN n.f IS NULL THEN 'removed'
                   WHEN o.f = n.f THEN 'unchanged'
                   ELSE 'changed' END AS status
            FROM fp o FULL OUTER JOIN new_fp n ON o.doc_id = n.doc_id
        """)
def q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (operators/diff.dataset_diff): the 'new'
    snapshot deterministically removes ids ≡0 mod 97, rewrites lang to 'xx'
    for ids ≡0 mod 31, and adds clones at id+10^6 for ids ≡0 mod 89 — the
    diff must classify every id exactly (full-outer on (id, md5 fp))."""
    from database2ogr_spark.operators.diff import dataset_diff

    docs = _t(spark, sf_dir, "documents")
    changed = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 31 == 0, F.lit("xx")).otherwise(F.col("lang")),
    )
    new = (
        changed.filter(F.col("doc_id") % 97 != 0)
        .unionByName(
            docs.filter(F.col("doc_id") % 89 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(1_000_000)
            )
        )
    )
    return dataset_diff(docs, new, compare_cols=("text", "lang", "source", "n_chars"))


# the JSONL round-trip must reproduce the table byte-for-byte
@register(twin="SELECT doc_id, lang, source, n_chars FROM documents")
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip: documents written as ORC and read back must
    reproduce the table exactly. ORC is Spark-native (columnar, predicate
    pushdown, splittable) — the third interchange format after parquet and
    the quarantine-checked JSONL/CSV line formats."""
    out = _tmp("d2o_orc_roundtrip")
    docs = _t(spark, sf_dir, "documents")
    docs.coalesce(4).write.mode("overwrite").orc(out)
    return spark.read.orc(out).select("doc_id", "lang", "source", "n_chars")


# shard write/read round-trip — same assignment as split_corpus
@register(twin=f"""
            SELECT doc_id, lang,
              CASE WHEN {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} % 100 < 5
                     THEN 'test'
                   WHEN {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} % 100 < 95
                     THEN 'train'
                   ELSE 'val' END AS split
            FROM documents
        """)
def q_corpus_shards_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded corpus export round-trip (sinks/corpus.py): split + write
    partitioned/sharded + read back must reproduce every row with its split
    label intact (oracle = the split_corpus assignment itself)."""
    from database2ogr_spark.sinks.corpus import (
        read_corpus_shards,
        write_corpus_shards,
    )

    out = _tmp("d2o_corpus_shards")
    split = SMP.split_corpus(
        _t(spark, sf_dir, "documents"), {"train": 90, "val": 5, "test": 5}
    )
    write_corpus_shards(split, out, partition_by=("split",), shards=3)
    # explicit writer-side schema: an empty corpus reads back as an empty
    # frame instead of UNABLE_TO_INFER_SCHEMA (no part files were written)
    return read_corpus_shards(spark, out, split.schema).select(
        "doc_id", "lang", "split"
    )


#: shared duplicate paragraph for the pretrain-pipeline entry — long and
#: diverse enough to PASS the quality cascade, so the dedup stage (not the
#: filter) is what collapses the doc_id%9==5 group to its min-id survivor
_SHARED_PARA = (
    "the pipeline must keep exactly one copy of this rather long shared "
    "paragraph because exact deduplication selects the minimum identifier "
    "as the surviving document for every duplicate group found here today"
)


@register(twin=f"""
            WITH {_pretrain_filter_ctes()},
            counts AS (SELECT source, count(*) AS n FROM clean
                       GROUP BY source),
            tot AS (SELECT sum(n) AS nn, sum(power(n, 0.7)) AS z
                    FROM counts),
            rates AS (SELECT source, round(power(n, 0.7) / z * nn / n, 6)
                        AS r
                      FROM counts CROSS JOIN tot),
            fan AS (
              SELECT c.doc_id, c.source, c.lang, r,
                CAST(floor(r) AS INT) +
                CASE WHEN {_h64_sql("CAST(c.doc_id AS VARCHAR)", 17)}
                       % 1000000
                     < CAST(round((r - floor(r)) * 1000000) AS BIGINT)
                     THEN 1 ELSE 0 END AS n_copies
              FROM clean c JOIN rates USING (source)),
            inst AS (
              SELECT doc_id, source, lang, CAST(e AS INT) AS epoch
              FROM fan CROSS JOIN
                (SELECT unnest(range(0, 1000)) AS e) ee
              WHERE e < n_copies)
            SELECT doc_id, source, lang, epoch,
              CASE WHEN {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} % 100 < 95
                   THEN 'train' ELSE 'val' END AS split
            FROM inst
        """)
def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition (plans/pretrain.pretrain_corpus): quality
    cascade → exact-dedup survivors → 13-gram decontamination vs the
    doc_id%20==0 benchmark → temperature mix (alpha=0.7, epoch column) →
    deterministic 95/5 split. The doc_id%9==5 corpus docs share one
    quality-passing paragraph so the dedup stage demonstrably fires. The
    oracle composes the same five stages as nested CTEs — one hash row
    grades the whole pipeline end-to-end."""
    from database2ogr_spark.plans.pretrain import pretrain_corpus

    docs = _t(spark, sf_dir, "documents")
    transformed = docs.select(
        "doc_id",
        "source",
        "lang",
        F.when(F.col("doc_id") % 9 == 5, F.lit(_SHARED_PARA))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = transformed.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    out = pretrain_corpus(corpus, bench, alpha=0.7)
    return out.select("doc_id", "source", "lang", "epoch", "split")


# the five pipeline stages as nested CTEs: quality keep-predicate
# (frozen QUALITY_RULES), min-id survivor per fingerprint, 13-gram
# decontamination vs the doc_id%20==0 benchmark, alpha=0.7
# temperature rates with hash-threshold copies (seed 17), split
# buckets on seed 7 (train [0,95), val [95,100))
# per-input-doc drop accounting over the SAME filtering CTEs
@register(twin=f"""
            WITH {_pretrain_filter_ctes()}
            SELECT c0.doc_id,
              CASE
                WHEN c0.doc_id NOT IN (SELECT doc_id FROM qual)
                  THEN 'quality'
                WHEN c0.doc_id NOT IN (SELECT doc_id FROM ded)
                  THEN 'dedup'
                WHEN c0.doc_id IN (SELECT doc_id FROM bad)
                  THEN 'decontaminate'
                ELSE 'kept'
              END AS stage,
              c0.doc_id IN (SELECT doc_id FROM clean) AS kept
            FROM corpus0 c0
        """)
def q_pretrain_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-accounting twin of the flagship pipeline
    (plans/pretrain.pretrain_ledger): same scenario, same three filtering
    stages, but EVERY input document gets a row naming the first stage
    that dropped it ('quality'/'dedup'/'decontaminate') or 'kept' — the
    curation observability a 100 TB run is judged by.  The stage sets
    partition the input exactly; the oracle reuses the pipeline's shared
    filtering CTEs so the two entries cannot drift."""
    from database2ogr_spark.plans.pretrain import pretrain_ledger

    docs = _t(spark, sf_dir, "documents")
    transformed = docs.select(
        "doc_id",
        "source",
        "lang",
        F.when(F.col("doc_id") % 9 == 5, F.lit(_SHARED_PARA))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = transformed.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return pretrain_ledger(corpus, bench).select("doc_id", "stage", "kept")


@register(twin=f"""
            WITH t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
            bg AS (
              SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
              FROM t CROSS JOIN
                (SELECT unnest(range(1, (SELECT max(len(w)) FROM t))) AS i) ii
              WHERE i <= len(w) - 1),
            c AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2),
            s AS (SELECT w1, sum(c) AS s FROM c GROUP BY w1),
            p AS (SELECT w1, w2, c::DOUBLE / s AS p FROM c JOIN s USING (w1))
            SELECT doc_id, count(*) AS n_bigrams,
                   round(avg(ln(p)), 6) AS logprob
            FROM bg JOIN p USING (w1, w2) GROUP BY doc_id
        """)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram conditional-LM quality score
    (operators/tfidf.bigram_logprob_score) — mean ln P(w₂|w₁) per doc."""
    from database2ogr_spark.operators.tfidf import bigram_logprob_score

    return bigram_logprob_score(_t(spark, sf_dir, "documents"))


@register(twin="""
            SELECT doc_id, source, n_chars,
              CAST(ntile(10) OVER (PARTITION BY source
                     ORDER BY n_chars DESC, doc_id) AS INT) AS bucket
            FROM documents
        """)
def q_score_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile tiers (sampling.score_buckets — the CCNet-style
    head/middle/tail curriculum step): ntile(10) over (n_chars desc,
    doc_id) within each source."""
    docs = _t(spark, sf_dir, "documents")
    return SMP.score_buckets(
        docs, n_buckets=10, score_col="n_chars", group_col="source"
    ).select("doc_id", "source", "n_chars", "bucket")


# ±1 JL projection literals (int_sign family), left-to-right signed
# sums over doubles, /4 (√16), rounded 6 — same literal-embedding
# technique as the lsh_topk oracle; long form (one row per
# component) mirrors the graded entry's posexplode
@register(twin=(
            lambda comps: f"""
            SELECT vec_id, CAST(i - 1 AS INT) AS dim, proj[CAST(i AS INT)] AS value
            FROM (SELECT vec_id, [{comps}] AS proj
                  FROM (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                        FROM embeddings) t) p
            CROSS JOIN (SELECT unnest(range(1, 17)) AS i) ii
        """
        )(
            ", ".join(
                "round(("
                + " + ".join(
                    ("" if SIM.int_sign(j, i) > 0 else "-") + f"v[{i + 1}]"
                    for i in range(64)
                )
                + ") / 4.0, 6)"
                for j in range(16)
            )
        ))
def q_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 dims (similarity.project_embeddings):
    md5-derived ±1 matrix over √16, components rounded to 6 — the oracle
    embeds the same ±1 literals as signed sums.

    GRADED SURFACE IS LONG FORM: the operator's natural output is
    ``proj array<double>``, but the driver's canonicalizer cannot sort
    list-typed cells (it errs), so the graded entry posexplodes to one
    scalar ``(vec_id, dim, value)`` row per component — same values, same
    hash contract, complex-type-free (scripts/check_oracle.py now rejects
    array outputs outright)."""
    out = SIM.project_embeddings(_emb(spark, sf_dir), out_dim=16)
    return out.select("vec_id", F.posexplode("proj").alias("dim", "value"))


# batch signatures from the transformed texts, store signatures
# from the originals (doc_id%4==0); a batch doc dies on any store
# bucket-mate at est>=0.5 (replays hit their own signature at 1.0)
# or any lower-id batch bucket-mate at est>=0.5
@register(twin=(
            lambda batch_src, band_str: f"""
            WITH bsig AS ({_minhash_sig_sql(16, source=batch_src)}),
            ssig AS (SELECT * FROM ({_minhash_sig_sql(16)}) q
                     WHERE doc_id % 4 = 0),
            bb AS (SELECT doc_id, sig, band, {_h64_sql(band_str, 97)} AS bucket
                   FROM bsig CROSS JOIN
                     (SELECT unnest([0, 1, 2, 3]) AS band) bands),
            sb AS (SELECT doc_id, sig, band, {_h64_sql(band_str, 97)} AS bucket
                   FROM ssig CROSS JOIN
                     (SELECT unnest([0, 1, 2, 3]) AS band) bands),
            hit_store AS (
              SELECT DISTINCT b.doc_id FROM bb b JOIN sb s
                ON b.band = s.band AND b.bucket = s.bucket
              WHERE len(list_filter(generate_series(1, 16),
                    i -> b.sig[i] = s.sig[i])) / 16.0 >= 0.5),
            hit_batch AS (
              SELECT DISTINCT b.doc_id FROM bb b JOIN bb a
                ON b.band = a.band AND b.bucket = a.bucket
                   AND a.doc_id < b.doc_id
              WHERE len(list_filter(generate_series(1, 16),
                    i -> b.sig[i] = a.sig[i])) / 16.0 >= 0.5)
            SELECT doc_id, lang FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM hit_store)
              AND doc_id NOT IN (SELECT doc_id FROM hit_batch)
        """
        )(
            "(SELECT doc_id, CASE WHEN doc_id % 7 = 3"
            " THEN 'shared duplicate text' ELSE text END AS text"
            " FROM documents)",
            "array_to_string(list_transform(list_slice(sig, band * 4 + 1,"
            " band * 4 + 4), x -> CAST(x AS VARCHAR)), ',')",
        ))
def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time NEAR-dup dedup vs an LSH signature store
    (operators/dedup.dedup_incremental_lsh — the fuzzy twin of the green
    dedup_incremental): the store indexes every doc_id%4==0 doc; the batch
    is the corpus with doc_id%7==3 texts collapsed to one shared string.
    Replays die on their own stored signature (est 1.0), the shared-text
    group collapses to its min-id survivor, the rest admit. The oracle
    replays signatures, band buckets, and both probe joins exactly."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 7 == 3, F.lit("shared duplicate text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    store = DD.minhash_band_table(docs.filter(F.col("doc_id") % 4 == 0))
    out = DD.dedup_incremental_lsh(batch, store, threshold=0.5)
    return out.select("doc_id", "lang")


@register(twin=f"""
            WITH t AS (
              SELECT doc_id, unnest({_WORDS_SQL}) AS token FROM documents),
            c AS (SELECT token, count(*) AS c FROM t GROUP BY token),
            tot AS (SELECT sum(c) AS total FROM c),
            p AS (SELECT token, c::DOUBLE / total AS p
                  FROM c CROSS JOIN tot)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(ln(p)), 6) AS logprob
            FROM t JOIN p USING (token) GROUP BY doc_id
        """)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM quality score
    (operators/tfidf.unigram_logprob_score) — the CCNet-perplexity filter
    shape with a corpus-fit unigram model; mean ln P(token) per doc."""
    from database2ogr_spark.operators.tfidf import unigram_logprob_score

    return unigram_logprob_score(_t(spark, sf_dir, "documents"))


# Event-time operator deliberately without time_domain, on both sides:
# range_join only compares ts against interval bounds, so an implausible
# timestamp cannot decide a fan-out the way it decides a gap-fill spine's,
# and dropping it would remove a point from "all points inside the
# interval" — a judgment call for the caller. Symmetric under
# check_oracle.py --perturb times.
# the NAIVE theta join — a hash match proves the bucketized
# equi-join plan computes interval containment exactly
@register(twin="""
            WITH iv AS (
              SELECT w AS window_id,
                TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 1 HOUR AS s,
                TIMESTAMP '2024-01-01 00:00:00' + w * INTERVAL 1 HOUR
                  + INTERVAL 15 MINUTE AS e
              FROM (SELECT unnest(range(0, 200)) AS w))
            SELECT ev.event_id, iv.window_id,
                   CAST(floor(epoch(ev.ts)) AS BIGINT) AS ts_epoch
            FROM events ev JOIN iv ON ev.ts >= iv.s AND ev.ts < iv.e
        """)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join (operators/timeseries.range_join): events ⋈
    200 hourly 15-minute maintenance windows. The bucket equi-join replaces
    the BroadcastNestedLoopJoin Spark would pick for the bare theta
    predicate (plan pinned in tests/test_timeseries.py); the oracle is the
    naive theta join itself, so a hash match proves plan equivalence."""
    from database2ogr_spark.operators.timeseries import range_join

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    iv = spark.range(200).select(
        F.col("id").alias("window_id"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,CAST(id AS INT),0,0)"
        ).alias("start"),
        F.expr(
            "timestamp_ntz'2024-01-01 00:00:00'"
            " + make_interval(0,0,0,0,CAST(id AS INT),15,0)"
        ).alias("end"),
    )
    out = range_join(ev, iv, bucket_seconds=3600)
    return out.select(
        "event_id", "window_id", F.unix_timestamp("ts").alias("ts_epoch")
    )


@register(twin="""
            SELECT
              CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day,
              CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour,
              CAST(floor(epoch(date_trunc('minute', ts))) AS BIGINT) AS minute,
              count(*) AS n_events,
              round(sum(value), 6) AS sum_value
            FROM events
            GROUP BY ROLLUP (1, 2, 3)
        """, time_domain=True)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity continuous aggregate
    (operators/timeseries.hypertable_rollup): ROLLUP (day, hour, minute)
    over event timestamps — minute, hour, day, and grand-total rows from
    one shuffle."""
    from database2ogr_spark.operators.timeseries import hypertable_rollup

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return hypertable_rollup(ev)


# skew rule, alpha=0.5 power rates (rounded 6), md5 hash-threshold
# fractional copies, epoch fan-out via range — all mirrored from
# sampling.temperature_resample
@register(twin=f"""
            WITH skewed AS (
              SELECT doc_id, source FROM documents
              WHERE doc_id % 25 <= CAST(substr(source, 4, 2) AS INT)),
            counts AS (
              SELECT source, count(*) AS n FROM skewed GROUP BY source),
            tot AS (
              SELECT sum(n) AS nn, sum(power(n, 0.5)) AS z FROM counts),
            rates AS (
              SELECT source,
                round(power(n, 0.5) / z * nn / n, 6) AS r
              FROM counts CROSS JOIN tot),
            fan AS (
              SELECT s.doc_id, s.source, r,
                CAST(floor(r) AS INT) +
                CASE WHEN {_h64_sql("CAST(s.doc_id AS VARCHAR)", 17)} % 1000000
                       < CAST(round((r - floor(r)) * 1000000) AS BIGINT)
                     THEN 1 ELSE 0 END AS n_copies
              FROM skewed s JOIN rates USING (source))
            SELECT doc_id, source, CAST(e AS INT) AS epoch
            FROM fan CROSS JOIN (SELECT unnest(range(0, 1000)) AS e) ee
            WHERE e < n_copies
        """)
def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha) source rebalancing with deterministic upsampling
    (operators/sampling.temperature_resample). The sf corpus is perfectly
    source-balanced, so the entry first skews it deterministically (source
    ``srcS`` keeps rows with doc_id % 25 <= S) — rare sources then earn
    epoch>0 repeats under alpha=0.5. The oracle replays the skew, the
    rounded rate arithmetic, and the hash-threshold copy rule."""
    docs = _t(spark, sf_dir, "documents")
    skewed = docs.filter(
        F.col("doc_id") % 25 <= F.substring("source", 4, 2).cast("int")
    )
    out = SMP.temperature_resample(skewed, alpha=0.5)
    return out.select("doc_id", "source", "epoch")


@register(twin=f"""
            WITH t AS (
              SELECT unnest({_WORDS_SQL}) AS token FROM documents),
            c AS (
              SELECT token, count(*) AS count FROM t
              GROUP BY token HAVING count(*) >= 5)
            SELECT token,
              CAST(row_number() OVER (ORDER BY count DESC, token) - 1 AS INT)
                AS token_id,
              count
            FROM c
        """)
def q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary (operators/tfidf.build_vocab): corpus
    token counts cut at min_count=5, ids by (count desc, token asc)."""
    from database2ogr_spark.operators.tfidf import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents"), min_count=5)


# positions come from indexing the same rolling-shingle list the
# Spark position kernel emits (i-1 → 0-based); islands break
# when the gap between duplicated window starts exceeds k=3
@register(twin=f"""
            WITH sh AS ({_SHINGLES_SQL}),
            pt AS (
              SELECT doc_id, i - 1 AS pos, s[i] AS g
              FROM sh CROSS JOIN (
                SELECT unnest(range(1,
                  (SELECT max(len(s)) FROM ({_SHINGLES_SQL}) q) + 1)) AS i) ii
              WHERE i <= len(s)),
            dg AS (
              SELECT g FROM (SELECT DISTINCT g, doc_id FROM pt) t
              GROUP BY g HAVING count(*) >= 2),
            dp AS (SELECT doc_id, pos FROM pt WHERE g IN (SELECT g FROM dg)),
            isl AS (
              SELECT doc_id, pos,
                sum(CASE WHEN prev IS NULL OR pos - prev > 3 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM (SELECT doc_id, pos,
                      lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                    FROM dp) t)
            SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
                   CAST(max(pos) + 2 AS INT) AS span_end,
                   count(*) AS n_windows
            FROM isl GROUP BY doc_id, island
        """)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (operators/dedup.duplicate_spans — the
    Lee-et-al-2022 span-granular shape): k-word windows occurring in 2+
    docs, merged per doc into maximal spans. Linear posting-list counting,
    no pair join — the oracle replays the same md5 rolling windows and the
    gaps-and-islands merge in SQL."""
    return DD.duplicate_spans(
        _t(spark, sf_dir, "documents"), k_shingle=3, min_docs=2
    )


# the span CUT nests the graded span DETECTION verbatim, then replays
# the covered-token anti-join and the ordered reassembly
@register(twin=f"""
        WITH spans AS (SELECT * FROM ({_REGISTRY["duplicate_spans"].twin}) sp),
        wt AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
        toks AS (
          SELECT doc_id, i - 1 AS pos, w[i] AS tok
          FROM wt CROSS JOIN
            (SELECT unnest(range(1, (SELECT max(len(w)) FROM wt) + 1)) AS i) ii
          WHERE i <= len(w)),
        covered AS (
          SELECT DISTINCT t.doc_id, t.pos
          FROM toks t JOIN spans s
            ON t.doc_id = s.doc_id
           AND t.pos BETWEEN s.span_start AND s.span_end),
        kept AS (
          SELECT t.* FROM toks t LEFT JOIN covered c
            ON t.doc_id = c.doc_id AND t.pos = c.pos
          WHERE c.doc_id IS NULL),
        agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_tokens_kept
          FROM kept GROUP BY doc_id),
        drops AS (
          SELECT doc_id, count(*) AS n_tokens_dropped
          FROM covered GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(a.clean_text, '') AS clean_text,
               coalesce(a.n_tokens_kept, 0) AS n_tokens_kept,
               coalesce(dr.n_tokens_dropped, 0) AS n_tokens_dropped
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a USING (doc_id)
        LEFT JOIN drops dr USING (doc_id)
    """)
def q_strip_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The action half of substring dedup
    (cleaning.strip_duplicate_spans): duplicated k=3 window regions cut
    from every document's normalized token stream; oracle nests the
    graded duplicate_spans SQL and replays the cut + reassembly."""
    from database2ogr_spark.operators.cleaning import strip_duplicate_spans

    return strip_duplicate_spans(
        _t(spark, sf_dir, "documents"), k_shingle=3, min_docs=2
    )


@register(twin="""
            SELECT doc_id, lang, md5(text) AS text_md5,
                   length(text) AS n_chars
            FROM documents WHERE text IS NOT NULL
        """)
def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard export round-trip (sinks/webdataset.py): the
    documents table is written as key-sorted .txt/.json tar shards and read
    back via the binaryFile + mapInPandas reader; text is hash-compared
    (md5) and lang is recovered from the .json member, proving the sample
    payload AND metadata survive the sink byte-exactly."""
    from database2ogr_spark.sinks.webdataset import read_tar_shards, write_tar_shards

    out = _tmp("d2o_wds_shards")
    # shard members need a payload: NULL-text docs are not archivable
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    write_tar_shards(docs, out, shards=4, meta_cols=("lang",)).collect()
    back = read_tar_shards(spark, out)
    return back.select(
        F.col("key").alias("doc_id"),
        F.get_json_object("meta", "$.lang").alias("lang"),
        F.md5("text").alias("text_md5"),
        F.length("text").alias("n_chars"),
    )


# twin of operators/dedup.dedup_incremental over the synthesized
# batch (replays of the %4 store + %7 in-batch duplicates)
@register(twin=f"""
            WITH batch AS (
              SELECT doc_id, lang,
                CASE WHEN doc_id % 7 = 3 THEN 'shared duplicate text'
                     ELSE text END AS text
              FROM documents WHERE text IS NOT NULL),
            store AS (SELECT DISTINCT md5({_NORM_SQL}) AS fp
                      FROM documents
                      WHERE doc_id % 4 = 0 AND text IS NOT NULL),
            fps AS (SELECT doc_id, lang, md5({_NORM_SQL}) AS fingerprint
                    FROM batch),
            unseen AS (SELECT * FROM fps
                       WHERE fingerprint NOT IN (SELECT fp FROM store)),
            w AS (SELECT fingerprint, min(doc_id) AS doc_id
                  FROM unseen GROUP BY fingerprint)
            SELECT u.doc_id, u.lang, u.fingerprint
            FROM unseen u JOIN w USING (fingerprint, doc_id)
        """)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time incremental dedup (operators/dedup.dedup_incremental):
    the store holds fingerprints of every doc_id%4==0 doc; the arriving
    batch is the whole corpus with doc_id%7==3 texts collapsed to one
    shared string — so the operator must drop exact replays via the store,
    collapse the in-batch duplicates to their min-id survivor, and admit
    the rest."""
    # text contract: a NULL-text doc has no fingerprint — and on the
    # oracle side a NULL in the store turns `NOT IN` into UNKNOWN for
    # every row (the classic SQL trap the NULL probe caught: 0 rows)
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    batch = docs.select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 7 == 3, F.lit("shared duplicate text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    store = DD.dedup_exact(docs.filter(F.col("doc_id") % 4 == 0)).select(
        "fingerprint"
    )
    out = DD.dedup_incremental(batch, store)
    return out.select("doc_id", "lang", "fingerprint")


# Bloom-probe twin (m=2^23, 5 K-M positions):
# h1/h2 are the md5 60-bit pair, position i = (h1 + i·h2) mod m —
# all inside signed int64, so the false-positive set reproduces
# exactly; a doc is dropped iff some gram has ALL 5 bits set
@register(twin=f"""
            WITH bh AS (
              SELECT {_h64_sql("CAST(gram AS VARCHAR)", 0)} AS h1,
                     {_h64_sql("CAST(gram AS VARCHAR)", 131)} AS h2
              FROM (SELECT DISTINCT unnest(s) AS gram FROM
                ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 = 0)")})) bg),
            idx AS (SELECT unnest([0, 1, 2, 3, 4]) AS i),
            bloom AS (SELECT DISTINCT (h1 + i * h2) % 8388608 AS bit
                      FROM bh CROSS JOIN idx),
            ch AS (
              SELECT doc_id, gram,
                     {_h64_sql("CAST(gram AS VARCHAR)", 0)} AS h1,
                     {_h64_sql("CAST(gram AS VARCHAR)", 131)} AS h2
              FROM (SELECT DISTINCT doc_id, gram FROM
                (SELECT doc_id, unnest(s) AS gram FROM
                  ({_shingles_sql(13, "(SELECT * FROM documents WHERE doc_id % 20 <> 0)")}))) cg),
            hits AS (
              SELECT ch.doc_id, ch.gram, count(*) AS nhit
              FROM ch CROSS JOIN idx
              JOIN bloom ON (ch.h1 + idx.i * ch.h2) % 8388608 = bloom.bit
              GROUP BY 1, 2),
            bad AS (SELECT DISTINCT doc_id FROM hits WHERE nhit = 5)
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id % 20 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        """)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sketch decontamination (operators/dedup.decontaminate_bloom) —
    the beyond-broadcast scale twin of q_decontaminate, same bench/corpus
    split. The Kirsch-Mitzenmacher probe runs on md5-derived 60-bit hash
    pairs whose position arithmetic the DuckDB oracle replays exactly, so
    the sketch (false positives included) is deterministic and
    hash-matched; the no-false-negatives guarantee is pytest-verified in
    tests/test_dedup.py."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return DD.decontaminate_bloom(corpus, bench, k=13).select(
        "doc_id", "lang", "source"
    )


@register(twin=f"""
            WITH wh AS ({_whash_sql("(SELECT * FROM documents WHERE text IS NOT NULL) documents")}),
            base AS (
              SELECT doc_id, CAST(len(h) AS INT) AS n_tokens,
                list_transform(h, p -> p[1] * 2147483648 + p[2]) AS wids,
                CASE WHEN len(h) >= 2
                  THEN list_transform(generate_series(1, len(h) - 1), i ->
                    {_roll_sql(1, _MH_B1, 2)} * 2147483648 + {_roll_sql(2, _MH_B2, 2)})
                  ELSE [] END AS bids
              FROM wh),
            inrow AS (
              SELECT doc_id, n_tokens,
                CASE WHEN n_tokens >= 1 THEN
                  round(1.0 - len(list_distinct(wids)) / CAST(n_tokens AS DOUBLE), 6)
                  ELSE 0.0 END AS dup_token_frac,
                CASE WHEN n_tokens >= 2 THEN
                  round(1.0 - len(list_distinct(bids)) / CAST(len(bids) AS DOUBLE), 6)
                  ELSE 0.0 END AS dup_bigram_frac,
                bids
              FROM base),
            gc AS (SELECT doc_id, gram, count(*) AS cnt
                   FROM (SELECT doc_id, unnest(bids) AS gram FROM inrow)
                   GROUP BY 1, 2),
            top AS (SELECT doc_id, max(cnt) AS top_ngram_count,
                           sum(cnt) AS total_ngrams
                    FROM gc GROUP BY 1)
            SELECT i.doc_id, n_tokens, dup_token_frac, dup_bigram_frac,
              COALESCE(top_ngram_count, 0) AS top_ngram_count,
              CASE WHEN total_ngrams > 0 THEN
                round(CAST(top_ngram_count AS DOUBLE) / CAST(total_ngrams AS DOUBLE), 6)
                ELSE 0.0 END AS top_ngram_frac
            FROM inrow i LEFT JOIN top USING (doc_id)
        """)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (operators/repetition.py): duplicate
    token/bigram fractions and the most-frequent-bigram share, every count
    from one shuffle-free Arrow kernel pass."""
    from database2ogr_spark.operators.repetition import repetition_stats

    return repetition_stats(
        _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        top_n=2,
    )


# full LSH chain twin (signatures → band buckets → thresholded pairs);
# the hashing is md5 arithmetic chosen for exactly this reproduction
@register(twin=_lsh_pairs_sql(0.2))
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs (banding self-join). Hash-matched: the
    whole chain — md5-half word hashes, rolling shingle ids, affine
    signature family, band-bucket stable_hash64 — is deterministic
    arithmetic the DuckDB oracle replays exactly (oracle_sql
    'minhash_lsh_pairs')."""
    return DD.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, threshold=0.2
    )


# recall property row for the DEDUP chain (the ANN twin is
# ann_recall_lsh): composes the two already-verified twins — exact
# guarded Jaccard pairs as truth, banded MinHash-LSH pairs as the
# candidate set — so the graded number is the recall the scale path
# actually achieves at the pinned hyperparameters
@register(twin=f"""
        WITH truth AS (SELECT id_a, id_b FROM ({_REGISTRY["ngram_jaccard_pairs"].twin}) tt),
        cand AS (SELECT id_a, id_b FROM ({_REGISTRY["minhash_lsh_pairs"].twin}) cc),
        hit AS (SELECT t.id_a, t.id_b FROM truth t
                JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
        SELECT (SELECT count(*) FROM truth) AS n_truth,
               (SELECT count(*) FROM cand) AS n_candidates,
               (SELECT count(*) FROM hit) AS n_hit,
               round((SELECT count(*) FROM hit)::DOUBLE
                     / greatest((SELECT count(*) FROM truth), 1), 6) AS recall,
               round((SELECT count(*) FROM hit)::DOUBLE
                     / greatest((SELECT count(*) FROM cand), 1), 6)
                 AS precision
    """)
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall property row for the dedup chain: exact guarded-Jaccard
    pairs (truth) vs banded MinHash-LSH candidates at the same pinned
    hyperparameters — grades the recall the scale path actually achieves,
    like ann_recall_lsh does for ANN. Twin composes the two verified pair
    twins."""
    docs = _t(spark, sf_dir, "documents")
    # both pair operators return checkpointed tables, so each feeds its
    # count agg and the hit join without re-running its chain
    truth = DD.ngram_jaccard_pairs(
        docs, k_shingle=3, threshold=0.2, max_df=100
    ).select("id_a", "id_b")
    cand = DD.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, threshold=0.2
    ).select("id_a", "id_b")
    hit = truth.join(cand, ["id_a", "id_b"])
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_truth"), F.lit(1)), 6
            ).alias("recall"),
            # candidate PRECISION — how much of the
            # banded-LSH candidate volume verifies at the threshold;
            # recall grades completeness, precision grades wasted
            # verification work (the other number a 100 TB pass budgets)
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_candidates"), F.lit(1)),
                6,
            ).alias("precision"),
        )
    )


# 60-bit vote signature + pigeonhole-chunk pair generation, exact
# hamming verification at max_hamming=3 (the graded design point)
@register(twin=f"""
            SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
              CAST(bit_count(xor(l.sim, r.sim)) AS INT) AS hamming
            FROM ({_simhash_chunks_sql()}) l
            JOIN ({_simhash_chunks_sql()}) r
              ON l.chunk = r.chunk AND l.val = r.val AND l.doc_id < r.doc_id
            WHERE bit_count(xor(l.sim, r.sim)) <= 3
        """)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hash-matched against the DuckDB bit-vote twin.
    Graded at max_hamming=3 — the pigeonhole-chunking design point (4 wide
    chunks, low bucket-collision volume); the hamming=10 stress case lives
    in tests/test_dedup.py."""
    return DD.simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


@register(twin="""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
            s AS (
              SELECT query_id, c.vec_id,
                round(list_dot_product(qv, v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                      6) AS cosine_sim
              FROM q CROSS JOIN c WHERE c.vec_id <> query_id),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)::INT AS rank
                  FROM s)
            SELECT query_id, vec_id, cosine_sim, rank FROM r WHERE rank <= 5
        """)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.cosine_topk(emb, queries_df, k=5, query_id_col="query_id")


# twin of operators/similarity.quantize_embeddings — scale=max|x|/127,
# q_i=round(x/scale) (both engines round ties away from zero)
@register(twin="""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            s AS (SELECT vec_id, v,
                    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
                  FROM c),
            q AS (SELECT vec_id, scale,
                    CASE WHEN scale > 0
                         THEN list_transform(v, x -> CAST(round(x / scale, 0) AS INT))
                         ELSE list_transform(v, x -> 0) END AS qvec
                  FROM s)
            SELECT vec_id, round(scale, 9) AS scale_r,
              qvec[1] AS q1, qvec[32] AS q32, qvec[64] AS q64,
              list_reduce(list_prepend(0, list_transform(qvec, x -> abs(x))),
                          (a, b) -> a + b) AS q_l1
            FROM q
        """)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (operators/similarity.quantize_embeddings)
    — scale + scalar code projections so the oracle stays hashable."""
    q = SIM.quantize_embeddings(_emb(spark, sf_dir))
    return q.select(
        F.col("id").alias("vec_id"),
        F.round(F.col("scale"), 9).alias("scale_r"),
        F.element_at("qvec", 1).cast("int").alias("q1"),
        F.element_at("qvec", 32).cast("int").alias("q32"),
        F.element_at("qvec", 64).cast("int").alias("q64"),
        F.aggregate(
            F.col("qvec"), F.lit(0), lambda acc, x: acc + F.abs(x.cast("int"))
        ).alias("q_l1"),
    )


# int8-code ANN twin: quantize both sides (embedding_quantize
# arithmetic), cosine over the codes — integer dot products are
# exact in doubles, so order of summation cannot diverge
@register(twin="""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            s AS (SELECT vec_id, v,
                    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
                  FROM c),
            q AS (SELECT vec_id,
                    CASE WHEN scale > 0
                         THEN list_transform(v, x -> round(x / scale, 0))
                         ELSE list_transform(v, x -> 0.0) END AS qv
                  FROM s),
            qq AS (SELECT vec_id AS query_id, qv AS qqv FROM q WHERE vec_id < 5),
            sc AS (
              SELECT query_id, q.vec_id,
                round(list_dot_product(qqv, qv) /
                      (sqrt(list_dot_product(qqv, qqv)) * sqrt(list_dot_product(qv, qv))),
                      6) AS cosine_sim
              FROM qq CROSS JOIN q WHERE q.vec_id <> query_id),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)::INT AS rank
                  FROM sc)
            SELECT query_id, vec_id, cosine_sim, rank FROM r WHERE rank <= 5
        """)
def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-code brute-force ANN (approximate by construction; recall vs
    the float path pinned in tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.cosine_topk_quantized(emb, queries_df, k=5, query_id_col="query_id")


@register(twin="""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                    6) AS cosine_sim
            FROM c a JOIN c b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                    6) >= 0.35
        """)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.cosine_pairs_exact(_emb(spark, sf_dir), threshold=0.35)


# sign-LSH-blocked embedding near-dup twin (bits=4): same-bucket
# pairs scored with exact cosine, thresholded — fully deterministic
# given the embedded ±1 hyperplane literals
@register(twin=f"""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            b AS (SELECT vec_id, v, {_lsh_bucket_sql(4, 64)} AS bucket FROM c),
            p AS (
              SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                round(list_dot_product(l.v, r.v) /
                      (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
                      6) AS cosine_sim
              FROM b l JOIN b r
                ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
            SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim >= 0.35
        """)
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-blocked near-dup pairs — the 100 TB path the exact all-pairs
    query baselines. Approximate relative to the exact twin (bucket recall)
    but deterministic given the pinned hyperplanes, so the DuckDB oracle
    replays bucket assignment + in-bucket cosine exactly (hash-matched)."""
    return SIM.embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.35, bits=4, dim=64
    )


@register(twin=f"""
            {_kmeans_sql()}
            SELECT a.vec_id, CAST(a.cid AS INT) AS cluster_id,
                   s.n AS cluster_size
            FROM asgf a
            JOIN (SELECT cid, count(*) AS n FROM asgf GROUP BY cid) s
              USING (cid)
        """)
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (operators/clustering.kmeans_embeddings):
    hash-seeded init, 3 iterations, spherical assignment. Fully
    deterministic (centroids rounded to 6 decimals between iterations,
    similarities rounded to 9 before argmax), so the DuckDB twin unrolls
    the same three iterations as CTEs and the assignment hash-matches."""
    return KM.kmeans_embeddings(
        _emb(spark, sf_dir), k=8, n_iter=3
    )


@register(twin=f"""
            {_kmeans_sql()},
            dups AS (
              SELECT DISTINCT b.vec_id AS dup_id
              FROM asgf a JOIN asgf b
                ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE round(list_dot_product(a.v, b.v) /
                (greatest(sqrt(list_dot_product(a.v, a.v)), 1e-12) *
                 greatest(sqrt(list_dot_product(b.v, b.v)), 1e-12)),
                {KM.SIM_DECIMALS}) >= 0.4)
            SELECT vec_id, CAST(cid AS INT) AS cluster_id FROM asgf
            WHERE vec_id NOT IN (SELECT dup_id FROM dups)
        """)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning (operators/clustering.semantic_dedup): k-means
    cluster, then drop every vector cosine-similar (rounded ≥ 0.4) to a
    lower-id vector in its cluster. The oracle composes the unrolled
    k-means CTEs with a within-cluster pair anti-join."""
    return KM.semantic_dedup(
        _emb(spark, sf_dir), k=8, n_iter=3, threshold=0.4
    )


# sign-LSH ANN twin (bits=3, dim=64): md5-derived ±1 hyperplanes are
# embedded as literals; queries probe only their own bucket
@register(twin=f"""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            b AS (SELECT vec_id, v, {_lsh_bucket_sql(3, 64)} AS bucket FROM c),
            q AS (SELECT vec_id AS query_id, v AS qv, bucket
                  FROM b WHERE vec_id < 5),
            s AS (
              SELECT query_id, b.vec_id,
                round(list_dot_product(qv, v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                      6) AS cosine_sim
              FROM q JOIN b USING (bucket) WHERE b.vec_id <> query_id),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)::INT AS rank
                  FROM s)
            SELECT query_id, vec_id, cosine_sim, rank FROM r WHERE rank <= 5
        """)
def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN. Approximate relative to brute force (recall
    pinned in tests/test_similarity.py) but DETERMINISTIC given the pinned
    md5-derived hyperplanes — the DuckDB twin embeds the same ±1 literals
    and replays the bucket assignment and probe exactly (hash-matched)."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.lsh_topk(emb, queries_df, k=5, bits=3, dim=64, query_id_col="query_id")


def _ann_ranked_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The one scored-pair scan behind ann_recall_lsh and ann_ndcg: every
    (query, corpus vector) pair of the rotated query set (vec_id % 97 ==
    3) with its rounded cosine ``sim``, its multiprobe membership
    ``probed`` (bits=3 bucket equal to the query's or to one of its three
    1-bit neighbours), its exact rank ``re`` and its ANN rank ``ra``
    (bucket matches first, so both top-10 sets fall out of one shuffle).
    The bucket and cosine are unrolled SQL strings. Returns the ranked
    pairs and the persisted corpus and query projections, which the caller
    releases with ``finalize_lifecycle`` on its per-query result (an A/B
    at sf0.1 measured the persists paying there, against scanning the
    embeddings parquet for the cross join)."""
    emb = _emb(spark, sf_dir)
    c = emb.select(
        "vec_id",
        F.col("embedding").alias("cv"),
        SIM.signs_bucket_expr("embedding", bits=3, dim=64).alias("cb"),
    ).persist()
    q = emb.filter(F.col("vec_id") % 97 == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        SIM.signs_bucket_expr("embedding", bits=3, dim=64).alias("qb"),
    ).persist()
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(SIM.cosine_unrolled_expr("qv", "cv", 64), 6).alias("sim"),
            (
                (F.col("cb") == F.col("qb"))
                | (F.col("cb") == F.col("qb").bitwiseXOR(F.lit(1)))
                | (F.col("cb") == F.col("qb").bitwiseXOR(F.lit(2)))
                | (F.col("cb") == F.col("qb").bitwiseXOR(F.lit(4)))
            ).alias("probed"),
        )
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    w_ann = Window.partitionBy("query_id").orderBy(
        F.col("probed").desc(), F.col("sim").desc(), F.col("vec_id").asc()
    )
    ranked = pairs.withColumn("re", F.row_number().over(w_exact)).withColumn(
        "ra", F.row_number().over(w_ann)
    )
    return ranked, [c, q]


# recall@10 of the bits=3 multi_probe=3 sign-LSH ANN vs
# brute-force ground truth on the rotated query set
# (vec_id % 97 == 3): probe buckets are the query bucket + its
# three 1-bit XOR neighbors (distinct, so no candidate dedup is
# needed); same rounded-cosine tie rules both sides; floor 0.3
@register(twin=f"""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            b AS (SELECT vec_id, v, {_lsh_bucket_sql(3, 64)} AS bucket FROM c),
            q0 AS (SELECT vec_id AS query_id, v AS qv, bucket
                   FROM b WHERE vec_id % 97 = 3),
            q AS (SELECT query_id, qv,
                    unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                            xor(bucket, 4)]) AS bucket
                  FROM q0),
            ex AS (
              SELECT query_id, vec_id FROM (
                SELECT query_id, c.vec_id, row_number() OVER
                  (PARTITION BY query_id ORDER BY
                    round(list_dot_product(qv, v) /
                      (sqrt(list_dot_product(qv, qv)) *
                       sqrt(list_dot_product(v, v))), 6) DESC, c.vec_id) AS rank
                FROM q0 CROSS JOIN c WHERE c.vec_id <> query_id) t
              WHERE rank <= 10),
            ap AS (
              SELECT query_id, vec_id FROM (
                SELECT query_id, b.vec_id, row_number() OVER
                  (PARTITION BY query_id ORDER BY
                    round(list_dot_product(qv, b.v) /
                      (sqrt(list_dot_product(qv, qv)) *
                       sqrt(list_dot_product(b.v, b.v))), 6) DESC, b.vec_id)
                    AS rank
                FROM q JOIN b USING (bucket) WHERE b.vec_id <> query_id) t
              WHERE rank <= 10),
            exn AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
            hit AS (SELECT ap.query_id, count(*) AS n_hits
                    FROM ap JOIN ex USING (query_id, vec_id) GROUP BY 1)
            SELECT exn.query_id, exn.n_exact,
              coalesce(hit.n_hits, 0) AS n_hits,
              round(coalesce(hit.n_hits, 0) /
                    CAST(least(10, exn.n_exact) AS DOUBLE), 6) AS recall,
              round(coalesce(hit.n_hits, 0) /
                    CAST(least(10, exn.n_exact) AS DOUBLE), 6) >= 0.3
                AS meets_floor
            FROM exn LEFT JOIN hit USING (query_id)
        """)
def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY property row:
    recall@10 of the sign-LSH ANN against brute-force cosine ground truth,
    on a ROTATED query set (vec_id % 97 == 3 — disjoint from the vec_id<5
    set the deterministic lsh_topk entry pins), with the pinned floor
    emitted as a graded boolean.  A hash match proves the recall
    arithmetic; the `meets_floor` column makes ANN quality itself part of
    the graded surface instead of living only in pytest.

    Hyperparameters exercise the RECALL LEVER the plain lsh_topk entry
    doesn't: bits=3 with multi_probe=3 (all 1-bit-neighbor buckets → 4 of
    8 buckets probed).  Floor 0.3 = the worst per-query recall observed
    across sf0.001/0.01/0.1 (min 0.3 at sf0.1, 0.5 at the gate's sf0.01;
    mean ~0.63) — single-probe recall bottoms at 0.0, so the boolean
    demonstrably grades the multiprobe improvement, not vacuous truth.

    Formulation: ground truth and the ANN answer replay the SAME math the
    lsh_topk/cosine_topk operators run (those implementations hold their
    own green rows), but in ONE scored pair scan with two windows — the
    ann ranking orders bucket-matches first, so matched rows rank
    contiguously and both top-10 sets fall out of a single shuffle (the
    operator-composed version scanned and scored the corpus twice,
    ~2× this entry's cost at sf0.1)."""
    ranked, owned = _ann_ranked_pairs(spark, sf_dir)
    agg = ranked.groupBy("query_id").agg(
        F.sum(F.when(F.col("re") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(
            F.when(
                (F.col("re") <= 10) & F.col("probed") & (F.col("ra") <= 10), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_hits"),
    )
    recall = F.round(
        F.col("n_hits") / F.least(F.lit(10), F.col("n_exact")), 6
    )
    out = agg.select(
        "query_id", "n_exact", "n_hits", recall.alias("recall")
    ).withColumn("meets_floor", F.col("recall") >= 0.3)
    return finalize_lifecycle(out, owned)


# in-engine logistic quality classifier: 3 unrolled GD iterations
# with exact scaled-BIGINT gradient sums (see _logreg_sql)
@register(twin=_logreg_sql())
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine weak-label quality classifier
    (operators/classifier.quality_classifier_scores): logistic regression
    over deterministic text features (ln tokens, mean word length, English
    stopword fraction, punctuation fraction), trained with 3 full-batch GD
    steps whose gradients are quantized to scaled BIGINTs before summing —
    exact integer aggregation, bit-identical across partitionings — and
    scored back over the corpus.  Weak label: lang == 'en' (the stopword
    feature is genuinely predictive, so training demonstrably moves the
    weights).  The oracle unrolls the same three iterations as CTEs with
    identical integer update arithmetic."""
    from database2ogr_spark.operators.classifier import quality_classifier_scores

    docs = _t(spark, sf_dir, "documents")
    return quality_classifier_scores(docs, F.col("lang") == "en")


# confusable folding: both translate chains + the invisible strip
# replayed with the exact pinned character maps
@register(twin=(
            lambda frm, to, inv: f"""
            WITH base AS (
              SELECT doc_id, text AS orig,
                CASE WHEN doc_id % 11 = 4
                  THEN translate(text, 'aeopcxy', 'аеорсху')
                  ELSE text END AS text
              FROM documents),
            n AS (
              SELECT doc_id, text,
                regexp_replace(translate(text, '{frm}', '{to}'),
                               '{inv}', '', 'g') AS tn,
                regexp_replace(translate(orig, '{frm}', '{to}'),
                               '{inv}', '', 'g') AS onn
              FROM base)
            SELECT doc_id, doc_id % 11 = 4 AS was_disguised,
              CAST(length(text) -
                   length(translate(text, '{frm}', '')) AS INT)
                AS n_confusables,
              tn = onn AS recovered
            FROM n
        """
        )(
            CL._HOMOGLYPH_FROM.replace("'", "''"),
            CL._HOMOGLYPH_TO.replace("'", "''"),
            CL._INVISIBLE_RE,
        ))
def q_normalize_homoglyphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusable folding (cleaning.normalize_homoglyphs): docs with
    doc_id%11==4 are disguised by swapping Latin lowercase for Cyrillic
    lookalikes (the SEO-spam / dedup-dodging trick); the operator must
    fold them back so the normalized disguised text equals the normalized
    original (``recovered``), with the per-doc confusable count emitted.
    The oracle replays both translate chains character-for-character."""
    from database2ogr_spark.operators.cleaning import (
        _HOMOGLYPH_FROM,
        normalize_homoglyphs,
    )

    docs = _t(spark, sf_dir, "documents")
    disguise = F.when(
        F.col("doc_id") % 11 == 4,
        F.translate(F.col("text"), "aeopcxy", "аеорсху"),
    ).otherwise(F.col("text"))
    base = docs.select(
        "doc_id", F.col("text").alias("orig"), disguise.alias("text")
    )
    n1 = normalize_homoglyphs(base, "text", out_col="tn")
    both = normalize_homoglyphs(n1, "orig", out_col="on")
    return both.select(
        "doc_id",
        (F.col("doc_id") % 11 == 4).alias("was_disguised"),
        (
            F.length("text")
            - F.length(F.translate(F.col("text"), _HOMOGLYPH_FROM, ""))
        ).cast("int").alias("n_confusables"),
        (F.col("tn") == F.col("on")).alias("recovered"),
    )


# curriculum: per-source ntile tiers then global (bucket, hash,
# id) enumeration — the naive global-sort twin
@register(twin=f"""
            WITH t AS (
              SELECT doc_id, source, n_chars,
                CAST(ntile(10) OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS INT) AS bucket
              FROM documents)
            SELECT doc_id, source, n_chars, bucket,
              row_number() OVER (ORDER BY bucket ASC,
                {_h64_sql("CAST(doc_id AS VARCHAR)", 7)} ASC, doc_id ASC)
                - 1 AS position
            FROM t
        """)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum schedule (sampling.curriculum_order): per-source quality
    tiers visited best-first, hash-shuffled within each tier, enumerated
    dense with the funnel-free (bucket, subbucket) offset technique.  The
    oracle is the naive global-sort twin DuckDB can afford and Spark must
    not run."""
    from database2ogr_spark.operators.sampling import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    return curriculum_order(docs).select(
        "doc_id", "source", "n_chars", "bucket", "position"
    )


# trigram stupid backoff: counts from the doc_id%3!=0 train split,
# score chain replayed with the same fixed-order CASE arithmetic
@register(twin=f"""
            WITH wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            tr AS (SELECT * FROM wt WHERE doc_id % 3 <> 0),
            idx AS (SELECT unnest(range(1,
                      (SELECT max(len(ws)) FROM wt) + 1)) AS i),
            uni AS (SELECT ws[CAST(i AS INT)] AS w3,
                      count(*)::BIGINT AS c1
                    FROM tr CROSS JOIN idx WHERE i <= len(ws) GROUP BY 1),
            big AS (SELECT ws[CAST(i AS INT)] AS w2,
                      ws[CAST(i + 1 AS INT)] AS w3, count(*)::BIGINT AS c23
                    FROM tr CROSS JOIN idx WHERE i <= len(ws) - 1
                    GROUP BY 1, 2),
            bctx AS (SELECT w2, sum(c23) AS c2 FROM big GROUP BY 1),
            tri AS (SELECT ws[CAST(i AS INT)] AS w1,
                      ws[CAST(i + 1 AS INT)] AS w2,
                      ws[CAST(i + 2 AS INT)] AS w3, count(*)::BIGINT AS c3
                    FROM tr CROSS JOIN idx WHERE i <= len(ws) - 2
                    GROUP BY 1, 2, 3),
            tctx AS (SELECT w1, w2, sum(c3) AS c12 FROM tri GROUP BY 1, 2),
            nt AS (SELECT sum(c1)::BIGINT AS n_tok FROM uni),
            ev AS (SELECT doc_id, ws[CAST(i AS INT)] AS w1,
                     ws[CAST(i + 1 AS INT)] AS w2,
                     ws[CAST(i + 2 AS INT)] AS w3
                   FROM wt CROSS JOIN idx WHERE i <= len(ws) - 2),
            j AS (
              SELECT ev.doc_id, tri.c3, tctx.c12, big.c23, bctx.c2,
                     uni.c1, nt.n_tok
              FROM ev
              LEFT JOIN tri USING (w1, w2, w3)
              LEFT JOIN tctx USING (w1, w2)
              LEFT JOIN big USING (w2, w3)
              LEFT JOIN bctx USING (w2)
              LEFT JOIN uni USING (w3)
              CROSS JOIN nt)
            SELECT doc_id, count(*)::BIGINT AS n_trigrams,
              round(avg(ln(
                CASE WHEN c3 IS NOT NULL
                  THEN CAST(c3 AS DOUBLE) / CAST(c12 AS DOUBLE)
                ELSE 0.4 * (CASE WHEN c23 IS NOT NULL
                  THEN CAST(c23 AS DOUBLE) / CAST(c2 AS DOUBLE)
                ELSE 0.4 * (CASE WHEN c1 IS NOT NULL
                  THEN CAST(c1 AS DOUBLE) / CAST(n_tok AS DOUBLE)
                  ELSE 1.0 / CAST(n_tok AS DOUBLE) END) END) END)), 6)
                AS logprob
            FROM j GROUP BY 1
        """)
def q_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff LM score (tfidf.stupid_backoff_score,
    public Brants 2007) with a REAL train/score split — model fit on
    doc_id%3!=0, all docs scored, so held-out documents genuinely walk
    the α=0.4 backoff chain (trigram → bigram → unigram → OOV floor).
    Completes the unigram→bigram LM-filter ladder."""
    from database2ogr_spark.operators.tfidf import stupid_backoff_score

    docs = _t(spark, sf_dir, "documents")
    return stupid_backoff_score(docs, F.col("doc_id") % 3 != 0)


# BPE: six merge iterations unrolled as CTEs — same tie-break,
# same leftmost-non-overlapping replace application
@register(twin=_bpe_learn_sql(num_merges=6, min_freq=2))
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (operators/bpe.learn_bpe, the
    Sennrich-2016 tokenizer-training step): ONE corpus scan builds the
    word-frequency table; six merge iterations then run entirely on the
    distinct vocabulary (pair-count shuffle + 1-row argmax collect each).
    Tie-break (count desc, pair asc) and overlapping pair counts are
    pinned against a pure-Python reference in tests/test_bpe.py; the
    oracle unrolls the six iterations as CTEs with the same
    leftmost-non-overlapping ``replace`` application."""
    from database2ogr_spark.operators.bpe import learn_bpe

    return learn_bpe(
        _t(spark, sf_dir, "documents"), num_merges=6, min_word_freq=2
    )


@register(twin=_bpe_segment_sql(num_merges=6, min_freq=2))
def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus segmentation under the learned merges (operators/bpe.
    segment_corpus): merges from q_bpe_learn's configuration are applied
    to the DISTINCT vocabulary (vocab-bounded string work, no corpus-sized
    symbol churn), joined back by word; out-of-charset words count one OOV
    token. Emits per-doc (n_words, n_tokens, chars_per_token)."""
    from database2ogr_spark.operators.bpe import learn_bpe, segment_corpus

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe(docs, num_merges=6, min_word_freq=2)
    return segment_corpus(docs, merges)


# cross-doc duplicated-window fraction: same rolling-shingle ids
# as duplicate_spans, df counted over distinct (gram, doc)
@register(twin=f"""
            WITH sh AS ({_SHINGLES_SQL}),
            pt AS (
              SELECT doc_id, s[i] AS g
              FROM sh CROSS JOIN (
                SELECT unnest(range(1,
                  (SELECT max(len(s)) FROM ({_SHINGLES_SQL}) q) + 1)) AS i) ii
              WHERE i <= len(s)),
            gdf AS (
              SELECT g, count(*)::BIGINT AS gdf
              FROM (SELECT DISTINCT g, doc_id FROM pt) t GROUP BY g)
            SELECT doc_id, count(*)::BIGINT AS n_windows,
              sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END)::BIGINT
                AS n_dup_windows,
              round(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END)::DOUBLE
                    / count(*), 6) AS dup_window_frac,
              max(gdf)::BIGINT AS max_gram_docs
            FROM pt JOIN gdf USING (g)
            GROUP BY doc_id
        """)
def q_novelty_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-n-gram fraction (repetition.novelty_stats,
    the FineWeb-style across-corpus quality signal complementing the
    within-doc repetition_stats): per doc, the share of its 3-word windows
    occurring in ≥1 other document, plus the document-frequency of its
    hottest window. Linear posting-list counting — no pair join; the
    oracle replays the same window positions and df counts."""
    from database2ogr_spark.operators.repetition import novelty_stats

    return novelty_stats(_t(spark, sf_dir, "documents"), k_shingle=3)


# positional phrase retrieval: tokenization positions + the
# offset-subtract intersection replayed straight off the corpus
@register(twin=f"""
            WITH tk AS (
              SELECT doc_id, list_filter(string_split(
                regexp_replace(text, '[{_SPACE}]+', ' ', 'g'), ' '),
                x -> x <> '') AS w
              FROM documents),
            pos AS (
              SELECT doc_id, i - 1 AS pos, w[CAST(i AS INT)] AS token
              FROM tk CROSS JOIN (SELECT unnest(range(1,
                (SELECT max(len(w)) FROM tk) + 1)) AS i) ii
              WHERE i <= len(w)),
            off AS (SELECT * FROM (VALUES ('slow', 0), ('hash', 1),
                ('batch', 2)) AS t(token, soff)),
            st AS (SELECT doc_id, pos - soff AS start
                   FROM pos JOIN off USING (token)),
            m AS (SELECT doc_id, start FROM st
                  GROUP BY doc_id, start HAVING count(*) = 3)
            SELECT doc_id, count(*)::BIGINT AS n_matches,
                   CAST(min(start) AS INT) AS first_pos
            FROM m GROUP BY doc_id
        """)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase retrieval (search.phrase_search): the documents
    corpus is materialized as a token-sorted positional inverted index
    (token, doc, positions, tf) in a temp dir, then the consecutive-token
    phrase 'slow hash batch' is answered ENTIRELY from the index via the
    classic offset-subtract positional intersection — cost bounded by the
    query terms' posting sizes. The oracle replays tokenization positions
    and the offset arithmetic straight off the corpus."""
    import tempfile

    from database2ogr_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    out = _tmp("d2o_positional_idx")
    build_positional_index(_t(spark, sf_dir, "documents"), out)
    return phrase_search(spark, out, ["slow", "hash", "batch"])


# CDC merge: anti-join + union replayed
@register(twin="""
            WITH ch AS (
              SELECT doc_id, upper(text) AS text, lang, source, n_chars,
                CASE WHEN doc_id % 11 = 3 THEN 'delete'
                     ELSE 'upsert' END AS op
              FROM documents
              WHERE doc_id % 7 = 2 OR doc_id % 11 = 3),
            kept AS (
              SELECT doc_id, text, lang, source, n_chars FROM documents
              WHERE doc_id NOT IN (SELECT doc_id FROM ch)),
            snap AS (
              SELECT * FROM kept
              UNION ALL
              SELECT doc_id, text, lang, source, n_chars FROM ch
              WHERE op = 'upsert')
            SELECT doc_id, source, md5(text) AS text_md5, n_chars
            FROM snap
        """)
def q_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (diff.apply_changes — the MERGE half of the snapshot
    surface, dataset_diff being the audit half): a synthetic batch
    deletes doc_id%11==3 and upserts doc_id%7==2 with uppercased text;
    the result snapshot must keep untouched rows, apply the updates, and
    drop the deletes. One anti-join + union, no full outer join; rows
    hashed (md5 text) for the grade."""
    from database2ogr_spark.operators.diff import apply_changes

    docs = _t(spark, sf_dir, "documents")
    ch = docs.filter(
        (F.col("doc_id") % 7 == 2) | (F.col("doc_id") % 11 == 3)
    ).select(
        "doc_id",
        F.upper("text").alias("text"),
        "lang",
        "source",
        "n_chars",
        F.when(F.col("doc_id") % 11 == 3, "delete")
        .otherwise("upsert")
        .alias("op"),
    )
    snap = apply_changes(docs, ch)
    return snap.select(
        "doc_id", "source", F.md5("text").alias("text_md5"), "n_chars"
    )


# reliability bins over the unrolled logreg twin
@register(twin=f"""
            WITH sc AS ({_logreg_sql()})
            SELECT bin, round(bin / 100.0, 6) AS bin_lo,
              count(*)::BIGINT AS n, sum(label)::BIGINT AS n_pos,
              round(sum(label)::DOUBLE / count(*), 6) AS pos_rate,
              round(avg(prob), 6) AS mean_prob
            FROM (SELECT least(CAST(floor(prob * 100) AS INT), 99) AS bin,
                    label, prob FROM sc) t
            GROUP BY bin
        """)
def q_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the in-engine quality classifier
    (classifier.calibration_report over quality_classifier_scores with
    the graded lang=='en' weak label): fixed-width probability bins vs
    observed positive rate — arithmetic binning, one ≤10-key shuffle, no
    ntile sort. The oracle wraps the unrolled logreg twin with the same
    binning."""
    from database2ogr_spark.operators.classifier import (
        calibration_report,
        quality_classifier_scores,
    )

    scored = quality_classifier_scores(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    return calibration_report(scored, n_bins=100)


# ECE over the same bins as calibration_report (rounded per-bin
# rates, then the weighted abs-gap reduction)
@register(twin=f"""
            WITH sc AS ({_logreg_sql()}),
            rep AS (SELECT least(CAST(floor(prob * 100) AS INT), 99) AS bin,
                      count(*)::BIGINT AS n,
                      round(sum(label)::DOUBLE / count(*), 6) AS pos_rate,
                      round(avg(prob), 6) AS mean_prob
                    FROM sc GROUP BY 1),
            tot AS (SELECT sum(n)::BIGINT AS nn FROM rep)
            SELECT max(nn)::BIGINT AS n_rows,
              count(*)::BIGINT AS n_bins_used,
              round(sum((n::DOUBLE / nn) * abs(pos_rate - mean_prob)), 6)
                AS ece
            FROM rep CROSS JOIN tot
        """)
def q_classifier_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error of the quality classifier
    (classifier.expected_calibration_error over the same scored set and
    100-bin arithmetic binning as calibration_report) — the scalar
    release gate the diagram summarizes to; derives from the ≤100-row
    report, corpus scanned once."""
    from database2ogr_spark.operators.classifier import (
        expected_calibration_error,
        quality_classifier_scores,
    )

    scored = quality_classifier_scores(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    return expected_calibration_error(scored, n_bins=100)


# per-column profile: one SELECT per column, unioned
@register(twin=" UNION ALL ".join(
            f"""
            SELECT '{c}' AS "column", count(*)::BIGINT AS n_rows,
              sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT
                AS n_nulls,
              count(DISTINCT {c})::BIGINT AS n_distinct,
              CAST(min({c}) AS VARCHAR) AS min_value,
              CAST(max({c}) AS VARCHAR) AS max_value
            FROM documents"""
            for c in ("doc_id", "text", "lang", "source", "n_chars")
        ))
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling report (validate.profile_columns — the discovery
    half of the data-quality surface): per-column row/null/distinct counts
    + min/max strings over the documents table, ONE aggregation pass.
    Graded with exact_distinct=True so the DuckDB twin reproduces counts
    bit-for-bit; the default approx tier is the 100 TB path (HLL, plain
    partial-agg plan)."""
    from database2ogr_spark.operators.validate import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
        exact_distinct=True,
    )


# C4 blocklist rule: token join + left-join coalesce replayed
@register(twin=f"""
            WITH bl AS (SELECT unnest(['slow', 'hash', 'customer'])
                          AS term),
            tk AS (SELECT doc_id, unnest({_WORDS_SQL}) AS term
                   FROM documents),
            h AS (SELECT doc_id, count(*)::BIGINT AS n_hits,
                    count(DISTINCT term)::BIGINT AS n_distinct_terms
                  FROM tk JOIN bl USING (term) GROUP BY doc_id)
            SELECT d.doc_id,
              coalesce(n_hits, 0)::BIGINT AS n_hits,
              coalesce(n_distinct_terms, 0)::BIGINT AS n_distinct_terms,
              coalesce(n_hits, 0) > 2 AS blocked
            FROM documents d LEFT JOIN h USING (doc_id)
        """)
def q_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist screening (cleaning.blocklist_screen): whole-
    token hits against a broadcast term table, per-doc counts, blocked =
    n_hits > 2 (exercising the threshold, not just any-hit). The oracle
    replays tokenization, the term join, and the left-join coalesce."""
    from database2ogr_spark.operators.cleaning import blocklist_screen

    return blocklist_screen(
        _t(spark, sf_dir, "documents"),
        ["slow", "hash", "customer"],
        max_hits=2,
    )


# subword unit frequencies: the same chain, units exploded
# weighted by word frequency, build_vocab-style ranked ids
@register(twin=f"""
            WITH {_bpe_chain_sql(6, 2)},
            fin AS (SELECT freq,
                list_filter(string_split(trim(sym), ' '), x -> x <> '')
                  AS toks FROM s6),
            u AS (SELECT toks[CAST(i AS INT)] AS subword,
                    sum(freq)::BIGINT AS count
                  FROM fin CROSS JOIN (SELECT unnest(range(1,
                    (SELECT coalesce(max(len(toks)), 1) + 1 FROM fin)))
                    AS i) ii
                  WHERE i <= len(toks) GROUP BY 1)
            SELECT subword,
              CAST(row_number() OVER (ORDER BY count DESC, subword) - 1
                AS INT) AS subword_id,
              count
            FROM u
        """)
def q_bpe_subword_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shippable tokenizer artifact (bpe.subword_vocab): corpus
    frequency of every subword unit under the 6 learned merges, ids
    ranked (count desc, subword asc) like build_vocab. Still
    vocabulary-bounded — the corpus is only ever read for word
    frequencies; the oracle extends the unrolled merge chain with a
    freq-weighted unit explode."""
    from database2ogr_spark.operators.bpe import learn_bpe, subword_vocab

    docs = _t(spark, sf_dir, "documents")
    merges = learn_bpe(docs, num_merges=6, min_word_freq=2)
    return subword_vocab(docs, merges, min_word_freq=2)


# length-bucketed batching: subbucket slice is monotone in the
# hash, so the naive per-bucket (hash, id) sort is the same order
@register(twin=f"""
            WITH d AS (
              SELECT doc_id, len({_WORDS_SQL}) AS n_tokens FROM documents
              WHERE text IS NOT NULL),
            p AS (
              SELECT doc_id, n_tokens,
                CAST(floor(n_tokens / 16) AS INT) AS lb,
                row_number() OVER (PARTITION BY floor(n_tokens / 16)
                  ORDER BY {_h64_sql("CAST(doc_id AS VARCHAR)", 11)},
                           doc_id) - 1 AS pos
              FROM d)
            SELECT lb AS length_bucket,
              CAST(floor(pos / 16) AS BIGINT) AS batch_index,
              count(*)::BIGINT AS n_docs,
              CAST(max(n_tokens) AS INT) AS batch_max_tokens,
              sum(n_tokens)::BIGINT AS total_tokens,
              round(1.0 - sum(n_tokens)::DOUBLE
                    / (max(n_tokens) * count(*)), 6) AS pad_frac
            FROM p GROUP BY lb, floor(pos / 16)
        """)
def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficient batch construction (sampling.
    length_bucketed_batches): fixed-width length buckets, deterministic
    hash shuffle within bucket, consecutive cuts of 16 into batches, and
    the per-batch padding-efficiency report. Funnel-free per-bucket
    enumeration (the training_order technique one level down); the oracle
    exploits the subbucket slice's monotonicity to replay with a plain
    (hash, id) sort."""
    from database2ogr_spark.operators.sampling import length_bucketed_batches

    return length_bucketed_batches(
        _t(spark, sf_dir, "documents"), batch_size=16, bucket_width=16
    )


# PMI collocations: exact counts, fixed-order probability ratio
# rounded 6, min_count 5, top-100 under a total ordering
@register(twin=f"""
            WITH wt AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
            uni AS (SELECT unnest(ws) AS w FROM wt),
            ucnt AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1),
            nt AS (SELECT count(*)::BIGINT AS n_tok FROM uni),
            bp AS (
              SELECT ws[CAST(i AS INT)] AS token_a,
                     ws[CAST(i + 1 AS INT)] AS token_b
              FROM wt CROSS JOIN
                (SELECT unnest(range(1, (SELECT max(len(ws)) FROM wt) + 1))
                   AS i) ii
              WHERE i <= len(ws) - 1),
            bcnt AS (SELECT token_a, token_b, count(*)::BIGINT AS n_pair
                     FROM bp GROUP BY 1, 2),
            nb AS (SELECT count(*)::BIGINT AS n_big FROM bp),
            j AS (
              SELECT b.token_a, b.token_b, b.n_pair, ua.c AS c_a,
                     ub.c AS c_b, nt.n_tok, nb.n_big
              FROM bcnt b
              JOIN ucnt ua ON b.token_a = ua.w
              JOIN ucnt ub ON b.token_b = ub.w
              CROSS JOIN nt CROSS JOIN nb
              WHERE b.n_pair >= 5)
            SELECT token_a, token_b, n_pair,
              round(ln((CAST(n_pair AS DOUBLE) / CAST(n_big AS DOUBLE)) /
                ((CAST(c_a AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
                 (CAST(c_b AS DOUBLE) / CAST(n_tok AS DOUBLE)))), 6) AS pmi
            FROM j
            ORDER BY pmi DESC, token_a, token_b
            LIMIT 100
        """)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token collocations by PMI (operators/collocations.py):
    exact unigram/bigram counts, fixed-order IEEE probability ratio
    rounded 6, min_count 5, top-100 with (a, b) tie-break — the oracle
    replays the exact top-N set."""
    from database2ogr_spark.operators.collocations import pmi_bigrams

    return pmi_bigrams(_t(spark, sf_dir, "documents"), min_count=5, top_n=100)


# MaxSim: 4×16-dim token slices, cosines scaled to BIGINT before
# max/sum (exact integer scoring), per-query top-5
@register(twin="""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            ii AS (SELECT unnest(range(0, 4)) AS i),
            ct AS (SELECT vec_id, i AS ctok,
                     v[(16*i + 1):(16*i + 16)] AS cv
                   FROM c CROSS JOIN ii),
            qt AS (SELECT vec_id AS query_id, i AS qtok,
                     v[(16*i + 1):(16*i + 16)] AS qv
                   FROM c CROSS JOIN ii
                   WHERE vec_id % 89 = 7),
            m AS (
              SELECT qt.query_id, ct.vec_id, qt.qtok,
                max(CAST(round(list_dot_product(ct.cv, qt.qv) /
                      (sqrt(list_dot_product(ct.cv, ct.cv)) *
                       sqrt(list_dot_product(qt.qv, qt.qv)))
                      * 1000000.0) AS BIGINT)) AS ms
              FROM ct CROSS JOIN qt
              WHERE ct.vec_id <> qt.query_id
              GROUP BY 1, 2, 3),
            -- CAST: sum(BIGINT) is HUGEINT in DuckDB → float64 under the
            -- driver's pandas canonicalizer → r5 hash-FAIL vs Spark bigint
            s AS (SELECT query_id, vec_id,
                    CAST(sum(ms) AS BIGINT) AS score_x1e6
                  FROM m GROUP BY 1, 2),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY score_x1e6 DESC, vec_id)::INT AS rank
                  FROM s)
            SELECT query_id, vec_id, score_x1e6, rank FROM r WHERE rank <= 5
        """)
def q_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim top-k (similarity.late_interaction_topk):
    embeddings reshaped to 4×16-dim token vectors, score = Σ_qtok max_dtok
    cos, quantized to scaled BIGINTs before max/sum so the aggregation is
    exact integer arithmetic.  Query set vec_id % 89 == 7 (disjoint from
    the cosine_topk and ann_recall sets)."""
    from database2ogr_spark.operators.similarity import late_interaction_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") % 89 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return late_interaction_topk(emb, queries_df, k=5)


# count-min cells replayed per depth row (seed 41+d, width 1024);
# merge_exact is literal TRUE — cell-wise BIGINT sums are
# associative, so the merged sketch is identical by construction
@register(twin=(
            lambda h: f"""
            WITH t AS (
              SELECT token FROM (
                SELECT unnest(string_split(text, ' ')) AS token
                FROM documents) s
              WHERE token <> ''),
            cells AS (
              {" UNION ALL ".join(
                  f"SELECT {d} AS row, {h(d)} % 1024 AS col, "
                  f"count(*)::BIGINT AS cnt FROM t GROUP BY 2"
                  for d in range(3)
              )}),
            exact AS (SELECT token, count(*)::BIGINT AS n_exact
                      FROM t GROUP BY 1),
            probes AS (
              {" UNION ALL ".join(
                  f"SELECT token, {d} AS row, {h(d)} % 1024 AS col FROM exact"
                  for d in range(3)
              )}),
            est AS (
              SELECT p.token, min(coalesce(c.cnt, 0)) AS n_est
              FROM probes p LEFT JOIN cells c USING (row, col)
              GROUP BY 1)
            SELECT e.token, e.n_exact, est.n_est,
              est.n_est >= e.n_exact AS one_sided,
              TRUE AS merge_exact
            FROM exact e JOIN est USING (token)
        """
        )(lambda d: _h64_sql("token", 41 + d)))
def q_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch property row (operators/sketches.py): build the
    (row, col, cnt) cell table over token occurrences, point-query every
    distinct token, and grade the sketch's two contracts per token —
    ``one_sided`` (est ≥ exact, always) and ``merge_exact`` (two
    half-corpus sketches cell-summed answer identically to the one-pass
    sketch — integer associativity, the mergeability that lets shard/day
    sketches roll up without rescanning raw data).  Cell positions are
    stable_hash64 with per-row seeds, so the oracle replays every cell,
    every min, and both booleans exactly."""
    from database2ogr_spark.operators.sketches import (
        countmin_build,
        countmin_merge,
        countmin_query,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # ONE corpus explode into a (parity, token) count table (vocab × 2
    # rows); the direct sketch, both half sketches, the point-query item
    # list and the exact counts all derive from it via countmin_build's
    # weight_col (summing counted increments into cells is identical to
    # counting occurrences — integer associativity, the very property
    # this entry grades), so the plan never replays the corpus explode
    # per consumer. parity keeps doc_id % 2 verbatim so NULL/negative ids
    # land exactly where per-half filters on doc_id would put them (NULL
    # parity: in `direct`, in neither half).
    # NOT persisted: the parity filters sit ABOVE the aggregation, so
    # every consumer replays the IDENTICAL explode+agg subtree under the
    # same Exchange — AQE exchange/stage reuse executes it once (the
    # SCALE.md persist rule), and a persist would also need an
    # eager-checkpoint exit for the leak-free contract (measured: that
    # checkpoint job costs ~0.3–0.5 s per bench pass).
    tokc = toks.groupBy((F.col("doc_id") % 2).alias("par"), "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    direct = countmin_build(tokc, "token", weight_col="c")
    merged = countmin_merge(
        countmin_build(tokc.filter(F.col("par") == 0), "token", weight_col="c"),
        countmin_build(tokc.filter(F.col("par") == 1), "token", weight_col="c"),
    )
    items = tokc.select("token").distinct()
    est_d = countmin_query(direct, items, "token").withColumnRenamed(
        "est", "n_est"
    )
    est_m = countmin_query(merged, items, "token").withColumnRenamed(
        "est", "est_m"
    )
    exact = tokc.groupBy("token").agg(
        F.sum("c").cast("bigint").alias("n_exact")
    )
    out = (
        exact.join(est_d, "token")
        .join(est_m, "token")
        .select(
            "token",
            "n_exact",
            "n_est",
            (F.col("n_est") >= F.col("n_exact")).alias("one_sided"),
            (F.col("est_m") == F.col("n_est")).alias("merge_exact"),
        )
    )
    # leak-free by construction: with no operator-owned
    # persist there is nothing to release — the id-set leak test in
    # tests/test_sketches.py pins this.
    return out


# A-ES weighted sample: key = round(ln((h+1)/2^60) / w, 9),
# top-20 per source with id tie-break
@register(twin=f"""
            WITH s AS (
              SELECT doc_id, source, n_chars,
                round(ln(({_h64_sql("CAST(doc_id AS VARCHAR)", 13)} + 1)
                         / 1152921504606846976.0)
                      / CAST(n_chars AS DOUBLE), 9) AS wkey
              FROM documents WHERE n_chars > 0)
            SELECT doc_id, source, n_chars, wkey FROM (
              SELECT s.*, row_number() OVER
                (PARTITION BY source ORDER BY wkey DESC, doc_id ASC) AS rn
              FROM s) t
            WHERE rn <= 20
        """)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (sampling.weighted_sample, public Efraimidis-Spirakis A-ES): top-20
    docs per source with probability ∝ n_chars, selection key
    ln(u)/w from the stable id hash (no rand()), rounded 9 with id
    tie-break so the oracle replays the exact pick."""
    from database2ogr_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        docs, "n_chars", 20, group_col="source", key_col="wkey"
    )
    return out.select("doc_id", "source", "n_chars", "wkey")


# Morton key: min/max linear quantization to 16 bits per dim +
# unrolled integer bit interleave (bit b of dim i → b*2+i)
@register(twin=(
            lambda interleave: f"""
            WITH b AS (
              SELECT min(CAST(n_chars AS DOUBLE)) AS lo0,
                     max(CAST(n_chars AS DOUBLE)) AS hi0,
                     min(CAST(doc_id AS DOUBLE)) AS lo1,
                     max(CAST(doc_id AS DOUBLE)) AS hi1
              FROM documents),
            q AS (
              SELECT doc_id,
                coalesce(least(greatest(CAST(floor(
                  CASE WHEN hi0 - lo0 > 0
                    THEN (CAST(n_chars AS DOUBLE) - lo0) / (hi0 - lo0)
                    ELSE 0.0 END * 65535.0) AS BIGINT), 0), 65535), 0) AS q0,
                coalesce(least(greatest(CAST(floor(
                  CASE WHEN hi1 - lo1 > 0
                    THEN (CAST(doc_id AS DOUBLE) - lo1) / (hi1 - lo1)
                    ELSE 0.0 END * 65535.0) AS BIGINT), 0), 65535), 0) AS q1
              FROM documents CROSS JOIN b)
            SELECT doc_id, CAST(0 AS BIGINT){interleave} AS zkey FROM q
        """
        )(
            "".join(
                f" + (((q{i} >> {bit}) & 1) << {bit * 2 + i})"
                for bit in range(16)
                for i in range(2)
            )
        ))
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key (operators/zorder.zorder_key) over
    (n_chars, doc_id), 16 bits per dimension — the multi-column layout
    technique (public Delta Lake OPTIMIZE ZORDER shape): min/max linear
    quantization (one 4-double aggregate, broadcast) + pure integer bit
    interleaving, so the oracle replays the key exactly.  The layout step
    itself (repartitionByRange+sort) is pinned by pytest locality tests,
    not the row oracle (sampled range boundaries are not deterministic)."""
    from database2ogr_spark.operators.zorder import zorder_key

    docs = _t(spark, sf_dir, "documents")
    return zorder_key(docs, ["n_chars", "doc_id"], bits=16).select(
        "doc_id", "zkey"
    )


# IVF ANN twin (n_centroids=16, n_probe=4): centroids are the 16
# corpus vectors with the lowest stable_hash64(vec_id, seed 11),
# L2-normalized; corpus rows join their argmax list, queries probe
# their top-4 lists; final cosine is over the ORIGINAL vectors
@register(twin=f"""
            WITH c AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            n AS (SELECT vec_id, v,
                    list_transform(v, x -> x /
                      greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS vn
                  FROM c),
            cent AS (
              SELECT cidx, vn AS cn FROM (
                SELECT vn, row_number() OVER
                  (ORDER BY {_h64_sql("CAST(vec_id AS VARCHAR)", 11)}) - 1 AS cidx
                FROM n) t
              WHERE cidx < 16),
            asg AS (
              SELECT vec_id, v, cidx FROM (
                SELECT n.vec_id, n.v, cent.cidx, row_number() OVER
                  (PARTITION BY n.vec_id
                   ORDER BY list_dot_product(n.vn, cent.cn) DESC, cent.cidx) AS rn
                FROM n CROSS JOIN cent) t
              WHERE rn = 1),
            ql AS (
              SELECT query_id, qv, cidx FROM (
                SELECT n.vec_id AS query_id, n.v AS qv, cent.cidx, row_number() OVER
                  (PARTITION BY n.vec_id
                   ORDER BY list_dot_product(n.vn, cent.cn) DESC, cent.cidx) AS rn
                FROM n CROSS JOIN cent WHERE n.vec_id < 5) t
              WHERE rn <= 4),
            s AS (
              SELECT query_id, a.vec_id,
                round(list_dot_product(qv, a.v) /
                      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(a.v, a.v))),
                      6) AS cosine_sim
              FROM ql JOIN asg a USING (cidx) WHERE a.vec_id <> query_id),
            r AS (SELECT *, row_number() OVER
                    (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)::INT AS rank
                  FROM s)
            SELECT query_id, vec_id, cosine_sim, rank FROM r WHERE rank <= 5
        """)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN. Approximate relative to brute force (recall
    asserted in tests/test_similarity.py) but deterministic given the
    hash-seeded centroids — the DuckDB twin re-derives the 16 centroids
    (lowest stable_hash64(vec_id, seed 11)), the argmax list assignment,
    and the 4-list probe (hash-matched)."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(
        emb, queries_df, k=5, n_centroids=16, n_probe=4, query_id_col="query_id"
    )


# the persistent-index query path shares ivf_topk's centroid pick and
# assignment kernel, so the SAME twin grades it — cross-implementation
# hash equivalence, like the near_dup_groups_star/_exact pair
@register(twin=_REGISTRY["ivf_topk"].twin)
def q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent-IVF query path (similarity.build_ivf_index +
    ivf_index_topk): same hyperparameters as q_ivf_topk, graded by the SAME
    DuckDB twin — the index dataset must change nothing about results, only
    where assignment work happens (build once, partition-pruned probes)."""
    from database2ogr_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
    )

    emb = _emb(spark, sf_dir)
    idx = _tmp("d2o_ivf_index")
    build_ivf_index(emb, idx, n_centroids=16)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_index_topk(spark, idx, queries_df, k=5, n_probe=4)


@register(twin="""
            SELECT l.user_id,
              l.event_id AS left_id, r.event_id AS right_id,
              CAST(floor(epoch(l.ts)) AS BIGINT) AS left_ts_epoch,
              CAST(floor(epoch(r.ts)) AS BIGINT) AS right_ts_epoch,
              CAST(floor(epoch(r.ts)) AS BIGINT) - CAST(floor(epoch(l.ts)) AS BIGINT)
                AS lag_seconds
            FROM events l JOIN events r
              ON l.user_id = r.user_id
             AND l.event_type = 'click' AND r.event_type = 'purchase'
             AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
        """, time_domain=True)
def q_events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin: click→purchase attribution
    per user within 30 minutes (streaming/events.attribution_join; the
    streaming path with watermarked state is tested in
    tests/test_streaming.py)."""
    from database2ogr_spark.streaming.events import attribution_join

    j = attribution_join(read_events(spark, os.path.join(sf_dir, "events.parquet")))
    return j.select(
        "user_id",
        "left_id",
        "right_id",
        F.unix_timestamp("left_ts").alias("left_ts_epoch"),
        F.unix_timestamp("right_ts").alias("right_ts_epoch"),
        "lag_seconds",
    )


@register(twin="""
            SELECT CAST(floor(epoch(time_bucket(INTERVAL '5 minutes', ts))) AS BIGINT)
                     AS window_start_epoch,
                   event_type, count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        """, time_domain=True)
def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming path)."""
    w = windowed_event_counts(read_events(spark, os.path.join(sf_dir, "events.parquet")))
    return w.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(twin="""
            WITH o AS (SELECT user_id, ts,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
                       FROM events WHERE ts IS NOT NULL),
            f AS (SELECT user_id, ts,
                    CASE WHEN pts IS NULL OR ts - pts >= INTERVAL '30 minutes'
                         THEN 1 ELSE 0 END AS brk
                  FROM o),
            g AS (SELECT user_id, ts,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
                  FROM f)
            SELECT user_id,
              CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
              CAST(floor(epoch(max(ts) + INTERVAL '30 minutes')) AS BIGINT)
                AS session_end_epoch,
              count(*) AS n_events
            FROM g GROUP BY user_id, sid
        """, time_domain=True)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 30m), batch twin of the streaming path."""
    s = sessionize(read_events(spark, os.path.join(sf_dir, "events.parquet")))
    return s.select(
        "user_id",
        F.unix_timestamp("session_start").alias("session_start_epoch"),
        F.unix_timestamp("session_end").alias("session_end_epoch"),
        "n_events",
    )


@register(
    twin="SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k "
    "FROM events"
)
def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 — JSON field extraction from the props column."""
    return read_events(spark, os.path.join(sf_dir, "events.parquet")).select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


# batch twin of the GRADED STREAMING run (q_streaming_dedup):
# first-wins dedup projected to its key columns, with a watermark
# delay wider than the data's time span, is exactly DISTINCT over
# the domain-filtered events
@register(twin="""
            SELECT DISTINCT user_id, event_type FROM events
        """, time_domain=True)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED STREAMING EXECUTION: runs the REAL
    Structured Streaming path — readStream over the events parquet →
    streaming.events.streaming_dedup (dropDuplicatesWithinWatermark on
    (user_id, event_type)) → memory sink drained with
    processAllAvailable — and returns the sink table. Determinism comes
    from the graded surface, not from luck: only the dedup KEY columns
    are projected (identical across duplicates, so WHICH duplicate won
    cannot show), and the watermark delay EXCEEDS the dataset's time
    span BY CONSTRUCTION (a fixed delay would be an unchecked assumption
    about the corpus — the time domain admits [1970, 2100), so a wider
    corpus would evict state mid-run and break oracle parity
    data-dependently; the delay is derived from the corpus span via a
    batch min/max probe, floored at 3650 days), so no
    key's state is evicted mid-run and every distinct key emits exactly
    once regardless of micro-batch boundaries — first-wins dedup over
    the full stream ≡ DISTINCT, the batch twin. The bounded-state
    eviction behavior the wide watermark turns off here is graded by
    the streaming_dedup_evicting entry (deterministic 3-batch replay)
    and pinned by tests/test_streaming.py. Event-time domain guard
    applied pre-dedup exactly like the other event-time entries
    (within_time_domain; twin reads through the domain view)."""
    from database2ogr_spark.operators.cleaning import within_time_domain
    from database2ogr_spark.streaming.events import (
        read_events,
        read_events_stream,
        streaming_dedup,
    )

    sink = "streaming_dedup_sink"
    spark.catalog.dropTempView(sink)  # stale sink from a prior call
    # derive a span-exceeding watermark delay from the corpus (batch
    # min/max over parquet stats — cheap, and the 1-row collect is bounded)
    span_row = (
        within_time_domain(read_events(spark, os.path.join(sf_dir, "events.parquet")))
        .agg(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("s")
        )
        .collect()[0]
    )
    span_days = int((span_row["s"] or 0) // 86400) + 2
    # glob form: the file stream source requires its basePath to be a
    # directory, and a glob'd leaf makes basePath resolve to sf_dir
    stream = read_events_stream(spark, os.path.join(sf_dir, "events*.parquet"))
    q = (
        streaming_dedup(
            within_time_domain(stream),
            ["user_id", "event_type"],
            watermark=f"{max(3650, span_days)} days",
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(sink).select("user_id", "event_type")


# twin of the EVICTING stream (q_streaming_dedup_evicting): encodes
# the empirically-pinned dropDuplicatesWithinWatermark state
# machine for the entry's 3-batch hour-grid replay. te = epoch of
# the hour-truncated event time; c1/c2 = tertile cuts (integer hour
# arithmetic, identical to the entry's Python); δ = 100 min so
# 2δ = 12000 s is never ≡ 0 mod 3600 (no boundary ties). Emission
# rule (see the entry docstring for the probe that pinned it):
# batch-1 keys always emit; batch-2 keys emit iff unseen in batch 1
# (nothing is evicted before batch 2 — the watermark lags a batch);
# batch-3 keys emit iff their batch-1 state was evicted at end of
# batch 2 (t1 < max(staged b1 ts) − 2δ) or they were never armed
# (absent from BOTH earlier batches). Membership probes are
# NULL-SAFE (IS NOT DISTINCT FROM, not USING): the state store
# keys on the UnsafeRow of the dedup columns, so a NULL user_id /
# event_type matches ITSELF across batches — plain SQL equality
# would let every null-key emission re-arm each batch (caught by
# check_oracle.py --perturb nulls).
@register(twin="""
            WITH k AS (
              SELECT user_id, event_type,
                     CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS te
              FROM events
            ),
            b AS (SELECT min(te) AS mn, max(te) AS mx FROM k),
            c AS (SELECT mn + ((mx - mn) // 10800) * 3600 AS c1,
                         mn + ((2 * (mx - mn)) // 10800) * 3600 AS c2
                  FROM b),
            b1 AS (SELECT user_id, event_type, min(te) AS t1
                   FROM k, c WHERE te < c1 GROUP BY user_id, event_type),
            m1 AS (SELECT max(t1) AS m FROM b1),
            b2 AS (SELECT DISTINCT user_id, event_type
                   FROM k, c WHERE te >= c1 AND te < c2),
            b3 AS (SELECT DISTINCT user_id, event_type
                   FROM k, c WHERE te >= c2)
            SELECT user_id, event_type FROM b1
            UNION ALL
            SELECT b2.user_id, b2.event_type
            FROM b2
            WHERE NOT EXISTS (
                    SELECT 1 FROM b1
                    WHERE b1.user_id IS NOT DISTINCT FROM b2.user_id
                      AND b1.event_type IS NOT DISTINCT FROM b2.event_type)
            UNION ALL
            SELECT b3.user_id, b3.event_type
            FROM b3
            LEFT JOIN b1
              ON b1.user_id IS NOT DISTINCT FROM b3.user_id
             AND b1.event_type IS NOT DISTINCT FROM b3.event_type
            CROSS JOIN m1
            WHERE (b1.t1 IS NOT NULL AND b1.t1 < m1.m - 12000)
               OR (b1.t1 IS NULL AND NOT EXISTS (
                     SELECT 1 FROM b2
                     WHERE b2.user_id IS NOT DISTINCT FROM b3.user_id
                       AND b2.event_type IS NOT DISTINCT FROM b3.event_type))
        """, time_domain=True)
def q_streaming_dedup_evicting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED STREAMING EVICTION: the bounded-state path
    of ``dropDuplicatesWithinWatermark`` — the behavior the wide-watermark
    ``streaming_dedup`` entry deliberately turns off — executed
    deterministically and hash-checked against a DuckDB twin that encodes
    the watermark-eviction rule.

    Determinism comes from three constructions, each load-bearing:
    (1) micro-batch boundaries are pinned by ``stage_replay`` — the
    domain-filtered events are split into THREE time-ordered batches at
    hour-grid tertile cuts and replayed one-file-per-trigger, so which
    rows share a batch is data-defined, not scheduler-defined;
    (2) event times are hour-truncated and each key is collapsed to its
    MIN event time per batch, so the state row a key arms is unique (the
    within-batch "first seen" row would otherwise be partition-order
    nondeterministic); (3) the delay δ=100 min keeps every comparison off
    the hour grid (2δ = 200 min ≢ 0 mod 60 min), so no < vs ≤ boundary
    ambiguity exists anywhere.

    The eviction rule the twin encodes was pinned EMPIRICALLY (4-batch
    probe, regression test test_streaming.py::
    test_dedup_eviction_semantics_lagging_cleanup): state probes check
    EXISTENCE only (a logically-expired entry still drops duplicates),
    duplicates never refresh stored expiry, and physical removal runs at
    end-of-batch j with the LAGGING watermark max_ts(batches ≤ j−1) − δ.
    Hence, with M1 = max staged batch-1 event time: batch-1 keys emit
    once; batch-2 keys emit iff unseen in batch 1 (watermark still epoch
    during batch 2 — nothing evicted yet); batch-3 keys emit iff their
    batch-1 state was evicted at end of batch 2 (first_ts < M1 − 2δ) or
    they were never armed (absent from batch 1 AND batch 2). Output is
    the (user_id, event_type) emission multiset — a key evicted and
    re-armed appears twice, which IS the documented bounded-state trade."""
    import shutil
    import tempfile

    from database2ogr_spark.operators.cleaning import within_time_domain
    from database2ogr_spark.streaming.events import (
        read_events,
        stage_replay,
        streaming_dedup,
    )

    sink = "streaming_dedup_evicting_sink"
    spark.catalog.dropTempView(sink)
    keyed = (
        within_time_domain(read_events(spark, os.path.join(sf_dir, "events.parquet")))
        .select(
            "user_id",
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("tsh"),
        )
    )
    b = keyed.agg(
        F.unix_timestamp(F.min("tsh")).alias("mn"),
        F.unix_timestamp(F.max("tsh")).alias("mx"),
    ).collect()[0]
    if b["mn"] is None:  # empty-domain corpus (dirty-probe tier): no stream
        return spark.createDataFrame([], "user_id bigint, event_type string")
    mn, mx = int(b["mn"]), int(b["mx"])
    span = mx - mn
    c1 = mn + (span // 10800) * 3600  # tertile cuts on the hour grid
    c2 = mn + ((2 * span) // 10800) * 3600
    te = F.unix_timestamp(F.col("tsh"))

    def _batch(lo: int | None, hi: int | None) -> DataFrame:
        src = keyed
        if lo is not None:
            src = src.filter(te >= F.lit(lo))
        if hi is not None:
            src = src.filter(te < F.lit(hi))
        return src.groupBy("user_id", "event_type").agg(F.min("tsh").alias("ts"))

    tmp = tempfile.mkdtemp(prefix="sdedup_evict_")
    try:
        glob, _n = stage_replay(
            [_batch(None, c1), _batch(c1, c2), _batch(c2, None)], tmp
        )
        stream = (
            spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )
        q = (
            streaming_dedup(stream, ["user_id", "event_type"], watermark="100 minutes")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(sink).select("user_id", "event_type")


# ---------------------------------------------------------------------------
# queries — multimodal plumbing + ATES reference pipeline


# stub-tier decode arithmetic: feature[i] = md5(utf8(text)) byte i
# / 256 — exact in float32/double, replayed from md5 hex; long
# form (one row per component) mirrors the graded posexplode
@register(twin="""
            SELECT doc_id AS media_id, 8 AS feat_dim,
              CAST(i - 1 AS INT) AS dim,
              ('0x' || substr(md5(text), CAST(2*i-1 AS INT), 2))::INT
                / 256.0 AS value
            FROM documents CROSS JOIN (SELECT unnest(range(1, 9)) AS i) ii
            WHERE text IS NOT NULL
        """)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded against its twin by pinning the deterministic stub
    tier (``tier="stub"`` — feature[i] = md5(payload).byte[i]/256,
    binaryops._decode_stub), so the oracle holds in EVERY environment:
    Pillow accepts text-shaped formats (PPM/PBM magic), so "text payloads
    never parse" cannot be assumed and the graded entry does not rely on
    it. The PIL tier stays covered by the golden-PNG seam test. Each
    byte/256 value is exact in float32 and double, so the oracle replays
    the whole feature vector from md5 hex arithmetic — a full hash row,
    honestly scoped to the stub tier.

    GRADED SURFACE IS LONG FORM: a ``feature array<double>`` column errs
    the driver canonicalizer (lists are unhashable under pandas sort),
    so the graded entry posexplodes to one
    scalar ``(media_id, feat_dim, dim, value)`` row per component — the
    full vector is still hash-checked, component by component."""
    from database2ogr_spark.multimodal.binaryops import decode_features

    # media contract: a NULL payload is undecodable (NULL-text docs out)
    media = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    f = decode_features(media, tier="stub")
    return f.select(
        "media_id",
        F.size("feature").alias("feat_dim"),
        F.posexplode(F.col("feature").cast("array<double>")).alias("dim", "value"),
    )


@register(twin="""
            SELECT md5(text) AS content_hash,
                   min(doc_id) AS survivor_id,
                   count(*) AS dup_count,
                   CAST(min(octet_length(encode(text))) AS INT) AS n_bytes
            FROM documents GROUP BY md5(text)
        """)
def q_multimodal_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact byte-level media dedup (binaryops.dedup_media_exact): one
    survivor per md5(payload); JVM-side hash, payload never shuffles.
    Twin groups on md5(text) (DuckDB md5 over the same utf-8 bytes)."""
    from database2ogr_spark.multimodal.binaryops import dedup_media_exact

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return dedup_media_exact(media)


# stub aHash: bit i of the phash ⇔ md5 byte i ≥ 128 (the 0.5
# threshold on byte/256), packed little-endian over 8 stub dims
@register(twin=f"""
            WITH h AS (SELECT doc_id AS media_id,
                         CAST({_PHASH_TERMS} AS INT) AS phash
                       FROM documents),
            g AS (SELECT phash, count(*) AS group_size,
                         min(media_id) AS s
                  FROM h GROUP BY phash)
            SELECT h.media_id, h.phash, g.group_size,
                   h.media_id = g.s AS is_survivor
            FROM h JOIN g USING (phash)
        """)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash bucket grouping (binaryops.phash_media), stub tier
    (bit i ⇔ md5 byte i ≥ 128 — see q_multimodal_decode for why the
    graded tier is pinned): (media_id, phash, group_size, is_survivor).
    The twin replays the bit packing from md5 hex."""
    from database2ogr_spark.multimodal.binaryops import phash_media

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return phash_media(media, tier="stub")


# stub thumbnail contract: target dims, width*height*3/64 bytes
@register(twin="""
            SELECT doc_id AS media_id, 32 AS width, 32 AS height,
                   48 AS n_bytes
            FROM documents WHERE text IS NOT NULL
        """)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.multimodal.binaryops import resize_images

    # media contract: a NULL payload cannot be resized (NULL-text docs out)
    media = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    r = resize_images(media, width=32, height=32, tier="stub")
    # graded against its twin by pinning the stub tier (see
    # q_multimodal_decode — text-shaped payloads CAN parse under Pillow),
    # whose thumbnail is width*height*3/64 bytes for every payload, so the
    # metadata contract (row per image, target dims, stub byte count) is
    # oracle-checkable in any environment; the payload bytes themselves
    # stay engine-side (sha256-stream stub)
    return r.select("media_id", "width", "height", F.length("payload").alias("n_bytes"))


# frame grid 0..duration step 1000 inclusive; frame_hash =
# md5(payload_bytes || str(ts)) with payload = utf8(text)
@register(twin="""
            WITH media AS (
              SELECT doc_id AS media_id, text,
                     (n_chars % 5) * 1000 AS duration_ms
              FROM documents
              WHERE text IS NOT NULL AND n_chars IS NOT NULL),
            fr AS (
              SELECT media_id, text,
                unnest(range(0, duration_ms + 1000, 1000)) AS frame_ts_ms
              FROM media)
            SELECT media_id, CAST(frame_ts_ms AS INT) AS frame_ts_ms,
                   md5(text || CAST(frame_ts_ms AS VARCHAR)) AS frame_hash
            FROM fr
        """)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.multimodal.binaryops import frame_sample

    # media contract: frames need a payload AND a duration
    media = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        ((F.col("n_chars") % 5) * 1000).cast("int").alias("duration_ms"),
    )
    return frame_sample(media, every_ms=1000)


_ATES_DIR: str | None = None
_ATES_CATALOG: Catalog | None = None


def _ates_catalog(spark: SparkSession) -> Catalog:
    """Materialize the ATES fixture tables once per process (FIXTURES.md) —
    the driver's sf dirs don't carry them; this exercises the reference's
    actual schema end-to-end. One catalog serves every build in a session,
    so each document kind's export plan (``area_export.area_plan``) is
    built once, not per registry build."""
    global _ATES_DIR, _ATES_CATALOG
    from database2ogr_spark.schemas import ATES_SCHEMAS
    from database2ogr_spark.sources.fixtures import write_ates_fixtures

    if _ATES_DIR is None:
        _ATES_DIR = _tmp("d2o_ates_fixtures")
        write_ates_fixtures(spark, _ATES_DIR)
    if _ATES_CATALOG is None or _ATES_CATALOG.spark is not spark:
        _ATES_CATALOG = Catalog(spark, _ATES_DIR, ATES_SCHEMAS)
    return _ATES_CATALOG


# golden structural oracles for the ATES fixture pipeline (area 1):
# the fixture tables are deterministic (sources/fixtures.py), so the
# per-table feature/placemark counts and serialized lengths are
# literal constants — recomputed and pinned whenever the export
# formatting changes (byte-exact docs are golden-tested in pytest)
@register(twin="""
            SELECT tbl, CAST(n_features AS BIGINT) AS n_features,
                   CAST(total_len AS BIGINT) AS total_len
            FROM (VALUES
              ('access_roads', 1, 167),
              ('areas_vw', 1, 295),
              ('avalanche_paths', 2, 328),
              ('decision_points', 2, 533),
              ('points_of_interest', 4, 704),
              ('zones', 2, 721)) AS t(tbl, n_features, total_len)
        """)
def q_ates_geojson_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 — the reference's GeoJSON export pipeline end-to-end on ATES
    fixture tables (area 1): 6 queries, warnify, feature normalization,
    union — reduced to a per-table structural summary (feature count +
    total serialized length) so the deterministic fixture pipeline gets a
    hard literal-VALUES oracle; byte-exact documents stay golden-tested in
    tests/test_ates_pipeline.py."""
    from database2ogr_spark.plans.area_export import build_table_dfs
    from database2ogr_spark.sinks.geojson import with_feature

    cat = _ates_catalog(spark)
    table_dfs = build_table_dfs(cat, 1, "GeoJSON")
    per_table = [
        with_feature(df).agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).alias("n_features"),
            F.sum(F.length("feature")).alias("total_len"),
        )
        for tbl, df in table_dfs
    ]
    return union_by_name(per_table)


@register(twin="""
            SELECT tbl, CAST(n_placemarks AS BIGINT) AS n_placemarks,
                   CAST(total_len AS BIGINT) AS total_len
            FROM (VALUES
              ('access_roads', 1, 194),
              ('areas_vw', 1, 247),
              ('avalanche_paths', 2, 342),
              ('decision_points', 2, 2235),
              ('points_of_interest', 4, 879),
              ('zones', 2, 794)) AS t(tbl, n_placemarks, total_len)
        """)
def q_ates_kml_placemarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1 core — KML placemark rendering for area 1 (styles resolved J3,
    warnify HTML popup, KML geometry serialization), reduced to a per-table
    structural summary with a literal-VALUES oracle (byte-exact KML is
    golden-tested in tests/test_ates_pipeline.py)."""
    from database2ogr_spark.plans.area_export import build_table_dfs

    cat = _ates_catalog(spark)
    table_dfs = build_table_dfs(cat, 1, "KML")
    per_table = [
        df.select(placemark_xml(df).alias("placemark")).agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).alias("n_placemarks"),
            F.sum(F.length("placemark")).alias("total_len"),
        )
        for tbl, df in table_dfs
    ]
    return union_by_name(per_table)


# byte-exact literals from the deterministic ATES fixture: md5 of
# each assembled <Folder> (document order), the full en/fr documents,
# and doc.kml read back from the KMZ — the X10/K3/K4 assembly gate
@register(twin="""
            SELECT part, CAST(pos AS INT) AS pos,
                   CAST(nbytes AS BIGINT) AS nbytes, md5
            -- byte-exact literals for the PARTITION-ORDER-INDEPENDENT
            -- document: within-folder placemark order is pinned to the
            -- rendered string (round 7 — a bare collect() baked the scan
            -- split layout into the document; same bytes at any
            -- spark.sql.files.maxPartitionBytes / shuffle.partitions /
            -- AQE setting, proven by check_oracle.py --perturb layout)
            FROM (VALUES
              ('folder:Area', 1, 281, 'cd70dfb82edd1df9d6e76fc37b602f6d'),
              ('folder:Points of interest', 2, 927, '1bde67ffe1cb68627f1ed66b50ba4ccd'),
              ('folder:Access road', 3, 235, 'f66f0e85b877be04620f84c77ee7a0c1'),
              ('folder:Avalanche path', 4, 386, 'b0a3a212bd2bcda2b653c9a55ac943c4'),
              ('folder:Decision point', 5, 2279, '186dfcfa77635502e98ebbf8ccb4e8f1'),
              ('folder:Zone', 6, 828, '5cd5ba31f2b23275a7b526752c0c19fb'),
              ('document:en', 97, 6942, '1448eebde7103403bc1cc27db4d2181e'),
              ('document:fr', 98, 6955, '136677e6c37b5afb7f4e56c1834ac76a'),
              ('kmz:doc.kml', 99, 6942, '1448eebde7103403bc1cc27db4d2181e')
            ) AS t(part, pos, nbytes, md5)
        """)
def q_ates_kml_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10/K3/K4 — the WHOLE-document assembly oracle: full EP1 KML document
    for area 1 (folder order + localized folder names + style header + doc
    name, reference src/from-ground-up.js:579-624) and the KMZ archive
    round-trip (:933-974), reduced to byte-exact structural rows:

    - one row per <Folder> of the en document, in document order (pos 1..6),
      carrying the localized folder name, byte length, and md5;
    - one row per full document for lang=en and lang=fr (J2 switching);
    - one row for doc.kml read back out of a written KMZ (K4 round-trip).

    The md5 literals in the oracle make this a hard byte-exact check of the
    final assembly, not just placemark rendering (which ates_kml_placemarks
    already pins)."""
    import hashlib
    import re
    import zipfile

    from database2ogr_spark.plans.area_export import export_kml, export_kmz

    cat = _ates_catalog(spark)
    rows = []
    doc_en = export_kml(cat, 1, lang="en", icon_number=11)
    for i, folder in enumerate(re.findall(r"<Folder>.*?</Folder>", doc_en), start=1):
        fname = re.search(r"<name>([^<]*)</name></Folder>", folder).group(1)
        rows.append(
            (
                f"folder:{fname}",
                i,
                len(folder),
                hashlib.md5(folder.encode("utf-8")).hexdigest(),
            )
        )
    for pos, lang, doc in (
        (97, "en", doc_en),
        (98, "fr", export_kml(cat, 1, lang="fr", icon_number=11)),
    ):
        rows.append(
            (
                f"document:{lang}",
                pos,
                len(doc),
                hashlib.md5(doc.encode("utf-8")).hexdigest(),
            )
        )
    kmz_path = _tmp("d2o_ates_area1") + ".kmz"
    export_kmz(cat, 1, kmz_path, lang="en", icon_number=11)
    with zipfile.ZipFile(kmz_path) as zf:
        payload = zf.read("doc.kml")
    rows.append(("kmz:doc.kml", 99, len(payload), hashlib.md5(payload).hexdigest()))
    return spark.createDataFrame(
        rows, "part string, pos int, nbytes bigint, md5 string"
    )


# ---------------------------------------------------------------------------
# classic relational pack (plans/relational.py) — the join/window/outer-join
# shapes the reference delegates to Postgres (SURVEY.md §4)


@register(twin="""
            SELECT l.l_orderkey AS o_orderkey,
              sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))::BIGINT
                AS revenue_c4,
              strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-06-01'
              AND l.l_shipdate > TIMESTAMP '1998-06-01'
            GROUP BY 1, 3
            ORDER BY revenue_c4 DESC, o_orderkey ASC
            LIMIT 10
        """)
def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import shipping_priority

    return shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(twin="""
            SELECT n.n_name,
              sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))::BIGINT
                AS revenue_c4
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
             AND s.s_nationkey = c.c_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        """)
def q_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import local_supplier_volume

    return local_supplier_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(twin="""
            SELECT
              sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT))::BIGINT
                AS revenue_c4,
              count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND CAST(round(l_discount * 100) AS INT) BETWEEN 5 AND 7
              AND l_quantity < 24
        """)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import forecast_revenue

    return forecast_revenue(_t(spark, sf_dir, "lineitem"))


@register(twin="""
            SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
              sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))::BIGINT
                AS revenue_c4
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1997-07-01'
              AND o.o_orderdate < TIMESTAMP '1997-10-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue_c4 DESC, c_custkey ASC
            LIMIT 20
        """)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import returned_item_revenue

    return returned_item_revenue(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@register(twin="""
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-04-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY 1
        """)
def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import order_priority_check

    return order_priority_check(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@register(twin="""
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '1998-01-01')
            GROUP BY 1
        """)
def q_anti_join_orderless_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import customers_without_orders

    return customers_without_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(twin="""
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              CAST(year(l.l_shipdate) AS INT) AS l_year,
              sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))::BIGINT
                AS revenue_c4
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            WHERE sn.n_name IN ('NATION_1', 'NATION_2')
              AND cn.n_name IN ('NATION_1', 'NATION_2')
              AND sn.n_name <> cn.n_name
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3
        """)
def q_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import nation_volume

    return nation_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(twin="""
            WITH j AS (
              SELECT p.p_type,
                CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)
                  AS rev_c4
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
                AND l.l_shipdate < TIMESTAMP '1997-10-01')
            SELECT
              sum(CASE WHEN p_type = 'PROMO' THEN rev_c4 ELSE 0 END)::BIGINT
                AS promo_rev_c4,
              sum(rev_c4)::BIGINT AS total_rev_c4,
              CAST(round((sum(CASE WHEN p_type = 'PROMO' THEN rev_c4 ELSE 0 END)
                * 10000) / sum(rev_c4)) AS BIGINT) AS promo_share_bp
            FROM j
        """)
def q_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import promo_revenue

    return promo_revenue(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))


@register(twin="""
            WITH rev AS (
              SELECT l_suppkey,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))::BIGINT
                  AS total_revenue_c4
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-07-01'
                AND l_shipdate < TIMESTAMP '1997-10-01'
              GROUP BY 1)
            SELECT s.s_suppkey, s.s_name, rev.total_revenue_c4
            FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
            WHERE rev.total_revenue_c4 = (SELECT max(total_revenue_c4) FROM rev)
        """)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import top_supplier

    return top_supplier(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier"))


@register(twin="""
            WITH li AS (
              SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_brand = 'Brand#23'),
            avg_qty AS (
              SELECT l_partkey,
                sum(CAST(round(l_quantity * 100) AS BIGINT)) / (100.0 * count(*))
                  AS avg_qty
              FROM li GROUP BY 1)
            SELECT
              sum(CAST(round(li.l_extendedprice * 10000) AS BIGINT))::BIGINT
                AS small_qty_rev_c4,
              count(*) AS n_lines
            FROM li JOIN avg_qty a ON li.l_partkey = a.l_partkey
            WHERE li.l_quantity < 0.2 * a.avg_qty
        """)
def q_tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import small_quantity_revenue

    return small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(twin="""
            WITH big AS (
              SELECT l_orderkey,
                sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c2
              FROM lineitem GROUP BY 1
              HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 300 * 100)
            SELECT c.c_name, c.c_custkey, o.o_orderkey,
              strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
              o.o_totalprice, big.qty_c2 / 100.0 AS total_qty
            FROM orders o
            JOIN big ON o.o_orderkey = big.l_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
            LIMIT 10
        """)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import large_volume_orders

    return large_volume_orders(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(twin="""
            SELECT
              sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))::BIGINT
                AS revenue_c4,
              count(*) AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size >= 1 AND (
                 (p.p_brand = 'Brand#12' AND p.p_size <= 5
                  AND l.l_quantity BETWEEN 1 AND 11)
              OR (p.p_brand = 'Brand#23' AND p.p_size <= 10
                  AND l.l_quantity BETWEEN 10 AND 20)
              OR (p.p_brand = 'Brand#3' AND p.p_size <= 15
                  AND l.l_quantity BETWEEN 20 AND 30))
        """)
def q_tpch_q19_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import disjunctive_band_revenue

    return disjunctive_band_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(twin="""
            WITH j AS (
              SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)
                  AS rev_c4,
                sn.n_name AS supp_nation
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation cn ON c.c_nationkey = cn.n_nationkey
              JOIN region r ON cn.n_regionkey = r.r_regionkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation sn ON s.s_nationkey = sn.n_nationkey
              WHERE r.r_name = 'EUROPE'
                AND o.o_orderdate >= TIMESTAMP '1996-01-01'
                AND o.o_orderdate < TIMESTAMP '1998-01-01')
            SELECT o_year,
              sum(CASE WHEN supp_nation = 'NATION_5' THEN rev_c4 ELSE 0 END)::BIGINT
                AS nation_rev_c4,
              sum(rev_c4)::BIGINT AS total_rev_c4,
              CAST(round((sum(CASE WHEN supp_nation = 'NATION_5' THEN rev_c4 ELSE 0 END)
                * 10000) / sum(rev_c4)) AS BIGINT) AS share_bp
            FROM j GROUP BY 1
        """)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import market_share

    return market_share(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(twin="""
            SELECT l.l_linestatus,
              sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
              sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
              AND l.l_shipdate > o.o_orderdate
            GROUP BY 1
        """)
def q_tpch_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import late_lines_by_priority

    return late_lines_by_priority(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@register(twin="""
            WITH late AS (
              SELECT DISTINCT l.l_orderkey, l.l_suppkey
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_shipdate > o.o_orderdate)
            SELECT s.s_name, s.s_suppkey, count(*) AS numwait
            FROM late c
            JOIN supplier s ON c.l_suppkey = s.s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem x
                          WHERE x.l_orderkey = c.l_orderkey
                            AND x.l_suppkey <> c.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM late l2
                              WHERE l2.l_orderkey = c.l_orderkey
                                AND l2.l_suppkey <> c.l_suppkey)
            GROUP BY 1, 2
            ORDER BY numwait DESC, s_suppkey ASC
            LIMIT 20
        """)
def q_tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import sole_late_suppliers

    return sole_late_suppliers(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )


@register(twin="""
            WITH avg_bal AS (
              SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) / (100.0 * count(*))
                AS avg_bal
              FROM customer WHERE c_acctbal > 0)
            SELECT c.c_mktsegment, count(*) AS n_customers,
              sum(CAST(round(c.c_acctbal * 100) AS BIGINT))::BIGINT AS total_bal_c2
            FROM customer c, avg_bal
            WHERE c.c_acctbal > avg_bal.avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY 1
        """)
def q_tpch_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import idle_rich_customers

    return idle_rich_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(twin="""
            WITH nr AS (
              SELECT n.n_nationkey, n.n_name
              FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'EUROPE'),
            s AS (
              SELECT su.s_suppkey, su.s_name, su.s_acctbal, nr.n_name
              FROM supplier su JOIN nr ON su.s_nationkey = nr.n_nationkey),
            offers AS (
              SELECT l_partkey, l_suppkey,
                min(CAST(floor(100.0 * l_extendedprice / l_quantity) AS BIGINT))
                  AS cost_c2
              FROM lineitem
              WHERE l_suppkey IN (SELECT s_suppkey FROM s)
              GROUP BY 1, 2),
            p AS (
              SELECT p_partkey, p_brand, p_type FROM part WHERE p_size = 15),
            best AS (
              SELECT l_partkey, min(cost_c2) AS min_cost_c2
              FROM offers
              WHERE l_partkey IN (SELECT p_partkey FROM p)
              GROUP BY 1)
            SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, p.p_brand,
              p.p_type, s.s_suppkey, o.cost_c2
            FROM offers o
            JOIN best b ON o.l_partkey = b.l_partkey
              AND o.cost_c2 = b.min_cost_c2
            JOIN p ON o.l_partkey = p.p_partkey
            JOIN s ON o.l_suppkey = s.s_suppkey
            ORDER BY s.s_acctbal DESC, s.n_name ASC, s.s_name ASC,
              p.p_partkey ASC
            LIMIT 10
        """)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import min_cost_supplier

    return min_cost_supplier(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(twin="""
            SELECT nn.n_name AS supp_nation,
              year(o.o_orderdate) AS o_year,
              sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)
                    - 0.6 * p.p_retailprice * l.l_quantity) * 10000) AS BIGINT)
                 )::BIGINT AS profit_c4
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN supplier su ON l.l_suppkey = su.s_suppkey
            JOIN nation nn ON su.s_nationkey = nn.n_nationkey
            WHERE p.p_name LIKE '%bolt%'
            GROUP BY 1, 2
        """)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import product_type_profit

    return product_type_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(twin="""
            WITH per_part AS (
              SELECT l_partkey,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT))::BIGINT AS part_value_c4
              FROM lineitem
              WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier su
                JOIN nation n ON su.s_nationkey = n.n_nationkey
                WHERE n.n_name = 'NATION_7')
              GROUP BY 1)
            SELECT l_partkey, part_value_c4
            FROM per_part
            WHERE part_value_c4 >
              0.002 * (SELECT sum(part_value_c4) FROM per_part)
        """)
def q_tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import important_parts

    return important_parts(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(twin="""
            SELECT p.p_brand, p.p_type, p.p_size,
              count(DISTINCT l.l_suppkey) AS supplier_cnt
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand <> 'Brand#5'
              AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
              AND l.l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """)
def q_tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import supplier_part_counts

    return supplier_part_counts(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(twin="""
            SELECT su.s_suppkey, su.s_name
            FROM supplier su
            JOIN nation n ON su.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_3'
              AND su.s_suppkey IN (
                SELECT l_suppkey FROM lineitem
                WHERE l_partkey IN (
                    SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
                  AND l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1998-01-01'
                GROUP BY l_suppkey, l_partkey
                HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 50 * 100)
        """)
def q_tpch_q20_promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import promotable_suppliers

    return promotable_suppliers(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


@register(twin="""
            WITH wide AS (
              SELECT l_returnflag, l_linestatus,
                sum(CAST(round(l_quantity * 100) AS BIGINT))::BIGINT
                  AS sum_qty_c2,
                sum(CAST(round(l_extendedprice * 10000) AS BIGINT))::BIGINT
                  AS sum_base_c4,
                sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT))::BIGINT AS sum_disc_c4,
                count(*)::BIGINT AS n_lines
              FROM lineitem GROUP BY 1, 2)
            SELECT l_returnflag, l_linestatus, 'sum_qty_c2' AS measure,
              sum_qty_c2 AS value FROM wide
            UNION ALL
            SELECT l_returnflag, l_linestatus, 'sum_base_c4', sum_base_c4
            FROM wide
            UNION ALL
            SELECT l_returnflag, l_linestatus, 'sum_disc_c4', sum_disc_c4
            FROM wide
            UNION ALL
            SELECT l_returnflag, l_linestatus, 'n_lines', n_lines FROM wide
        """)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import lineitem_measures_long

    return lineitem_measures_long(_t(spark, sf_dir, "lineitem"))


@register(twin="""
            SELECT event_id, user_id, ts,
              epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
              lag(event_type) OVER w AS prev_label,
              (sum(CAST(round(value * 100) AS BIGINT))
                 OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))::BIGINT
                AS roll_sum_c2,
              count(value) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
                AS roll_n,
              row_number() OVER w - 1 AS seen_n
            FROM events WHERE (value IS NULL OR isfinite(value)) AND ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        """, time_domain=True)
def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal per-user rolling features (lag / rowsBetween frames) — all five
    windows share one (partition, order), so the plan has exactly ONE
    Exchange + Sort (pinned in tests/test_timeseries_rolling.py)."""
    from database2ogr_spark.operators.timeseries import rolling_features

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return rolling_features(ev)


@register(twin="""
            SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(nfc_normalize(text),
                      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
                    '[ \\t]{2,}', ' ', 'g'),
                  '[ \\t]*\\n([ \\t]*\\n)+[ \\t]*', chr(10) || chr(10), 'g'),
                '^[ \\t\\r\\n]+|[ \\t\\r\\n]+$', '', 'g') AS text_norm
            FROM documents
        """)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC + control-strip + whitespace canonicalization; NFC is the
    one Arrow-batched Python hop, the regex chain is whole-stage codegen."""
    from database2ogr_spark.operators.cleaning import normalize_text

    d = _t(spark, sf_dir, "documents")
    return normalize_text(d, "text", out_col="text_norm").select("doc_id", "text_norm")


# left join + null-skipping least/greatest: NULL-group rows pass
# through unclamped (rounded), mirroring cleaning.winsorize
@register(twin="""
            WITH b AS (
              SELECT event_type,
                quantile_cont(value, 0.05) AS _w_lo,
                quantile_cont(value, 0.95) AS _w_hi
              FROM events WHERE (value IS NULL OR isfinite(value))
              GROUP BY 1)
            SELECT e.event_id, e.event_type, e.value,
              CASE WHEN e.value IS NULL THEN NULL
                ELSE round(least(greatest(e.value, b._w_lo), b._w_hi), 6)
              END AS value_w
            FROM events e LEFT JOIN b USING (event_type)
            WHERE (e.value IS NULL OR isfinite(e.value))
        """)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization at exact interpolated p05/p95 —
    |groups|-row bounds broadcast back onto the fact."""
    from database2ogr_spark.operators.cleaning import winsorize

    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return winsorize(ev).select("event_id", "event_type", "value", "value_w")


@register(twin="""
            SELECT event_type, count(DISTINCT user_id) AS n_users,
              count(*) AS n_events
            FROM events GROUP BY 1
        """)
def q_distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct per group — the two-phase distinct-agg shuffle
    (partial distinct on (event_type, user_id), then count). The scale-path
    twin is q_distinct_users_approx (HLL sketch, one pass, fixed memory)."""
    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# property twin: the HLL estimate itself is engine-specific, so the
# Spark query emits exact + an error-bound boolean and the oracle
# asserts exact + TRUE — a hash match proves the accuracy contract
@register(twin="""
            SELECT event_type, count(DISTINCT user_id) AS n_users,
              TRUE AS within_5pct
            FROM events GROUP BY 1
        """)
def q_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate count-distinct. At 100 TB this is the only sane
    distinct-count: constant memory per group, single shuffle of sketch
    buffers, mergeable across partitions — vs. the exact variant's shuffle
    of every distinct (group, user) pair. rsd=0.01 ⇒ ~1% error, ~24 KB per
    sketch.

    PROPERTY-GRADED: the HLL estimate is engine-specific, so the query
    emits the exact count plus a boolean asserting relative error ≤ 5%
    (5× the configured rsd; measured ≤0.7% on this data at every SF) and
    the oracle asserts exact + literal TRUE — a hash match proves the
    sketch met its accuracy contract. The exact agg lives only in this
    graded entry; the production path is sketch-only."""
    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
    )
    err = F.abs(F.col("approx") - F.col("n_users")).cast("double") / F.col(
        "n_users"
    ).cast("double")
    return agg.select("event_type", "n_users", (err <= 0.05).alias("within_5pct"))


@register(twin="""
            SELECT event_type, count(DISTINCT user_id) AS n_users,
              TRUE AS merge_close, TRUE AS within_5pct
            FROM events GROUP BY 1
        """)
def q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch pre-aggregation — the pattern that makes distinct
    counts re-aggregatable at 100 TB: build HLL sketches at fine grain
    ((event_type, day) — the materialized-rollup grain), merge them upward
    with ``hll_union_agg`` instead of touching raw data again.

    PROPERTY-GRADED like distinct_users_approx: the query emits the exact
    count plus (a) ``merge_close`` — the merged estimate is within 2% of
    the directly-built coarse sketch's estimate, and (b) ``within_5pct``
    vs exact. The oracle asserts exact counts + two literal TRUEs.

    ``merge_close`` deliberately does NOT assert bit-equality: Datasketches
    register-max union replays the direct build exactly only while every
    input sketch is still in sparse/coupon mode — at sf0.1 cardinalities
    some (event_type, day) sketches go dense and the union path's estimator
    state diverges from the single-pass build by well under the sketch's
    own error scale (measured 0.40% at sf0.1 vs σ ≈ 1.6% at lgK=12; at
    sf0.01 the paths are still bit-identical). A broken union — dropping a
    day's sketch, wrong register merge — lands far outside 2%, so the
    bound still grades mergeability. The literal-TRUE contract therefore
    holds at every tested scale instead of only below the sparse→dense
    transition (found by an --exact sweep at sf0.1)."""
    ev = read_events(spark, os.path.join(sf_dir, "events.parquet"))
    fine = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = fine.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.countDistinct("user_id").alias("n_users"),
    )
    err = F.abs(F.col("est_merged") - F.col("n_users")).cast("double") / F.col(
        "n_users"
    ).cast("double")
    merge_drift = F.abs(
        F.col("est_merged").cast("double") - F.col("est_direct").cast("double")
    ) / F.col("est_direct").cast("double")
    # null-safe merge join: a NULL event_type is a group like any other
    # (an inner equi-join would silently drop it — the NULL probe's catch)
    m = merged.withColumnRenamed("event_type", "__et")
    return m.join(
        direct, F.col("__et").eqNullSafe(F.col("event_type"))
    ).select(
        "event_type",
        "n_users",
        (merge_drift <= 0.02).alias("merge_close"),
        (err <= 0.05).alias("within_5pct"),
    )


@register(twin="""
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY 1)
            GROUP BY 1
        """)
def q_tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import customer_order_distribution

    return customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(twin="""
            SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
              SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                row_number() OVER (PARTITION BY c.c_mktsegment
                  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rn
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
            WHERE rn <= 3
        """)
def q_window_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from database2ogr_spark.plans.relational import top_orders_per_segment

    return top_orders_per_segment(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


# ---------------------------------------------------------------------------
# registry order and readers


def _tmp(name: str) -> str:
    """Process-unique scratch path: two Spark processes (a pytest run
    next to a check_oracle sweep) must never rebuild the same fixture
    or index directory underneath each other."""
    return os.path.join(tempfile.gettempdir(), f"{name}_{os.getpid()}")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_geojson_features(spark, "/root/testdata/sf0.001")


#: Registry order. The driver grades only the first 50 entries, so the
#: order decides which entries it verifies; the bands of that prefix are
#: pinned by tests/test_check_oracle_harness.py.
_QUERY_ORDER = (
    "streaming_dedup", "streaming_dedup_evicting",
    "decontaminate_semantic_lsh", "rolling_features", "normalize_text",
    "winsorize_values", "contamination_report", "decontaminate_fraction",
    "truncate_to_budget", "csv_roundtrip", "ivf_index_topk", "orc_roundtrip",
    "copurchase_pagerank", "dataset_diff", "gap_fill", "label_propagation",
    "set_operations", "events_enrich_dim", "rank_functions", "weighted_median",
    "schema_evolution", "grouping_sets", "split_corpus_grouped",
    "heavy_hitters_sketch", "corrupt_file_resilience", "training_order",
    "decontaminate_semantic", "boolean_search", "dedup_survivors_priority",
    "pack_manifest", "vocab_coverage", "project_embeddings", "ann_recall_lsh",
    "quality_classifier", "zorder_key", "weighted_sample", "countmin_tokens",
    "pmi_bigrams", "pretrain_ledger", "stupid_backoff", "a1_distinct",
    "s2_full_scan", "u1_union", "p3_envelope", "j2_dim_lookup",
    "validate_constraints", "pivot_event_counts", "late_interaction",
    "ates_kml_placemarks", "ates_kml_document", "sketch_rollup",
    "curriculum_order", "normalize_homoglyphs", "bpe_learn", "bpe_segment",
    "novelty_stats", "phrase_search", "length_bucketed_batches",
    "bpe_subword_vocab", "blocklist_screen", "profile_columns",
    "calibration_report", "apply_changes", "triangle_count", "budget_select",
    "mad_outliers", "hard_negatives", "whiten_embeddings", "char_entropy",
    "quantile_normalize", "fuzzy_match", "multimodal_exact_dedup",
    "multimodal_phash", "skew_report", "lang_confusion", "classifier_auc",
    "label_diversity", "funnel_steps", "retention_cohorts", "bm25_topk",
    "source_overlap", "k_anonymity", "windowed_pmi", "mutual_information",
    "zipf_fit", "tfidf_cosine_pairs", "dsir_select", "vocab_growth",
    "kappa_langid", "tokenizer_fertility", "preference_pairs", "mine_bitext",
    "l_diversity", "lexical_diversity", "corpus_divergence", "x1_slugify",
    "x2_reverse_stem", "x4_coords_key", "x11_unescape", "f5_nonblank_tokens",
    "winnow_pairs", "kneser_ney", "ks_test", "intrinsic_dimension",
    "skipgram_negatives", "dataset_datasheet", "temporal_split",
    "rolling_active_users", "frequent_itemsets", "basket_rules",
    "classifier_ece", "randomization_test", "ams_f2", "hybrid_rrf",
    "auc_by_lang", "best_threshold", "term_dispersion", "entropy_rate",
    "burrows_delta", "phrase_merge", "davies_bouldin", "fd_violations",
    "benford", "changepoint", "mi_value_type", "geometric_median",
    "bootstrap_ci", "funnel_windowed", "trend_slope", "ewma_volume",
    "concentration", "textrank", "acf", "mann_kendall", "hll_distinct",
    "mmr_select", "kfold", "iqr_anomaly_days", "embedding_density",
    "corpus_shards_roundtrip", "fk_integrity", "drift_report", "ivf_topk",
    "brier", "events_dashboard", "audience_overlap", "conversion_latency",
    "khop_reach", "rolling_hll_users", "churn", "kmv_jaccard",
    "hourly_profile", "hist_quantiles", "session_stats", "top_journeys",
    "cohort_value", "rfm", "fanout_profile", "repeat_interval", "t_closeness",
    "wow_decomposition", "class_weights", "nested_subsets", "fightin_words",
    "ql_topk", "user_features", "prf_topk", "readability", "u_attribution",
    "kaplan_meier", "ann_ndcg", "forecast_eval", "transition_matrix",
    "multimodal_decode", "multimodal_resize", "multimodal_frame_sample",
    "webdataset_roundtrip", "s1_scan_filter", "j1_parent_child_join",
    "f4_validate_default", "j3_style_lookup", "warnify", "lang_id",
    "minhash_signatures", "dedup_exact_survivors", "embedding_near_dup",
    "embedding_normalize", "events_props_extract", "events_windowed",
    "fingerprint_rolling", "frequent_tokens", "remove_boilerplate",
    "dedup_paragraphs", "quality_flags", "mix_sources", "url_normalize",
    "cap_per_domain", "asof_tolerance", "tfidf_top_terms", "topk_quality_docs",
    "lang_stats", "user_totals", "asof_join", "lang_source_rollup",
    "lang_source_cube", "length_quantiles", "deterministic_sample",
    "stratified_sample", "embedding_centroids",
    "anti_join_orderless_customers", "distinct_users_exact",
    "window_top_orders_per_segment", "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue", "tpch_q10_returned_items",
    "tpch_q4_order_priority", "tpch_q13_order_distribution",
    "tpch_q7_nation_volume", "tpch_q14_promo_revenue", "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue", "tpch_q18_large_orders",
    "tpch_q19_band_revenue", "tpch_q8_market_share", "tpch_q12_late_lines",
    "tpch_q21_sole_late_supplier", "tpch_q22_idle_rich_customers",
    "split_corpus", "top_fraction_per_source", "dedup_incremental",
    "embedding_quantize", "khop_reach_sketched", "containment",
    "ngram_jaccard_pairs", "near_dup_groups_exact", "near_dup_groups_star",
    "dedup_recall", "ates_geojson_features", "geojson_features",
    "x12_html_popup", "x13_recipe_layers", "kmeans_embeddings",
    "semantic_dedup", "duplicate_spans", "temperature_resample", "build_vocab",
    "range_join", "hypertable_rollup", "unigram_logprob",
    "dedup_incremental_lsh", "pretrain_pipeline", "score_buckets",
    "bigram_logprob", "strip_duplicate_spans", "jsonl_roundtrip",
    "quantized_topk", "minhash_lsh_pairs", "simhash_pairs", "near_dup_groups",
    "decontaminate_bloom", "lsh_topk", "embedding_near_dup_lsh",
    "length_quantiles_approx", "distinct_users_approx", "dedup_exact",
    "decontaminate", "events_sessionize", "events_attribution_join",
    "cosine_topk", "text_quality", "repetition_stats", "pack_sequences",
    "redact_pii", "chunk_documents", "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit", "tpch_q11_important_parts",
    "tpch_q16_supplier_part_counts", "tpch_q20_promotable_suppliers",
    "unpivot_measures",
)


def _check_order(
    order: tuple[str, ...], registered: Collection[str]
) -> None:
    """Raise unless ``order`` names every registered entry exactly once."""
    dup = sorted({n for n in order if order.count(n) > 1})
    missing = sorted(set(registered) - set(order))
    extra = sorted(set(order) - set(registered))
    if dup or missing or extra:
        raise ValueError(
            f"registry order mismatch: duplicate={dup} "
            f"unlisted={missing} unregistered={extra}"
        )


_check_order(_QUERY_ORDER, _REGISTRY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry entry's engine call, in registry order."""
    return {name: _REGISTRY[name].fn for name in _QUERY_ORDER}


def oracle_sql() -> dict[str, str]:
    """Every registry entry's DuckDB twin, in registry order, with the
    embeddings validity view applied to every twin and then the event-time
    domain view to every ``time_domain`` twin."""
    out = {}
    for name in _QUERY_ORDER:
        e = _REGISTRY[name]
        sql = e.twin.replace(
            "FROM embeddings)", f"FROM ({EMB_VALID_SQL}) embeddings)"
        )
        out[name] = events_domain_rewrite(sql) if e.time_domain else sql
    return out


#: the oracle-side event-time domain view (mirror of
#: operators/cleaning.plausible_time / within_time_domain)
TS_VIEW_SQL = (
    f"SELECT * FROM events WHERE ts >= TIMESTAMP '{CL.TIME_DOMAIN[0]}' "
    f"AND ts < TIMESTAMP '{CL.TIME_DOMAIN[1]}'"
)


def events_domain_rewrite(sql: str) -> str:
    """Rewrite a twin's ``FROM events`` scans to read through the
    time-domain view — module-level so the regression pin
    in tests/test_check_oracle_harness.py exercises the SHIPPED rewrite
    instead of a local re-implementation.

    ``FROM events l`` / ``FROM events e`` keep their alias; bare scans
    get the alias ``events`` so qualified references still resolve. The
    ``\\b`` after ``events`` keeps a longer table name (e.g. a future
    ``events_archive``) from being silently rewritten to scan the domain
    view under that alias; the single-letter alias
    whitelist avoids eating SQL keywords (WHERE/GROUP/JOIN) that follow
    a bare scan — a multi-letter alias in a flagged twin yields
    ``(view) events <alias>`` which the EXPLAIN parse-check in
    tests/test_check_oracle_harness.py rejects instead of shipping.
    """

    def sub(m: "re.Match[str]") -> str:
        alias = m.group(1)
        return f"FROM ({TS_VIEW_SQL})" + (alias if alias else " events")

    return re.sub(r"FROM events\b(\s+[lre]\b)?", sub, sql)
