"""Local stand-in for the driver's t2 correctness gate, plus the
robustness sweeps that re-grade the registry on perturbed inputs.

The clean run executes every ``queries()`` entry and its ``oracle_sql()``
twin (default data: sf0.01) and compares row count, column names,
order-insensitive values AND pandas dtype *kind* per column (the driver
canonicalizes both sides through pandas, so an oracle column that pandas
renders float64 while Spark emits int64 hash-FAILs at the driver even
when the values are numerically equal — the r5 HUGEINT class: DuckDB
types integer ``sum()`` as HUGEINT, which ``.df()`` renders as float64
while ``fetchall()`` yields Python ints).

``--perturb KIND`` re-grades the registry under one entry of
:data:`PERTURBATIONS`. A fixture kind copies the source dir (default
sf0.001) through a per-table transform into a temp dir, one parquet file
per table, and grades there; ``layout`` perturbs session confs instead.
Verdict lines: ``OK``, ``GUARD`` (a designed ``ValueError``, passes only
under ``empty``), ``ROWS-ONLY`` (no twin) and ``FAIL``.

Usage: python scripts/check_oracle.py [sf_dir] [--exact]
           [--perturb {empty,layout,nulls,skew,times}] [--prefix N] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import tempfile
import traceback
from typing import Callable, NamedTuple

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
import bench as benchmod
from database2ogr_spark.schemas import TESTDATA_TABLES as TABLES
from database2ogr_spark.session import get_spark


def complex_typed_cols(schema) -> list[str]:
    """Column names whose type the driver canonicalizer cannot sort
    (list/dict cells are unhashable under pandas sort_values)."""
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def dtype_kind(dt) -> str:
    """Collapse a pandas dtype to the kind class the driver's value-hash
    is sensitive to: int vs float vs bool vs datetime vs object. ``2``
    (int64) and ``2.0`` (float64) hash differently at the driver even
    though ``2 == 2.0`` — this is the class that shipped in r5."""
    k = getattr(dt, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in ("M", "m"):
        return "datetime"
    return "object"


def _spark_col_kind(values, spark_type) -> str:
    """The pandas dtype *kind* ``toPandas`` (the driver's Spark-side
    canonicalization) would give this column. Plain value inference
    (``from_records``) is unfaithful for all-None columns — it yields
    ``object`` where ``toPandas`` uses the declared Spark type (an
    all-NULL bigint column is float64 under toPandas AND under DuckDB
    ``.df()``, so the driver passes it — the frequent_itemsets ``i3``
    false-positive)."""
    name = spark_type.typeName()
    has_null = any(v is None for v in values)
    if name in ("byte", "short", "integer", "long"):
        return "float" if has_null else "int"
    if name in ("float", "double"):
        return "float"
    if name == "boolean":
        return "object" if has_null else "bool"
    if name in ("timestamp", "timestamp_ntz"):
        return "datetime"
    # string/date/decimal/binary → object under toPandas
    return "object"


def dtype_mismatches(scols, srows, odf: pd.DataFrame, schema=None) -> list[str]:
    """Compare pandas dtype kinds between the Spark result (canonicalized
    the driver's way — ``toPandas`` semantics, derived from the declared
    Spark schema when given, else inferred from values) and the oracle
    fetched via ``.df()`` (the driver's path, where HUGEINT → float64).
    Returns human-readable per-column mismatch strings."""
    if not srows or len(odf) == 0:
        return []  # dtypes of an empty frame are inference artifacts
    if schema is not None:
        skinds = {
            f.name: _spark_col_kind([r[f.name] for r in srows], f.dataType)
            for f in schema.fields
        }
    else:
        spdf = pd.DataFrame.from_records(
            [tuple(r) for r in srows], columns=list(scols)
        )
        skinds = {c: dtype_kind(spdf[c].dtype) for c in scols}
    out = []
    for c in scols:
        if c not in odf.columns:
            continue  # column-name mismatch is reported separately
        sk, ok = skinds[c], dtype_kind(odf[c].dtype)
        if sk != ok:
            out.append(f"dtype[{c}] spark={sk} oracle={ok}")
    return out


def norm_cell(v, exact: bool = False):
    """Comparable form of one cell. ``exact`` (``--exact``) compares
    floats bit-for-bit instead of at 9 dp: the driver's value-hash sees
    exact values, so a 9-dp-tolerant pass can hide a sub-9dp engine drift
    in any un-rounded double column (6-dp-rounded doubles that agree at
    9 dp are identical bits)."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v if exact else round(v, 9)
    return v


def df_to_rows(cols, rows, exact: bool = False):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # None-safe deterministic sort: rows are compared as multisets, the order
    # itself doesn't matter as long as both sides use the same key
    return sorted(
        (tuple(norm_cell(r[i], exact) for i in idx) for r in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


# ---------------------------------------------------------------------------
# perturbations

TESTDATA = "/root/testdata"


def _bucket(pk: str, seed: str, m: int = 100):
    """Stable per-row hash bucket in [0, m): ``xxhash64(pk, seed) % m``.
    Fixtures select rows with ``_bucket(...) < rate`` — no RNG, so every
    run perturbs the same rows."""
    return F.pmod(F.xxhash64(F.col(pk), F.lit(seed)), F.lit(m))


#: nulls, per table: (pk column, {column: null-rate-percent}). Key columns
#: stay non-null except ``events.user_id`` (anonymous events) and
#: ``documents.lang`` (undetected language) — realistic null GROUP KEYS.
#: region/nation stay clean: they are the reference's fixture tables.
NULL_PLAN = {
    "customer": ("c_custkey", {"c_name": 8, "c_acctbal": 10, "c_mktsegment": 10}),
    "supplier": ("s_suppkey", {"s_name": 8, "s_acctbal": 10}),
    "part": (
        "p_partkey",
        {"p_name": 8, "p_brand": 10, "p_type": 10, "p_size": 10, "p_retailprice": 10},
    ),
    "orders": (
        "o_orderkey",
        {
            "o_orderstatus": 8,
            "o_totalprice": 10,
            "o_orderdate": 6,
            "o_orderpriority": 10,
        },
    ),
    "lineitem": (
        "l_orderkey",
        {
            "l_quantity": 8,
            "l_extendedprice": 8,
            "l_discount": 8,
            "l_tax": 8,
            "l_returnflag": 6,
            "l_linestatus": 6,
            "l_shipdate": 6,
        },
    ),
    "events": (
        "event_id",
        {"event_type": 8, "value": 10, "props": 10, "ts": 5, "user_id": 5},
    ),
    "documents": ("doc_id", {"text": 6, "lang": 8, "source": 10, "n_chars": 8}),
    "embeddings": ("vec_id", {"label": 10}),
}


def _nulls(t: str, df: DataFrame) -> DataFrame:
    """Dirty data: NULL cells and group keys (null ordering, nullable-int
    rendering, string-kernel null propagation), NaN/±Inf metric values,
    and null, zero-norm, NaN-poisoned and empty embedding vectors."""
    pk, plan = NULL_PLAN.get(t, (None, {}))
    for c, rate in plan.items():
        dirty = F.when(_bucket(pk, f"null:{t}:{c}") < rate, F.lit(None)).otherwise(F.col(c))
        df = df.withColumn(c, dirty.cast(df.schema[c].dataType))
    if t == "events":
        # NaN / ±Inf carriers in the generic metric column (~1% each)
        h = _bucket(pk, "nan:events")
        df = df.withColumn(
            "value",
            F.when(h == 0, F.lit(float("nan")))
            .when(h == 1, F.lit(float("inf")))
            .when(h == 2, F.lit(float("-inf")))
            .otherwise(F.col("value")),
        )
    if t == "embeddings":
        # 2% null vectors, 2% zero-norm vectors (cosine div-by-zero),
        # 2% vectors with a NaN element, 1% empty arrays.
        h = _bucket(pk, "vec:emb")
        dim = F.size(F.col("embedding"))
        df = df.withColumn(
            "embedding",
            F.when(h.isin(0, 50), F.lit(None))
            .when(h.isin(1, 51), F.transform(F.col("embedding"), lambda x: F.lit(0.0).cast("float")))
            .when(
                h.isin(2, 52),
                F.concat(
                    F.slice(F.col("embedding"), 1, (dim - 1).cast("int")),
                    F.array(F.lit(float("nan")).cast("float")),
                ),
            )
            .when(h == 3, F.array().cast("array<float>"))
            .otherwise(F.col("embedding")),
        )
    return df


#: the hot document every skewed text row collapses onto — boilerplate
#: with enough tokens/lines that text operators see a realistic page
HOT_TEXT = (
    "404 not found\n"
    "the page you requested could not be found on this server\n"
    "please check the address and try again or return to the home page\n"
    "copyright the site operator all rights reserved"
)


def _skew(t: str, df: DataFrame) -> DataFrame:
    """Hot keys: foreign keys and values collapse onto one hot value taken
    from inside the domain (min key), so primary keys stay unique and
    referential integrity survives. Exposes massive tie groups under
    top-k cutoffs and plans quadratic in the largest key group."""

    def pick(c: str, pk: str, seed: str, rate: int):
        hot = F.lit(df.agg(F.min(c).alias("v")).collect()[0]["v"])
        return F.when(_bucket(pk, seed) < rate, hot).otherwise(F.col(c))

    if t == "orders":
        # one whale customer places ~25% of all orders
        df = df.withColumn("o_custkey", pick("o_custkey", "o_orderkey", "skew:o_cust", 25))
    elif t == "lineitem":
        # one dominant SKU and one dominant supplier (~20% each,
        # independently chosen so the hot pair co-occurs on ~4%)
        df = df.withColumn(
            "l_partkey", pick("l_partkey", "l_orderkey", "skew:l_part", 20)
        ).withColumn("l_suppkey", pick("l_suppkey", "l_orderkey", "skew:l_supp", 20))
    elif t == "events":
        # one bot account emits ~30% of the stream
        df = df.withColumn("user_id", pick("user_id", "event_id", "skew:e_user", 30))
    elif t == "documents":
        # one boilerplate page is ~20% of the crawl; n_chars stays coherent
        sel = _bucket("doc_id", "skew:d_text") < 20
        df = df.withColumn(
            "text", F.when(sel, F.lit(HOT_TEXT)).otherwise(F.col("text"))
        ).withColumn(
            "n_chars",
            F.when(sel, F.lit(len(HOT_TEXT)))
            .otherwise(F.col("n_chars"))
            .cast(df.schema["n_chars"].dataType),
        )
    elif t == "embeddings":
        # ~20% of vectors are the SAME unit vector (template content):
        # cosine ties at exactly 1.0, one giant LSH cell and near-dup clique
        dim = F.size(F.col("embedding"))
        hot_vec = F.transform(
            F.col("embedding"),
            lambda x: (F.lit(1.0) / F.sqrt(dim.cast("double"))).cast("float"),
        )
        df = df.withColumn(
            "embedding",
            F.when(_bucket("vec_id", "skew:v_hot") < 20, hot_vec).otherwise(
                F.col("embedding")
            ),
        )
    return df


#: (table, pk, ts columns) the times fixture dirties
TS_PLAN = {
    "events": ("event_id", ["ts"]),
    "orders": ("o_orderkey", ["o_orderdate"]),
    "lineitem": ("l_orderkey", ["l_shipdate"]),
}

#: the edge values, as timestamp literals (session TZ is pinned UTC)
EDGES = [
    "1969-12-31 23:59:59.500001",  # negative epoch WITH fraction
    "1970-01-01 00:00:00",         # epoch zero
    "1965-03-02 12:00:00.250000",  # deep pre-1970
    "2199-12-31 23:59:59.999999",  # far future, end-of-day µs boundary
]


def _times(t: str, df: DataFrame) -> DataFrame:
    """Extreme event times, sparse (1/400 rows per edge): negative-epoch
    truncation (floor vs cast toward zero) and data-dependent time-spine
    fan-out from one corrupt row."""
    if t in TS_PLAN:
        pk, cols = TS_PLAN[t]
        h = _bucket(pk, f"ts:{t}", 400)
        for c in cols:
            edge = F.col(c)
            for i, lit in enumerate(EDGES):
                edge = F.when(h == i, F.lit(lit).cast("timestamp")).otherwise(edge)
            df = df.withColumn(c, edge.cast(df.schema[c].dataType))
    return df


class Perturbation(NamedTuple):
    #: default source dir when none is given on the command line
    src: str
    #: "twin": parity with the DuckDB twin; "degrade": OK or a ValueError
    #: GUARD passes, anything else fails; "self": Spark results under
    #: ``conf`` equal those under the session's own values, bit for bit
    grade: str
    #: per-table fixture transform ``(table, df) -> df``
    transform: Callable[[str, DataFrame], DataFrame] | None = None
    conf: dict[str, str] | None = None


SF_SMALL = f"{TESTDATA}/sf0.001"
SF_CLEAN = f"{TESTDATA}/sf0.01"

PERTURBATIONS = {
    None: Perturbation(SF_CLEAN, "twin"),  # the clean run
    "nulls": Perturbation(SF_SMALL, "twin", transform=_nulls),
    "skew": Perturbation(SF_SMALL, "twin", transform=_skew),
    "times": Perturbation(SF_SMALL, "twin", transform=_times),
    # zero-row tables: operators must degrade (empty output, NULL ratios)
    # or refuse with a designed ValueError, never die
    "empty": Perturbation(SF_SMALL, "degrade", transform=lambda t, df: df.limit(0)),
    # physical layout: results must not depend on shuffle partition
    # count, scan split size or AQE re-planning
    "layout": Perturbation(
        SF_CLEAN,
        "self",
        conf={
            "spark.sql.shuffle.partitions": "7",
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
            "spark.sql.adaptive.enabled": "false",
        },
    ),
}


def build_fixture(spark, src: str, out: str, perturb: str) -> str:
    """Write ``src`` through the perturbation's transform into ``out``,
    one parquet FILE per table, read by both engines exactly like the
    driver reads its test data."""
    transform = PERTURBATIONS[perturb].transform
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        df = transform(t, spark.read.parquet(f"{src}/{t}.parquet"))
        pq.write_table(df.toArrow(), f"{out}/{t}.parquet")
    return out


# ---------------------------------------------------------------------------
# grading


def _error(e: Exception) -> str:
    """One-line error: type, first message line, innermost engine frame."""
    tb = traceback.format_exc().splitlines()
    origin = next(
        (ln.strip() for ln in reversed(tb)
         if "database2ogr_spark" in ln or "__spark_entry__" in ln),
        "?",
    )
    msg = (str(e).strip().splitlines() or [""])[0]
    return f"{type(e).__name__}: {msg[:200]} | {origin[:110]}"


def _grade_twin(spark, con, name, fn, data_dir, sql, exact) -> str:
    try:
        sdf = fn(spark, data_dir)
        scols = sdf.columns
        srows = sdf.collect()
    except Exception as e:  # noqa: BLE001 — report, keep sweeping
        return f"FAIL {name}: spark error: {_error(e)}"
    # The driver's canonicalizer pandas-sorts cell values; list/dict cells
    # are unhashable and err the whole entry (shipped twice, rounds 2 and
    # 4, because the str()-sort below tolerates them). Reject them HERE so
    # the looser local harness never passes what the driver gate rejects.
    complex_cols = complex_typed_cols(sdf.schema)
    if complex_cols:
        return (
            f"FAIL {name}: complex-typed output columns {complex_cols} "
            "(ArrayType/MapType/StructType) — the driver canonicalizer "
            "cannot sort list cells; emit long form (posexplode) or a "
            "string encoding instead"
        )
    if sql is None:
        return f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols}"
    try:
        res = con.sql(sql)
        ocols = res.columns
        orows = res.fetchall()
        # re-run through .df(): the DRIVER's fetch path. fetchall() yields
        # HUGEINT as Python int (2 == 2.0 passes below); .df() yields
        # float64 and the driver hash-FAILs. fetchall for values, .df for
        # dtypes.
        odf = con.sql(sql).df()
    except Exception as e:  # noqa: BLE001
        return f"FAIL {name}: duckdb error: {e}"
    problems = dtype_mismatches(scols, srows, odf, schema=sdf.schema)
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        a = df_to_rows(scols, [[row[c] for c in scols] for row in srows], exact)
        b = df_to_rows(ocols, orows, exact)
        if a != b:
            problems.append("values differ; " + _first_diff(a, b, "spark", "oracle"))
    if problems:
        return f"FAIL {name}: " + "; ".join(problems)
    return f"OK   {name}: {len(srows)} rows"


def _grade_degrade(spark, name, fn, data_dir) -> str:
    try:
        rows = fn(spark, data_dir).collect()
    except ValueError as e:
        return f"GUARD {name}: ValueError: {str(e)[:100]}"
    except Exception as e:  # noqa: BLE001 — the sweep's whole point
        return f"FAIL {name}: {_error(e)}"
    return f"OK   {name}: {len(rows)} rows"


def _grade_self(spark, name, fn, data_dir, conf) -> str:
    """Rows as sorted reprs, so float bits must match exactly."""

    def canon(df) -> list[str]:
        cols = sorted(df.columns)
        return sorted(repr([row[c] for c in cols]) for row in df.collect())

    defaults = {k: spark.conf.get(k) for k in conf}
    try:
        a = canon(fn(spark, data_dir))
        for k, v in conf.items():
            spark.conf.set(k, v)
        b = canon(fn(spark, data_dir))
    except Exception as e:  # noqa: BLE001
        return f"FAIL {name}: error: {_error(e)}"
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)
    if a != b:
        return f"FAIL {name}: {len(a)} vs {len(b)} rows; " + _first_diff(
            a, b, "default", "perturbed"
        )
    return f"OK   {name}: {len(a)} rows"


def _first_diff(a: list, b: list, la: str, lb: str) -> str:
    i = next((j for j, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    return (
        f"first diff at sorted idx {i}:\n"
        f"    {la:<9}: {a[i] if i < len(a) else '<none>'}\n"
        f"    {lb:<9}: {b[i] if i < len(b) else '<none>'}"
    )


def sweep(
    spark,
    data_dir: str,
    names: list[str] | None = None,
    *,
    perturb: str | None = None,
    exact: bool = False,
    prefix: int | None = None,
) -> list[str]:
    """Grade the registry entries on ``data_dir`` (for a fixture kind,
    the fixture :func:`build_fixture` wrote) under ``perturb``'s contract,
    in registry order; print one verdict line per entry and return the
    FAIL lines.

    ``names`` filters (``None`` = all) and ``prefix`` keeps the first N
    registry entries. A requested name that is not in the registry is a
    FAIL, and so is a selection that matches nothing: a typo must never
    read as a green sweep.
    """
    p = PERTURBATIONS[perturb]
    qs = entrymod.queries()
    failures = [f"FAIL {n}: no such query" for n in names or () if n not in qs]
    todo = [n for n in list(qs)[:prefix] if names is None or n in names]
    if not todo and not failures:
        failures.append(f"FAIL: no queries match names={names} prefix={prefix}")
    for line in failures:
        print(line)
    oracles = entrymod.oracle_sql() if p.grade == "twin" else {}
    with duckdb.connect() as con:
        for t in TABLES if p.grade == "twin" else ():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        for name in todo:
            fn = qs[name]
            try:
                if p.grade == "twin":
                    line = _grade_twin(spark, con, name, fn, data_dir, oracles.get(name), exact)
                elif p.grade == "degrade":
                    line = _grade_degrade(spark, name, fn, data_dir)
                else:
                    line = _grade_self(spark, name, fn, data_dir, p.conf)
            finally:
                # same hygiene as bench.py: leftover localCheckpoint blocks
                # from one entry must not shape the next entry's run. The
                # release drops checkpoint blocks whose lineage is
                # truncated, so each grader reads rows only inside this try.
                benchmod._release_all_blocks(spark)
            print(line, flush=True)
            if line.startswith("FAIL"):
                failures.append(line)
    return failures


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Grade registry entries against their DuckDB twins, "
        "optionally on perturbed inputs."
    )
    ap.add_argument(
        "args",
        nargs="*",
        metavar="[sf_dir] name",
        help="source dir (when the first argument is a directory), then query names",
    )
    ap.add_argument("--exact", action="store_true", help="compare floats bit-for-bit")
    ap.add_argument("--perturb", choices=sorted(k for k in PERTURBATIONS if k))
    ap.add_argument("--prefix", type=int, help="grade only the first N registry entries")
    ns = ap.parse_intermixed_args(argv)
    rest = list(ns.args)
    src = rest.pop(0) if rest and os.path.isdir(rest[0]) else None
    names = rest or None

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    p = PERTURBATIONS[ns.perturb]
    with tempfile.TemporaryDirectory(prefix="sf_") as tmp:
        src = src or p.src
        data_dir = build_fixture(spark, src, tmp, ns.perturb) if p.transform else src
        failures = sweep(
            spark, data_dir, names, perturb=ns.perturb, exact=ns.exact, prefix=ns.prefix
        )
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
