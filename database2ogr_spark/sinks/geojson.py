"""GeoJSON sinks (SURVEY.md §2.10 K1/K2).

``feature_json`` builds the per-row Feature document as a string column —
geometry is spliced in verbatim (it is already GeoJSON text), properties are
``to_json`` of the remaining columns with the special columns removed (P6
column hoist/drop, reference ``src/from-ground-up.js:196-199``), tagged with
the source table (reference ``:205-206``). It depends only on the column
names, so ``with_feature`` builds it once per table shape.

Scale stance: the one-file ``FeatureCollection`` (K1) is inherently
driver-bound — the reference builds it in memory (``src/from-ground-up.js:
212-215``) and so must any engine; it exists for parity and small exports.
A document costs one guarded collect over all its sections
(``collect_sections``), with section order pinned on the driver.
The scalable default is K2: proper newline-delimited GeoJSON written
distributed via ``df.write.text`` (the reference's GeoJSON-LD writer forgot
the newlines — bug ledger; we write real NDJSON).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Sequence
from operator import itemgetter

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

#: columns that are hoisted onto the Feature, never into properties
#: (reference src/from-ground-up.js:196-199, :250-251)
SPECIAL = ("geometry", "bounding_box")


def feature_json(
    columns: DataFrame | Sequence[str], *, drop: tuple[str, ...] = ()
) -> Column:
    """Feature document string for rows with these columns (a DataFrame
    stands for its own): ``{"type":"Feature","geometry":...,
    ["bounding_box":...,] "properties":{...}}``.

    Property bag = all columns except geometry/bounding_box/dropped ones,
    null fields omitted (JS ``JSON.stringify`` behavior the reference relies
    on). The ``table`` tag stays in properties like the reference's merged
    constant (``src/from-ground-up.js:134``).
    """
    from database2ogr_spark.functions.text import slugify

    cols = columns.columns if isinstance(columns, DataFrame) else list(columns)
    prop_cols = [c for c in cols if c not in SPECIAL and c not in drop]
    # the reference's Feature constructor slugifies the POI `type` property
    # (X1, src/from-ground-up.js:201-203)
    props = F.to_json(
        F.struct(
            *[
                (slugify(c).alias("type") if c == "type" else F.col(c))
                for c in prop_cols
            ]
        )
    )
    parts = [F.lit('{"type":"Feature","geometry":'), F.col("geometry")]
    if "bounding_box" in cols:
        parts += [F.lit(',"bounding_box":'), F.col("bounding_box")]
    parts += [F.lit(',"properties":'), props, F.lit("}")]
    return F.concat(*parts)


@functools.lru_cache(maxsize=64)
def _feature_column(columns: tuple[str, ...]) -> Column:
    # depends only on the names: built once per distinct table shape and
    # shared by every document (and thread) that renders it
    return feature_json(columns).alias("feature")


def with_feature(df: DataFrame) -> DataFrame:
    """Normalize any per-table export DataFrame to a single ``feature``
    string column (the union-ready shape for U1)."""
    return df.select(_feature_column(tuple(df.columns)))


#: default row cap for the driver-side single-document sinks (K1/K3). A
#: one-file document is assembled in driver memory by definition; past this
#: the export belongs on the distributed NDJSON path (K2).
DRIVER_SINK_MAX_ROWS = 1_000_000


class DriverSinkOverflow(RuntimeError):
    """Raised when a driver-side document sink would collect more rows than
    its cap — the caller should switch to the distributed sink instead."""


def collect_sections(
    sections: list[DataFrame], *, cap: int, sink: str, alternative: str
) -> list[list[Row]]:
    """Collect the sections of one driver-side document (K1/K3) in one
    guarded collect: the union of all sections (``cap`` is the total) is
    cut to ``cap + 1`` rows, and a document that comes back with more than
    ``cap`` rows raises :class:`DriverSinkOverflow`. A document costs that
    one action, not one per section, and the driver never holds more than
    ``cap + 1`` rows.

    The cut is a ``GlobalLimit`` over a single-partition exchange
    (``limit`` then ``coalesce(1)``), not the ``CollectLimit`` a bare
    ``limit().collect()`` plans: its scale-up ``executeTake`` runs a job
    per batch of partitions and can return up to partitions × (cap + 1)
    rows to the driver. A refused document may still move up to
    partitions × (cap + 1) rows through the one executor-side shuffle
    before it is refused.

    Each section's first column is its rendered string. Further columns
    ride along and read NULL in the sections that lack them. Returns one
    row list per section, in input order, each sorted by the rendered
    string on the driver. Python orders ``str`` by code point, and UTF-8
    preserves code-point order, so this is the order Spark's
    ``orderBy`` on UTF8_BINARY bytes gives. Sorting pins the document's
    bytes: a bare ``collect()`` would bake the partition layout into it.
    """
    tagged = [
        df.select(
            F.lit(i).alias("section"),
            F.col(df.columns[0]).alias("rendered"),
            *df.columns[1:],
        )
        for i, df in enumerate(sections)
    ]
    union = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged
    )
    collected = union.limit(cap + 1).coalesce(1).collect()
    if len(collected) > cap:
        raise DriverSinkOverflow(
            f"{sink}: more than {cap} rows, over the driver-side document "
            f"cap; write this export with {alternative} instead"
        )
    out: list[list[Row]] = [[] for _ in sections]
    for row in collected:
        out[row["section"]].append(row)
    return [sorted(rows, key=itemgetter("rendered")) for rows in out]


def feature_collection_json(
    feature_dfs: list[DataFrame], *, max_rows: int = DRIVER_SINK_MAX_ROWS
) -> str:
    """K1 — assemble one FeatureCollection document (driver-side collect;
    small-export path only — see module docstring). Guarded by ``max_rows``
    (total across tables): an over-cap export raises
    :class:`DriverSinkOverflow` pointing at the distributed K2 sink.

    Section order follows the input list order, mirroring the reference's
    query-list ordering guarantee (SURVEY.md §2.7). Within a section, rows
    are ordered by the rendered feature string (bug-ledger pin: the
    reference's within-section order is whatever its DB scan returned —
    accidental; see :func:`collect_sections`).
    """
    sections = collect_sections(
        [with_feature(df) for df in feature_dfs],
        cap=max_rows,
        sink="feature_collection_json (K1)",
        alternative="write_ndjson (K2, distributed)",
    )
    chunks = [row["rendered"] for rows in sections for row in rows]
    return '{"type":"FeatureCollection","features":[' + ",".join(chunks) + "]}"


def write_ndjson(df: DataFrame, out_dir: str, table: str) -> str:
    """K2 — newline-delimited GeoJSON, one directory per table, written
    distributed. Returns the output path. (Fixes the reference's
    missing-newline concatenation, ``src/mapboxing.js:324-330``.)"""
    path = os.path.join(out_dir, table)
    with_feature(df).write.mode("overwrite").text(path)
    return path
