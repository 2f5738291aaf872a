"""Declarative per-table query builders — the engine's equivalent of the
reference's ``Query`` / ``JoinQuery`` SQL-string generators
(``src/from-ground-up.js:37-123``, dup ``src/mapboxing.js:15-121``).

Where the reference eagerly builds a SQL string, these build a *DataFrame
plan*: projection (P1), serialized-geometry computed column (P2), bounding box
(P3), constant table tag (P5), optional parameterized predicate (F1/F3), and
the parent⋈child join with post-join filter (J1/F2). Catalyst then gets
predicate pushdown / column pruning / join selection for free (SURVEY.md §4).

Scale notes:
- the J1 child side (warnings) is a small dimension → explicit ``broadcast()``
  so the join never shuffles the parent.
- predicates are plain Column expressions → pushed into the parquet/JDBC scan
  (verify via ``PushedFilters`` in ``.explain("formatted")``).
- queries are immutable; building their Columns (``columns``,
  ``predicate``) is separate from applying them to a scan (``bind``), so
  the Columns of a fixed query set are built once and reused per request
  (``plans/area_export``).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database2ogr_spark.functions import geometry as G
from database2ogr_spark.schemas import GEOMETRY_COLUMN
from database2ogr_spark.sources.catalog import Catalog


def bind_param(expr: str, param: object | None, table: str) -> str:
    """Bind the reference's ``$1`` into a ``{param}`` placeholder as a SQL
    VALUE, never as raw expression text (F1 — the reference uses real bind
    parameters, ``src/from-ground-up.js:979``). Shared by Query and
    JoinQuery: a hyphenated string id interpolated bare would parse as
    subtraction (``area_id = no-such-area`` → unresolved-column error),
    and an embedded quote would be an injection vector."""
    if "{param}" not in expr:
        return expr
    if param is None:
        raise ValueError(f"query on {table} requires a bind parameter")
    if isinstance(param, str):
        # SQL-quote properly: single quotes doubled inside a
        # single-quoted literal (repr() would emit Python quoting —
        # invalid/ambiguous SQL for values containing apostrophes)
        bound = "'" + param.replace("'", "''") + "'"
    elif isinstance(param, (int, float)):
        bound = str(param)
    else:
        raise TypeError(f"unsupported bind parameter type: {type(param).__name__}")
    return expr.replace("{param}", bound)


class _Scan:
    """What :class:`Query` and :class:`JoinQuery` share: the split between
    building Columns (``columns``, ``predicate``) and applying them to one
    scan (``bind``). Built Columns hold no data and no area, so a server can
    build them once and bind them to every request's scan."""

    table: str
    where: str | None

    def predicate(self, param: object | None) -> Column | None:
        """The WHERE with ``param`` bound as the reference's ``$1`` (F1);
        None when the query has no WHERE (F3 full scan, reference
        ``src/mapboxing.js:70-74``)."""
        if self.where is None:
            return None
        return F.expr(bind_param(self.where, param, self.table))

    def build(self, catalog: Catalog, param: object | None = None) -> DataFrame:
        """Resolve to a DataFrame: bind ``param`` and this query's Columns
        to a fresh scan."""
        return self.bind(catalog, self.predicate(param), self.columns())


@dataclass(frozen=True)
class Query(_Scan):
    """One table's export query.

    Mirrors the reference constructor signature
    ``Query(table, non_geometry_columns, where_clause, ogr_type, lang,
    bounding_box, subquery, geometry_column)`` (``src/from-ground-up.js:59-91``)
    minus the dead parts (the ``subquery`` slot is never used; the
    no-geometry branch is unreachable — SURVEY.md §1.1 bug ledger).
    """

    table: str
    non_geometry_columns: Sequence[str]
    where: str | None = None  # SQL boolean expr with {param} placeholder
    ogr_type: str | None = "GeoJSON"  # 'GeoJSON' | 'KML' | None (no geometry output)
    bounding_box: bool = False
    geometry_column: str | None = GEOMETRY_COLUMN

    def columns(self) -> list[Column]:
        """The projection: non-geometry columns (P1), serialized geometry
        (P2), bounding box (P3) and the constant table tag (P5)."""
        cols: list[Column] = [F.col(c) for c in self.non_geometry_columns]
        if self.geometry_column is not None and self.ogr_type is not None:
            cols.append(self._geometry_expr().alias("geometry"))
            if self.bounding_box:
                cols.append(G.envelope_geojson(self.geometry_column).alias("bounding_box"))
        # P5 — constant table tag merged into every row
        # (reference src/from-ground-up.js:134, :449).
        cols.append(F.lit(self.table).alias("table"))
        return cols

    def bind(
        self, catalog: Catalog, predicate: Column | None, columns: Sequence[Column]
    ) -> DataFrame:
        """Scan the table, filter on ``predicate`` (if any), project ``columns``."""
        df = catalog.table(self.table)
        if predicate is not None:
            df = df.filter(predicate)
        return df.select(*columns)

    def _geometry_expr(self) -> Column:
        # P2 — geometry serialization dispatch (reference
        # src/from-ground-up.js:73-82): GeoJSON passes through (already the
        # storage form), KML is serialized expression-side.
        if self.ogr_type == "KML":
            return G.kml_geometry(self.geometry_column)
        return F.col(self.geometry_column)


@dataclass(frozen=True)
class JoinQuery(_Scan):
    """Parent ⋈ child inner equi-join (J1) with post-join filter (F2).

    Reference semantics (``src/from-ground-up.js:102-123``): projection is the
    union of both tables' column lists, geometry comes from the parent
    (``query1.geometry_column || query2.geometry_column``), and the WHERE is
    qualified on the parent (``decision_points.area_id = $1``,
    ``src/from-ground-up.js:347``).
    """

    parent: Query
    child: Query
    on: tuple[str, str] = ("id", "decision_point_id")  # parent key, child key
    where: str | None = None  # post-join predicate on parent cols
    broadcast_child: bool = True

    @property
    def table(self) -> str:
        return self.parent.table

    def columns(self) -> list[Column]:
        """The projection over the ``p``/``c`` aliases of :meth:`bind`."""
        cols: list[Column] = [F.col(f"p.{col}") for col in self.parent.non_geometry_columns]
        cols += [F.col(f"c.{col}") for col in self.child.non_geometry_columns]
        geom_source = self.parent if self.parent.geometry_column else self.child
        if geom_source.geometry_column is not None and self.parent.ogr_type is not None:
            side = "p" if geom_source is self.parent else "c"
            geo = F.col(f"{side}.{geom_source.geometry_column}")
            if self.parent.ogr_type == "KML":
                cols.append(G.kml_geometry(geo).alias("geometry"))
            else:
                cols.append(geo.alias("geometry"))
            if self.parent.bounding_box:
                cols.append(G.envelope_geojson(geo).alias("bounding_box"))
        cols.append(F.lit(self.table).alias("table"))
        return cols

    def bind(
        self, catalog: Catalog, predicate: Column | None, columns: Sequence[Column]
    ) -> DataFrame:
        """Join the two scans, filter on ``predicate`` (if any) after the
        join, project ``columns``."""
        p = catalog.table(self.parent.table).alias("p")
        c = catalog.table(self.child.table).alias("c")
        if self.broadcast_child:
            c = F.broadcast(c)
        pk, ck = self.on
        joined = p.join(c, F.col(f"p.{pk}") == F.col(f"c.{ck}"), "inner")
        if predicate is not None:
            joined = joined.filter(predicate)
        return joined.select(*columns)
