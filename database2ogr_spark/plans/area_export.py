"""End-to-end export plans — the engine's equivalents of the reference's
three entry points (SURVEY.md §3):

- EP2 ``export_geojson_document``: area → one GeoJSON FeatureCollection
  (reference ``get_geojson``/``promiseOfGeoJson``,
  ``src/from-ground-up.js:179-369``).
- EP1 ``export_kmz``: area → KML document → KMZ archive (reference
  ``getKML``/``promiseKML``/``makeKMZStream``, ``src/from-ground-up.js:
  500-974``).
- EP3 ``export_ndjson``: full-corpus per-table NDJSON for tiling (reference
  ``mapboxing.js getGeoJSONLD``, ``src/mapboxing.js:171-334`` — with real
  newlines, bug ledger).

The six per-table queries are declared once (``ates_queries``) in the
reference's fixed order (``src/from-ground-up.js:303-357``); an export runs
them as one Spark application — the reference's ``Promise.all`` concurrency
(SURVEY.md §4) maps to Spark scheduling the six independent subtrees'
tasks concurrently, and at scale each subtree is a partitioned parquet/JDBC
scan rather than a single Postgres cursor.

Built once, bound per request. Only the area literal differs between two
documents of one kind, so the area-invariant half is built once per
catalog and kind (KML or GeoJSON), on the first request (``area_plan``):
the six immutable queries, their projection Columns (``kml_geometry``,
``envelope_geojson``) and the warnify grouping with its JSON or HTML
``warnings`` Column. The sinks build the ``placemark_xml`` and
``feature_json`` render Columns once per column list. Per request,
``build_table_dfs`` only reads the tables through ``catalog.table`` (so
data is read at request time), filters on the bound area and applies
the built Columns; the document then costs ``collect_sections`` (one
guarded collect). Batch mode (``export_ndjson``, ``area_id=None``) binds
the same sections without a predicate. No per-area DataFrame is kept: a
second action on one would reuse its materialized shuffle and serve stale
data.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import BinaryIO

from pyspark.sql import Column, DataFrame

from database2ogr_spark.operators.query import JoinQuery, Query
# warnify and warnify_html stay attributes of this module: perfbench times them by name
from database2ogr_spark.operators.warnify import (  # noqa: F401
    Grouping,
    warnify,
    warnify_columns,
    warnify_html,
)
from database2ogr_spark.sinks import geojson as gj
from database2ogr_spark.sinks import kml as kmlmod
from database2ogr_spark.sources.catalog import Catalog

#: the reference's fixed query-list order (src/from-ground-up.js:303-357)
TABLE_ORDER = (
    "areas_vw",
    "points_of_interest",
    "access_roads",
    "avalanche_paths",
    "decision_points",
    "zones",
)


def ates_queries(ogr_type: str = "GeoJSON") -> tuple[Query | JoinQuery, ...]:
    """The 5 Query + 1 JoinQuery set (GeoJSON mode: bbox on areas_vw and
    zones, reference ``:304-311``, ``:349-356``; KML mode: no bbox,
    ``:865-922``). The queries are immutable: batch mode binds them
    without a predicate (:meth:`Section.bind`)."""
    bbox = ogr_type == "GeoJSON"
    return (
        Query("areas_vw", ("name",), "id={param}", ogr_type, bounding_box=bbox),
        Query("points_of_interest", ("name", "type", "comments"), "area_id={param}", ogr_type),
        Query("access_roads", ("description",), "area_id={param}", ogr_type),
        Query("avalanche_paths", ("name",), "area_id={param}", ogr_type),
        JoinQuery(
            parent=Query(
                "decision_points", ("id", "name", "area_id", "comments"), None, ogr_type
            ),
            child=Query(
                "decision_points_warnings", ("warning", "type"), None, None,
                geometry_column=None,
            ),
            on=("id", "decision_point_id"),
            where="p.area_id={param}",
        ),
        Query("zones", ("class_code", "comments"), "area_id={param}", ogr_type, bounding_box=bbox),
    )


@dataclass(frozen=True, eq=False)
class Section:
    """The area-invariant half of one document section: its query, the
    query's projection Columns and, for decision points, the warnify
    grouping (the reference applies warnify only to that table,
    ``src/from-ground-up.js:287-289``, ``:612-615``)."""

    query: Query | JoinQuery
    columns: tuple[Column, ...]
    grouping: Grouping | None

    def bind(self, catalog: Catalog, area_id: int | None) -> DataFrame:
        """The per-request half: read the tables now, filter on the bound
        area (no filter in batch mode, ``area_id=None``), apply the built
        Columns."""
        predicate = None if area_id is None else self.query.predicate(area_id)
        df = self.query.bind(catalog, predicate, self.columns)
        return df if self.grouping is None else self.grouping.apply(df)


def _build_sections(ogr_type: str) -> tuple[Section, ...]:
    kml = ogr_type == "KML"
    sections = []
    for q in ates_queries(ogr_type):
        grouping = None
        if q.table == "decision_points":
            # decision_points rows arrive one-per-warning from the join
            grouping = (
                warnify_columns(warnings="html", geometry_format="kml")
                if kml
                else warnify_columns(warnings="json")
            )
        sections.append(Section(q, tuple(q.columns()), grouping))
    return tuple(sections)


_BUILD_LOCK = threading.Lock()


def area_plan(catalog: Catalog, ogr_type: str) -> tuple[Section, ...]:
    """The catalog's sections for one document kind, built on first use and
    kept on the catalog (``Catalog.area_plans``). A concurrent first request
    waits for the build instead of repeating it."""
    plan = catalog.area_plans.get(ogr_type)
    if plan is None:
        with _BUILD_LOCK:
            plan = catalog.area_plans.get(ogr_type)
            if plan is None:
                plan = catalog.area_plans[ogr_type] = _build_sections(ogr_type)
    return plan


def build_table_dfs(
    catalog: Catalog,
    area_id: int | None,
    ogr_type: str = "GeoJSON",
) -> list[tuple[str, DataFrame]]:
    """This request's (table, DataFrame) sections, warnify applied;
    ``area_id=None`` → full scans (EP3 batch mode, reference
    ``src/mapboxing.js:172-226`` passes ``where_clause=null``).

    ``area_id`` is a NUMBER in the reference (``src/from-ground-up.js:129``;
    the HTTP route admits only ``\\d+`` — service.py:26), so coerce here:
    an HTTP-layer string like ``"7"`` binds as the integer 7, and garbage
    raises a clear ValueError instead of a mid-plan ANSI cast error.
    Coercion goes through ``int(str(...))`` (ADVICE r9): a bare
    ``int(7.9)`` would silently truncate to area 7 — a digits-only
    contract must reject non-integral floats, not round them."""
    if area_id is not None:
        # int(str(x)) accepts ints and digit-strings; 7.9 (or "7.9")
        # raises instead of exporting the wrong area
        area_id = int(str(area_id))
    return [
        (s.query.table, s.bind(catalog, area_id)) for s in area_plan(catalog, ogr_type)
    ]


def export_geojson_document(catalog: Catalog, area_id: int) -> str:
    """EP2 — one FeatureCollection JSON document for the area."""
    table_dfs = build_table_dfs(catalog, area_id, "GeoJSON")
    return gj.feature_collection_json([df for _t, df in table_dfs])


def export_ndjson(catalog: Catalog, out_dir: str, area_id: int | None = None) -> list[str]:
    """EP3 — distributed per-table NDJSON export; returns written paths."""
    table_dfs = build_table_dfs(catalog, area_id, "GeoJSON")
    return [gj.write_ndjson(df, out_dir, table) for table, df in table_dfs]


def export_kml(
    catalog: Catalog,
    area_id: int,
    lang: str = "en",
    icon_number: int = 11,
    icon_dir_name: str = "files",
) -> str:
    """EP1 core — the KML document string for an area.

    Input validation mirrors F4 (reference ``src/from-ground-up.js:961-964``):
    icon_number ∈ {11, 15} else 11; lang ∈ {en, fr} else en. The document
    name comes from the areas_vw row carried as data (not positionally like
    the reference's ``rows[0][1].name`` — bug ledger), in the same collect
    as the placemarks; a nonexistent area gives an empty name.
    """
    icon_number = icon_number if icon_number in (11, 15) else 11
    lang = lang if lang in ("en", "fr") else "en"
    return kmlmod.kml_document(
        build_table_dfs(catalog, area_id, "KML"),
        lang=lang,
        icon_dir=f"{icon_dir_name}-{icon_number}",
        icon_number=icon_number,
    )


def export_kmz(
    catalog: Catalog,
    area_id: int,
    out_path: str | BinaryIO,
    lang: str = "en",
    icon_number: int = 11,
    icons_dir: str | None = None,
) -> str | BinaryIO:
    """EP1 — KMZ archive (doc.kml + icons) for the area, written to a path
    or a binary file object (``kml.write_kmz``)."""
    kml = export_kml(catalog, area_id, lang, icon_number)
    return kmlmod.write_kmz(kml, out_path, icons_dir)
