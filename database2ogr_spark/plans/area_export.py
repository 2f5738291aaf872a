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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from database2ogr_spark.operators.query import JoinQuery, Query
from database2ogr_spark.operators.warnify import warnify, warnify_html
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


def ates_queries(ogr_type: str = "GeoJSON") -> list[Query | JoinQuery]:
    """The 5 Query + 1 JoinQuery set (GeoJSON mode: bbox on areas_vw and
    zones, reference ``:304-311``, ``:349-356``; KML mode: no bbox,
    ``:865-922``)."""
    bbox = ogr_type == "GeoJSON"
    return [
        Query("areas_vw", ["name"], "id={param}", ogr_type, bounding_box=bbox),
        Query("points_of_interest", ["name", "type", "comments"], "area_id={param}", ogr_type),
        Query("access_roads", ["description"], "area_id={param}", ogr_type),
        Query("avalanche_paths", ["name"], "area_id={param}", ogr_type),
        JoinQuery(
            parent=Query(
                "decision_points", ["id", "name", "area_id", "comments"], None, ogr_type
            ),
            child=Query(
                "decision_points_warnings", ["warning", "type"], None, None,
                geometry_column=None,
            ),
            on=("id", "decision_point_id"),
            where="p.area_id={param}",
        ),
        Query("zones", ["class_code", "comments"], "area_id={param}", ogr_type, bounding_box=bbox),
    ]


def build_table_dfs(
    catalog: Catalog,
    area_id: int | None,
    ogr_type: str = "GeoJSON",
) -> list[tuple[str, DataFrame]]:
    """Run the query set; ``area_id=None`` → full scans (EP3 batch mode,
    reference ``src/mapboxing.js:172-226`` passes ``where_clause=null``).

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
    out: list[tuple[str, DataFrame]] = []
    for q in ates_queries(ogr_type):
        if area_id is None:
            q.where = None  # F3 — optional predicate: batch mode scans all
        df = q.build(catalog, param=area_id)
        out.append((q.table, df))
    return out


def _apply_warnify(table_dfs, html: bool):
    """decision_points rows arrive one-per-warning from the join; collapse
    them (reference applies warnify only to that table,
    ``src/from-ground-up.js:287-289``, ``:612-615``)."""
    out = []
    for table, df in table_dfs:
        if table == "decision_points":
            df = (
                warnify_html(df, geometry_format="kml")
                if html
                else warnify(df)
            )
        out.append((table, df))
    return out


def export_geojson_document(catalog: Catalog, area_id: int) -> str:
    """EP2 — one FeatureCollection JSON document for the area."""
    table_dfs = _apply_warnify(build_table_dfs(catalog, area_id, "GeoJSON"), html=False)
    return gj.feature_collection_json([df for _t, df in table_dfs])


def export_ndjson(catalog: Catalog, out_dir: str, area_id: int | None = None) -> list[str]:
    """EP3 — distributed per-table NDJSON export; returns written paths."""
    table_dfs = _apply_warnify(build_table_dfs(catalog, area_id, "GeoJSON"), html=False)
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
    table_dfs = _apply_warnify(build_table_dfs(catalog, area_id, "KML"), html=True)
    return kmlmod.kml_document(
        table_dfs,
        lang=lang,
        icon_dir=f"{icon_dir_name}-{icon_number}",
        icon_number=icon_number,
    )


def export_kmz(
    catalog: Catalog,
    area_id: int,
    out_path: str,
    lang: str = "en",
    icon_number: int = 11,
    icons_dir: str | None = None,
) -> str:
    """EP1 — KMZ archive (doc.kml + icons) for the area."""
    kml = export_kml(catalog, area_id, lang, icon_number)
    return kmlmod.write_kmz(kml, out_path, icons_dir)
