"""KML document / KMZ archive sinks (SURVEY.md §2.10 K3/K4) plus the J2/J3
lookup dimensions (localized folder names, style URL resolution).

Placemark XML is built as a native Column expression per row (executors do
the string work in parallel); only the final Document assembly — ordering
folders by the query list and wrapping with the Style header — happens on the
driver over collected placemark strings, exactly the part that is inherently
single-document (same boundary the reference has,
``src/from-ground-up.js:579-624``). All folders, and the document name, come
back in one guarded count plus one collect (``geojson.collect_sections``);
placemark order within a folder is pinned on the driver. The render Columns
depend only on a folder's column names (``_folder_columns``), so they are
built once per folder shape and reused by every document.

Reference parity notes:
- element order inside <Placemark> mirrors the reference's push order:
  geometry, name, description(s), ExtendedData, styleUrl
  (``src/from-ground-up.js:830-861``).
- KML colors are ``aabbggrr``: authored ``rrggbbaa`` below and
  character-reversed like the reference (X2, ``src/from-ground-up.js:688-695``).
- 14 styles: 3 zone classes, areas, access roads, avalanche paths, decision
  points, 7 POI types (``src/from-ground-up.js:712-779``).
"""

from __future__ import annotations

import functools
import os
import zipfile
from collections.abc import Sequence
from typing import BinaryIO

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- J2: per-language display names (reference src/from-ground-up.js:40-57) --

NAMES: dict[str, dict[str, str]] = {
    "en": {
        "areas_vw": "Area",
        "points_of_interest": "Points of interest",
        "access_roads": "Access road",
        "avalanche_paths": "Avalanche path",
        "decision_points": "Decision point",
        "zones": "Zone",
    },
    "fr": {
        "areas_vw": "Régions",
        "points_of_interest": "Points d'intérêt",
        "access_roads": "Routes d'accès",
        "avalanche_paths": "Couloirs d’avalanche",
        "decision_points": "point de décision",
        "zones": "Zone",
    },
}

# --- J3: style URL lookup (reference src/from-ground-up.js:644-664) ----------

ZONE_STYLE_SLOTS = ["filler for slot 0", "zone_green_style", "zone_blue_style", "zone_black_style"]
POI_STYLES = {
    "Other": "point_of_interest_other_styles",
    "Parking": "point_of_interest_parking_styles",
    "Rescue Cache": "point_of_interest_rescue_cache_styles",
    "Cabin": "point_of_interest_cabin_styles",
    "Destination": "point_of_interest_destination_styles",
    "Lake": "point_of_interest_lake_styles",
    "Mountain": "point_of_interest_mountain_styles",
}
TABLE_STYLES = {
    "areas_vw": "area_styles",
    "access_roads": "access_road_styles",
    "avalanche_paths": "avalanche_path_styles",
    "decision_points": "decision_point_styles",
}

POI_ICONS = {
    "Other": "marker",
    "Parking": "parking",
    "Rescue Cache": "blood-bank",
    "Cabin": "shelter",
    "Destination": "attraction",
    "Lake": "water",
    "Mountain": "mountain",
}

LINE_WIDTH = 3
POI_COLOR = "000000ff"
FULL_TRANSPARENT = "00000000"
DP_COLOR = "ffc107ff"


def _rev(color: str) -> str:
    """rrggbbaa → aabbggrr (X2)."""
    return color[::-1]


def style_header_xml(icon_dir: str = "files-11", icon_number: int = 11) -> str:
    """The 14 <Style> definitions (driver-side constants — they are literals
    in the reference too, ``src/from-ground-up.js:712-779``)."""

    def icon(name: str) -> str:
        return f"<Icon><href>{icon_dir}/new-{name}-{icon_number}.png</href></Icon>"

    def style(sid: str, inner: str) -> str:
        return f'<Style id="{sid}">{inner}</Style>'

    def poly(color: str) -> str:
        return f"<PolyStyle><color>{_rev(color)}</color></PolyStyle>"

    def line(color: str, extra: str = "") -> str:
        return f"<LineStyle><width>{LINE_WIDTH}</width><color>{_rev(color)}</color>{extra}</LineStyle>"

    def iconstyle(color: str, icon_name: str) -> str:
        return f"<IconStyle><color>{_rev(color)}</color>{icon(icon_name)}</IconStyle>"

    parts = [
        style(ZONE_STYLE_SLOTS[1], poly("55ff0088")),  # green
        style(ZONE_STYLE_SLOTS[2], poly("0000ff88")),  # blue
        style(ZONE_STYLE_SLOTS[3], poly("00000088")),  # black
        style(TABLE_STYLES["areas_vw"], poly(FULL_TRANSPARENT)),
        style(
            TABLE_STYLES["access_roads"],
            line(
                "ffff00ff",
                f"<gx:outerColor>{_rev('ff00ff00')}</gx:outerColor>"
                f"<gx:outerWidth>{LINE_WIDTH + 5}</gx:outerWidth>",
            ),
        ),
        style(TABLE_STYLES["avalanche_paths"], line("ff0000ff")),
        style(
            TABLE_STYLES["decision_points"],
            f"<IconStyle><color>{_rev(DP_COLOR)}</color>{icon('decision-point-icon')}</IconStyle>",
        ),
    ]
    parts += [
        style(POI_STYLES[t], iconstyle(POI_COLOR, POI_ICONS[t])) for t in POI_STYLES
    ]
    return "".join(parts)


def style_url_col(columns: Sequence[str]) -> Column:
    """Per-row style URL resolution with fallback (J3 + X15; reference
    ``src/from-ground-up.js:844-858``) over rows with these columns: POI
    type → type style, zone class_code → class style, else the table
    default."""
    table = F.col("table")
    expr = F.lit(None).cast("string")
    if "type" in columns:
        type_map = F.create_map(
            *[F.lit(x) for kv in POI_STYLES.items() for x in kv]
        )
        expr = F.when(
            (table == "points_of_interest") & F.col("type").isNotNull(),
            type_map[F.col("type")],
        ).otherwise(expr)
    if "class_code" in columns:
        zone_map = F.create_map(
            *[
                F.lit(x)
                for i, s in enumerate(ZONE_STYLE_SLOTS)
                if i > 0
                for x in (i, s)
            ]
        )
        expr = F.when(
            (table == "zones") & F.col("class_code").isNotNull(),
            zone_map[F.col("class_code")],
        ).otherwise(expr)
    table_map = F.create_map(*[F.lit(x) for kv in TABLE_STYLES.items() for x in kv])
    # final literal fallback: a NULL styleUrl would null-propagate through the
    # placemark F.concat and crash kml_document's ''.join (the reference's
    # `styleUrl || style_urls[table]` never yields null either — it degrades
    # to a garbage-but-present string; we pin a default style id instead)
    return F.coalesce(expr, table_map[table], F.lit("default_styles"))


def _xml_escape(col: Column) -> Column:
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    return F.regexp_replace(out, ">", "&gt;")


def _cdata_escape(col: Column) -> Column:
    """Split any ``]]>`` inside a CDATA payload — the ONE character
    sequence a CDATA section cannot contain. The standard re-open trick
    (``]]>`` → ``]]]]><![CDATA[>``) closes the section after ``]]`` and
    reopens it before ``>``, so the concatenated character data parses
    back byte-identical while the document stays well-formed. The
    reference gets this for free from its serializer (``require('xml')``,
    src/from-ground-up.js:9); a raw-concat pipeline must do it
    explicitly, or one hostile description truncates the placemark and
    injects markup (round-11 hardening — content with ``]]>`` does occur
    in scraped corpora at scale)."""
    return F.regexp_replace(col, r"\]\]>", "]]]]><![CDATA[>")


def placemark_xml(columns: DataFrame | Sequence[str]) -> Column:
    """<Placemark> string column for rows with these columns (a DataFrame
    stands for its own). Optional fields are included only when the
    source value is present (X14, reference ``src/from-ground-up.js:830-860``);
    ``warnings`` HTML goes in CDATA inside ExtendedData."""
    cols = columns.columns if isinstance(columns, DataFrame) else list(columns)

    def opt(name: str, render: Column) -> Column:
        if name not in cols:
            return F.lit("")
        return F.when(F.col(name).isNotNull(), render).otherwise(F.lit(""))

    name_el = opt("name", F.concat(F.lit("<name>"), _xml_escape(F.col("name")), F.lit("</name>")))
    comments_el = opt(
        "comments",
        F.concat(F.lit("<description>"), _xml_escape(F.col("comments")), F.lit("</description>")),
    )
    description_el = opt(
        "description",
        F.concat(
            F.lit("<description><![CDATA["),
            _cdata_escape(F.col("description")),
            F.lit("]]></description>"),
        ),
    )
    type_el = opt(
        "type", F.concat(F.lit("<description>"), _xml_escape(F.col("type")), F.lit("</description>"))
    )

    extended: list[Column] = []
    if "warnings" in cols:
        extended.append(
            opt(
                "warnings",
                F.concat(
                    F.lit('<Data name="warnings"><value><![CDATA['),
                    _cdata_escape(F.col("warnings")),
                    F.lit("]]></value></Data>"),
                ),
            )
        )
    if "class_code" in cols:
        extended.append(
            opt(
                "class_code",
                F.concat(
                    F.lit('<Data name="class_code"><value>'),
                    F.col("class_code").cast("string"),
                    F.lit("</value></Data>"),
                ),
            )
        )
    if extended:
        ext_inner = F.concat(*extended) if len(extended) > 1 else extended[0]
        ext_el = F.when(
            ext_inner != "", F.concat(F.lit("<ExtendedData>"), ext_inner, F.lit("</ExtendedData>"))
        ).otherwise(F.lit(""))
    else:
        ext_el = F.lit("")

    style_el = F.concat(F.lit("<styleUrl>#"), style_url_col(cols), F.lit("</styleUrl>"))

    return F.concat(
        F.lit("<Placemark>"),
        # unknown geometry kinds serialize to NULL (functions/geometry
        # kml_geometry) — emit a geometry-less placemark, not a NULL row
        F.coalesce(F.col("geometry"), F.lit("")),
        name_el,
        comments_el,
        description_el,
        type_el,
        ext_el,
        style_el,
        F.lit("</Placemark>"),
    )


@functools.lru_cache(maxsize=64)
def _folder_columns(table: str, columns: tuple[str, ...]) -> tuple[Column, ...]:
    """The render Columns of one folder with these columns: the placemark
    string, plus the XML-escaped document name on ``areas_vw``. They depend
    only on the names, so they are built once per distinct folder shape
    and shared by every document (and thread) that renders it."""
    cols = [placemark_xml(columns).alias("placemark")]
    if table == "areas_vw":
        cols.append(F.coalesce(_xml_escape(F.col("name")), F.lit("")).alias("doc_name"))
    return tuple(cols)


def kml_document(
    table_dfs: list[tuple[str, DataFrame]],
    *,
    lang: str = "en",
    icon_dir: str = "files-11",
    icon_number: int = 11,
    max_rows: int | None = None,
) -> str:
    """K3 — assemble the full KML document string.

    ``table_dfs`` is the ordered (table, DataFrame) list — folder order
    follows it, mirroring the reference's query-list ordering (SURVEY.md
    §2.7). Placemark rendering runs distributed; the placemark strings of
    all folders come back in one guarded collect
    (``geojson.collect_sections``, placemarks ordered by their string
    within a folder), guarded by ``max_rows`` (default
    ``geojson.DRIVER_SINK_MAX_ROWS`` across all folders) — an over-cap
    export raises ``DriverSinkOverflow`` pointing at the distributed NDJSON
    path.

    The document name is the XML-escaped ``name`` column of the
    ``areas_vw`` folder, carried through the same collect; it is ``""``
    when that folder is empty or absent (no such area) or the name is NULL.
    """
    from database2ogr_spark.sinks.geojson import (
        DRIVER_SINK_MAX_ROWS,
        collect_sections,
    )

    sections = [
        df.select(*_folder_columns(table, tuple(df.columns))) for table, df in table_dfs
    ]
    collected = collect_sections(
        sections,
        cap=DRIVER_SINK_MAX_ROWS if max_rows is None else max_rows,
        sink="kml_document (K3)",
        alternative="write_ndjson (K2, distributed) or per-partition KML fragments",
    )
    lang_names = NAMES.get(lang, NAMES["en"])
    doc_name = ""
    folders = []
    for (table, _df), rows in zip(table_dfs, collected):
        if table == "areas_vw" and rows:
            doc_name = rows[0]["doc_name"]
        placemarks = "".join(row["rendered"] for row in rows)
        fname = lang_names.get(table, table)
        folders.append(f"<Folder>{placemarks}<name>{fname}</name></Folder>")
    styles = style_header_xml(icon_dir, icon_number)
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<kml xmlns="http://www.opengis.net/kml/2.2" '
        'xmlns:gx="http://www.google.com/kml/ext/2.2">'
        f"<Document>{''.join(folders)}{styles}<name>{doc_name}</name></Document>"
        "</kml>"
    )


def write_kmz(
    kml: str, out_path: str | BinaryIO, icons_dir: str | None = None
) -> str | BinaryIO:
    """K4 — zip ``doc.kml`` (+ optional icon directory) at max compression
    (reference uses zlib level 9, ``src/from-ground-up.js:940-941``) into
    ``out_path``: a file path, or a writable binary file object such as
    ``io.BytesIO`` (the service builds each archive in memory)."""
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED, compresslevel=9) as zf:
        zf.writestr("doc.kml", kml)
        if icons_dir and os.path.isdir(icons_dir):
            base = os.path.basename(icons_dir.rstrip("/"))
            for fn in sorted(os.listdir(icons_dir)):
                zf.write(os.path.join(icons_dir, fn), f"{base}/{fn}")
    return out_path
