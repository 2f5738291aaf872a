"""Geometry expression helpers over GeoJSON-string columns.

The engine's geometry backend carries geometry exactly the way the reference
transports it: as serialized GeoJSON text (``ST_AsGeoJSON``, reference
``src/from-ground-up.js:73-90``). All operations below are native Column
expressions (``from_json`` + higher-order functions) — no Python UDFs, no
spatial jar required — so they run inside whole-stage codegen on executors at
any scale. If Apache Sedona is on the classpath, its ``ST_*`` expressions can
replace these one-for-one; the module is the portable fallback (SURVEY.md §7).

GeoJSON nesting depths (RFC 7946): Point=1, LineString=2 (and MultiPoint),
Polygon=3 (rings; ring 0 outer, rest holes), MultiPolygon=4. The reference
handles Point / LineString / Polygon+holes / MultiGeometry
(``src/from-ground-up.js:386-447``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_NUM = r"-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?"

# from_json schemas per geometry kind (coordinates depth differs by type).
_POINT_SCHEMA = "struct<type:string, coordinates:array<double>>"
_LINE_SCHEMA = "struct<type:string, coordinates:array<array<double>>>"
_POLY_SCHEMA = "struct<type:string, coordinates:array<array<array<double>>>>"
_MPOLY_SCHEMA = "struct<type:string, coordinates:array<array<array<array<double>>>>>"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --------------------------------------------------------------------------
# optional Sedona tier (SURVEY.md §1.5): when the Apache Sedona jars +
# python package are present AND SPARK_GRAFT_USE_SEDONA=1, the P2/P3
# geometry expressions route through the registered ST_* functions
# (ST_GeomFromGeoJSON → ST_Envelope → ST_AsGeoJSON), matching how the
# reference computes them in-database (src/from-ground-up.js:73-90). The
# expression tier below stays the portable default — it is the oracle
# contract (byte-stable output formatting) and needs no spatial jar.

_SEDONA_READY: bool | None = None


def sedona_available() -> bool:
    """True when Sedona is importable, registered, and opted into via
    ``SPARK_GRAFT_USE_SEDONA=1``. Registration happens once per process."""
    global _SEDONA_READY
    import os

    if os.environ.get("SPARK_GRAFT_USE_SEDONA") != "1":
        return False
    if _SEDONA_READY is None:
        try:
            from pyspark.sql import SparkSession
            from sedona.spark import SedonaContext

            spark = SparkSession.getActiveSession()
            if spark is None:
                return False  # don't cache: no session yet
            SedonaContext.create(spark)
            _SEDONA_READY = True
        except Exception:
            _SEDONA_READY = False
    return _SEDONA_READY


def _st(name: str, *args: Column) -> Column:
    return F.call_function(name, *args)


def geom_type(col: Column | str) -> Column:
    """Geometry kind ('Point', 'LineString', ...) from GeoJSON text."""
    return F.get_json_object(_c(col), "$.type")


def coords_numbers(col: Column | str) -> Column:
    """All numeric tokens of the geometry, in document order, as strings.

    Positions are always ``[lon, lat]`` pairs regardless of nesting, and the
    only numbers in a serialized geometry (GeoJSON *or* the KML fragments
    this engine emits) are coordinates, so the flat token stream alternates
    lon, lat, lon, lat, ... This powers nesting-agnostic envelope computation
    and the warnify group key without branching on geometry kind or format.
    """
    return F.regexp_extract_all(_c(col), F.lit(_NUM), 0)


def _envelope_fold(col: Column | str, finish) -> Column:
    """Single-pass envelope: one ``regexp_extract_all`` token scan feeds one
    ``aggregate`` that tracks min/max per lon/lat parity in its accumulator;
    ``finish`` maps the final accumulator (fields xmin/ymin/xmax/ymax) to the
    output. The naive formulation (four ``array_min``/``array_max`` over
    per-axis filtered copies) re-ran the regexp once per extracted field —
    on polygon strings the token scan *is* the cost, so folding is a ~4x win
    on the envelope path at any scale, and producing the *finished* value
    inside the fold keeps callers from duplicating the whole expression per
    struct field. ``least``/``greatest`` ignore NULLs, so the
    NULL-initialized accumulator needs no special casing and an empty
    coordinate list yields NULL bounds.
    """
    nums = coords_numbers(col)

    def step(acc: Column, x: Column) -> Column:
        d = x.cast("double")
        is_lon = acc.getField("i") % 2 == 0
        return F.struct(
            F.when(is_lon, F.least(acc.getField("xmin"), d))
            .otherwise(acc.getField("xmin")).alias("xmin"),
            F.when(~is_lon, F.least(acc.getField("ymin"), d))
            .otherwise(acc.getField("ymin")).alias("ymin"),
            F.when(is_lon, F.greatest(acc.getField("xmax"), d))
            .otherwise(acc.getField("xmax")).alias("xmax"),
            F.when(~is_lon, F.greatest(acc.getField("ymax"), d))
            .otherwise(acc.getField("ymax")).alias("ymax"),
            (acc.getField("i") + 1).alias("i"),
        )

    null_d = F.lit(None).cast("double")
    init = F.struct(
        null_d.alias("xmin"), null_d.alias("ymin"),
        null_d.alias("xmax"), null_d.alias("ymax"),
        F.lit(0).alias("i"),
    )
    return F.aggregate(nums, init, step, finish)


def envelope_bounds(col: Column | str) -> Column:
    """Bounding box as ``struct<xmin,ymin,xmax,ymax:double>`` — the analytic
    core of ``ST_Envelope`` (reference P3, ``src/from-ground-up.js:86-87``).

    Extract the fields from the *selected column* in a second ``select``
    (``df.select(envelope_bounds(g).alias("bb")).select("bb.xmin", ...)``)
    rather than calling ``.getField`` on this expression four times —
    CollapseProject leaves the non-cheap fold staged, so the token scan runs
    once per row.

    Routes through Sedona's native ``ST_Envelope`` when the optional tier is
    enabled (:func:`sedona_available`); identical bounds either way.
    """
    if sedona_available():
        g = _st("ST_GeomFromGeoJSON", _c(col))
        env = _st("ST_Envelope", g)
        return F.struct(
            _st("ST_XMin", env).alias("xmin"),
            _st("ST_YMin", env).alias("ymin"),
            _st("ST_XMax", env).alias("xmax"),
            _st("ST_YMax", env).alias("ymax"),
        )
    return _envelope_fold(
        col,
        lambda acc: F.struct(
            acc.getField("xmin").alias("xmin"),
            acc.getField("ymin").alias("ymin"),
            acc.getField("xmax").alias("xmax"),
            acc.getField("ymax").alias("ymax"),
        ),
    )


def envelope_geojson(col: Column | str) -> Column:
    """``ST_AsGeoJSON(ST_Envelope(geom))`` equivalent: closed-ring Polygon
    GeoJSON string from the bounds (reference emits this as the
    ``bounding_box`` column, ``src/from-ground-up.js:86-87``). The string is
    assembled inside the fold's finish lambda, so the bounds are computed
    exactly once per row no matter how often each corner appears in the
    ring text."""

    def pt(x: Column, y: Column) -> Column:
        return F.concat(F.lit("["), x.cast("string"), F.lit(","), y.cast("string"), F.lit("]"))

    def finish(acc: Column) -> Column:
        xmin, ymin = acc.getField("xmin"), acc.getField("ymin")
        xmax, ymax = acc.getField("xmax"), acc.getField("ymax")
        ring = F.concat_ws(
            ",", pt(xmin, ymin), pt(xmax, ymin), pt(xmax, ymax), pt(xmin, ymax), pt(xmin, ymin)
        )
        # Degenerate box (single position) → Point, matching PostGIS ST_Envelope.
        return F.when(
            (xmin == xmax) & (ymin == ymax),
            F.concat(F.lit('{"type":"Point","coordinates":'), pt(xmin, ymin), F.lit("}")),
        ).otherwise(
            F.concat(F.lit('{"type":"Polygon","coordinates":[['), ring, F.lit("]]}"))
        )

    return _envelope_fold(col, finish)


def point_geojson(lon: Column, lat: Column) -> Column:
    """Build a Point GeoJSON string from numeric lon/lat — used when
    ``warnify`` reconstructs geometry from its group key (reference
    ``src/from-ground-up.js:266-277``)."""
    return F.concat(
        F.lit('{"type":"Point","coordinates":['),
        lon.cast("string"),
        F.lit(","),
        lat.cast("string"),
        F.lit("]}"),
    )


def kml_point(lon: Column, lat: Column) -> Column:
    """KML Point fragment from numeric lon/lat (warnify rebuild, KML mode)."""
    return F.concat(
        F.lit("<Point><coordinates>"),
        lon.cast("string"),
        F.lit(","),
        lat.cast("string"),
        F.lit("</coordinates></Point>"),
    )


def coords_key(col: Column | str) -> Column:
    """The ``warnify`` group key: coordinates flattened to a ``', '``-joined
    string (reference ``src/from-ground-up.js:224-234`` builds exactly this
    via ``join(', ')``). Works for any geometry kind."""
    return F.array_join(coords_numbers(col), ", ")


# --- KML serialization (replaces reference's ST_AsKML + XML parse/reshape ---
# dance at src/from-ground-up.js:386-447 — we hold GeoJSON and emit KML
# directly with higher-order functions; no XML round-trip).


def _kml_coord_line(points: Column) -> Column:
    """``array<array<double>>`` → ``'lon,lat lon,lat ...'`` (KML coordinate
    text; reference X17 ``src/from-ground-up.js:387-391``)."""
    return F.array_join(
        F.transform(
            points,
            lambda p: F.concat_ws(",", p.getItem(0).cast("string"), p.getItem(1).cast("string")),
        ),
        " ",
    )


def _kml_point(col: Column) -> Column:
    c = F.from_json(col, _POINT_SCHEMA).getField("coordinates")
    return F.concat(
        F.lit("<Point><coordinates>"),
        F.concat_ws(",", c.getItem(0).cast("string"), c.getItem(1).cast("string")),
        F.lit("</coordinates></Point>"),
    )


def _kml_linestring(col: Column) -> Column:
    c = F.from_json(col, _LINE_SCHEMA).getField("coordinates")
    return F.concat(
        F.lit("<LineString><coordinates>"),
        _kml_coord_line(c),
        F.lit("</coordinates></LineString>"),
    )


def _kml_polygon_from_rings(rings: Column) -> Column:
    """rings: array<array<array<double>>> — ring 0 outer, rest holes
    (reference handles holes at ``src/from-ground-up.js:399-446``)."""
    outer = F.concat(
        F.lit("<outerBoundaryIs><LinearRing><coordinates>"),
        _kml_coord_line(F.element_at(rings, 1)),
        F.lit("</coordinates></LinearRing></outerBoundaryIs>"),
    )
    inners = F.array_join(
        F.transform(
            F.slice(rings, 2, F.greatest(F.size(rings) - 1, F.lit(0))),
            lambda ring: F.concat(
                F.lit("<innerBoundaryIs><LinearRing><coordinates>"),
                _kml_coord_line(ring),
                F.lit("</coordinates></LinearRing></innerBoundaryIs>"),
            ),
        ),
        "",
    )
    return F.concat(F.lit("<Polygon>"), outer, F.coalesce(inners, F.lit("")), F.lit("</Polygon>"))


def kml_geometry(col: Column | str) -> Column:
    """GeoJSON string → KML geometry XML fragment.

    Covers the reference's geometry surface (Point / LineString /
    Polygon+holes / MultiPolygon→MultiGeometry,
    ``src/from-ground-up.js:386-447``); unknown kinds yield NULL.
    """
    c = _c(col)
    t = geom_type(c)
    poly_rings = F.from_json(c, _POLY_SCHEMA).getField("coordinates")
    mpoly = F.from_json(c, _MPOLY_SCHEMA).getField("coordinates")
    return (
        F.when(t == "Point", _kml_point(c))
        .when(t == "LineString", _kml_linestring(c))
        .when(t == "Polygon", _kml_polygon_from_rings(poly_rings))
        .when(
            t == "MultiPolygon",
            F.concat(
                F.lit("<MultiGeometry>"),
                F.array_join(F.transform(mpoly, _kml_polygon_from_rings), ""),
                F.lit("</MultiGeometry>"),
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )
