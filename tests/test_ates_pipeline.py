"""End-to-end ATES export pipeline tests (EP1/EP2/EP3 — SURVEY.md §3) over
the deterministic fixtures — golden checks on serialized GeoJSON/KML, the part
the DuckDB oracle can't express (SURVEY.md §5)."""

from __future__ import annotations

import glob
import json
import zipfile

from pyspark.sql import functions as F

from database2ogr_spark.plans.area_export import (
    export_geojson_document,
    export_kml,
    export_kmz,
    export_ndjson,
)
from database2ogr_spark.sinks.recipe import make_recipe


def test_geojson_document_area1(ates_catalog):
    doc = json.loads(export_geojson_document(ates_catalog, 1))
    assert doc["type"] == "FeatureCollection"
    feats = doc["features"]
    tables = [f["properties"]["table"] for f in feats]
    # query-list section ordering (SURVEY.md §2.7)
    order = ["areas_vw", "points_of_interest", "access_roads", "avalanche_paths",
             "decision_points", "zones"]
    assert sorted(set(tables), key=order.index) == [t for t in order if t in tables]
    assert tables == sorted(tables, key=order.index)
    # area filter: nothing from area 2
    area = next(f for f in feats if f["properties"]["table"] == "areas_vw")
    assert area["properties"]["name"] == "Kootenay Pass"
    assert "bounding_box" in area  # bbox hoisted onto the Feature (P3/P6)
    assert area["bounding_box"]["type"] == "Polygon"
    # every feature is valid GeoJSON-shaped: type/geometry/properties
    for f in feats:
        assert f["type"] == "Feature"
        assert f["geometry"]["type"] in {"Point", "LineString", "Polygon", "MultiPolygon"}
        assert "properties" in f


def test_geojson_warnify_in_document(ates_catalog):
    doc = json.loads(export_geojson_document(ates_catalog, 1))
    dps = [f for f in doc["features"] if f["properties"]["table"] == "decision_points"]
    # area 1 has decision points 1 (3 warnings) and 2 (1 warning) → 2 features
    assert len(dps) == 2
    w = {f["properties"]["id"]: json.loads(f["properties"]["warnings"]) for f in dps}
    assert w[1] == {
        "managing-risk": ["travel one at a time"],
        "concern": ["cornice overhead", "wind slab on lee slopes"],
    }
    assert w[2] == {"managing-risk": [], "concern": ["terrain trap below"]}


def test_poi_type_slugified_in_properties(ates_catalog):
    doc = json.loads(export_geojson_document(ates_catalog, 1))
    pois = [f for f in doc["features"] if f["properties"]["table"] == "points_of_interest"]
    types = {f["properties"]["type"] for f in pois}
    assert types <= {"other", "parking", "rescue-cache", "cabin", "destination", "lake",
                     "mountain"}
    assert "rescue-cache" in types  # space → dash (X1)


def test_kml_document_structure(ates_catalog):
    kml = export_kml(ates_catalog, 1, lang="en")
    assert kml.startswith('<?xml version="1.0"')
    assert kml.count("<Folder>") == 6
    assert "<name>Kootenay Pass</name>" in kml  # doc name from areas_vw
    # localized folder names (J2)
    for folder_name in ["Area", "Points of interest", "Access road", "Avalanche path",
                        "Decision point", "Zone"]:
        assert f"<name>{folder_name}</name>" in kml
    # 14 styles (3 zones + 4 tables + 7 POI) with reversed colors (X2):
    # green zone 55ff0088 -> 8800ff55
    assert kml.count("<Style id=") == 14
    assert "<color>8800ff55</color>" in kml
    # style resolution (J3): zone class_code 1 → green style
    assert "<styleUrl>#zone_green_style</styleUrl>" in kml
    assert "<styleUrl>#point_of_interest_rescue_cache_styles</styleUrl>" in kml
    # warnify HTML popup embedded in decision point placemark
    assert 'orange-table' in kml


def test_kml_french_names(ates_catalog):
    kml = export_kml(ates_catalog, 1, lang="fr")
    assert "<name>Régions</name>" in kml
    # F4: invalid lang falls back to en
    kml_en = export_kml(ates_catalog, 1, lang="xx")
    assert "<name>Area</name>" in kml_en


def test_kmz_archive(ates_catalog, tmp_path):
    out = str(tmp_path / "area1.kmz")
    export_kmz(ates_catalog, 1, out)
    with zipfile.ZipFile(out) as zf:
        assert "doc.kml" in zf.namelist()
        kml = zf.read("doc.kml").decode()
        assert kml.count("<Folder>") == 6


def test_ndjson_export_real_newlines(ates_catalog, tmp_path):
    # bug ledger: reference concatenated features with NO separators; we
    # write true newline-delimited GeoJSON
    paths = export_ndjson(ates_catalog, str(tmp_path), area_id=None)
    assert len(paths) == 6
    poi_files = glob.glob(f"{tmp_path}/points_of_interest/part-*")
    lines = []
    for p in poi_files:
        with open(p) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == 7  # all POIs, both areas (full scan mode F3)
    for ln in lines:
        f = json.loads(ln)
        assert f["type"] == "Feature"


def test_recipe_generation(tmp_path):
    r = json.loads(make_recipe(["out/zones.json", "out/areas_vw.json"], "someuser"))
    assert r["version"] == 1
    assert r["layers"]["zones"]["source"] == "mapbox://tileset-source/someuser/zones"
    assert r["layers"]["zones"]["minzoom"] == 0 and r["layers"]["zones"]["maxzoom"] == 22
    wrapped = json.loads(make_recipe(["a.json"], "u", wrap_name="myset"))
    assert set(wrapped) == {"recipe", "name"}


def test_kml_cdata_hostile_payload_stays_well_formed(spark):
    """A description/warnings payload containing ``]]>`` must not
    terminate its CDATA section early (sinks/kml._cdata_escape, round-11
    hardening): the rendered placemark parses as well-formed XML, the
    character data round-trips byte-identical, and nothing from the
    payload surfaces as ELEMENTS — the well-formedness property the
    reference inherits from its serializer library (require('xml')) and
    a raw-concat pipeline must enforce itself."""
    import xml.etree.ElementTree as ET

    from database2ogr_spark.sinks.kml import placemark_xml

    hostile = "before ]]><Placemark>injected</Placemark> after ]]> end"
    df = spark.createDataFrame(
        [("zones", "<Point><coordinates>0,0</coordinates></Point>", hostile, hostile)],
        "table string, geometry string, description string, warnings string",
    )
    xml_str = df.select(placemark_xml(df).alias("p")).collect()[0]["p"]
    root = ET.fromstring(xml_str)  # raises on the pre-fix early-terminated CDATA
    assert root.tag == "Placemark"
    # ElementTree merges adjacent CDATA sections: byte-identical roundtrip
    assert root.find("description").text == hostile
    warn = next(
        d for d in root.find("ExtendedData").findall("Data")
        if d.get("name") == "warnings"
    )
    assert warn.find("value").text == hostile
    # the payload's markup stayed character data — nothing was injected
    assert root.find(".//Placemark") is None


def test_driver_sink_row_cap_trips(spark):
    # K1/K3 are driver-bound by design; past the cap they must refuse with a
    # pointer at the distributed NDJSON sink instead of collecting
    import pytest

    from database2ogr_spark.sinks.geojson import (
        DriverSinkOverflow,
        feature_collection_json,
    )
    from database2ogr_spark.sinks.kml import kml_document

    df = spark.range(10).select(
        F.lit('{"type":"Point","coordinates":[0,0]}').alias("geometry"),
        F.col("id").alias("poi_id"),
        F.lit("points_of_interest").alias("table"),
    )
    with pytest.raises(DriverSinkOverflow, match="K1.*write_ndjson"):
        feature_collection_json([df], max_rows=5)
    with pytest.raises(DriverSinkOverflow, match="K3.*distributed"):
        kml_document([("points_of_interest", df)], max_rows=5)
    # under the cap both assemble normally
    doc = feature_collection_json([df], max_rows=10)
    assert doc.count('"type":"Feature"') == 10
    kml = kml_document([("points_of_interest", df)], max_rows=10)
    assert kml.count("<Placemark>") == 10

    # the cap is the total across sections, not per section
    six = df.limit(6)
    with pytest.raises(DriverSinkOverflow, match="K1.*write_ndjson"):
        feature_collection_json([six, six], max_rows=10)
    with pytest.raises(DriverSinkOverflow, match="K3.*distributed"):
        kml_document([("zones", six), ("points_of_interest", six)], max_rows=10)
    doc = feature_collection_json([six, six], max_rows=12)
    assert doc.count('"type":"Feature"') == 12
    kml = kml_document([("zones", six), ("points_of_interest", six)], max_rows=12)
    assert kml.count("<Placemark>") == 12


def test_collect_sections_bounds_driver_rows(spark):
    """The row-cap guard is the collect itself: a GlobalLimit of cap + 1
    over a single-partition exchange, so an over-cap document brings at
    most cap + 1 rows to the driver however many partitions feed it. A
    CollectLimit would scale up over partitions, up to partitions ×
    (cap + 1) rows."""
    import pytest

    from database2ogr_spark.session import executed_plans
    from database2ogr_spark.sinks.geojson import (
        DriverSinkOverflow,
        feature_collection_json,
    )
    from database2ogr_spark.sinks.kml import kml_document

    df = spark.range(0, 100, 1, 8).select(
        F.lit('{"type":"Point","coordinates":[0,0]}').alias("geometry"),
        F.col("id").alias("poi_id"),
        F.lit("points_of_interest").alias("table"),
    )
    assert df.rdd.getNumPartitions() >= 8
    for sink, export in [
        ("K1", lambda: feature_collection_json([df], max_rows=5)),
        ("K3", lambda: kml_document([("points_of_interest", df)], max_rows=5)),
    ]:

        def refused():
            with pytest.raises(DriverSinkOverflow, match=rf"\({sink}\): more than 5 rows"):
                export()
            return spark.range(1)

        _, plans = executed_plans(spark, refused)
        collect = [p for p in plans if "GlobalLimit 6" in p]
        assert len(collect) == 1, f"{sink}: {plans}"
        assert "Exchange SinglePartition" in collect[0], collect[0]
        assert not any("CollectLimit" in p for p in plans), plans


def test_collect_sections_matches_spark_string_order(spark):
    """collect_sections sorts on the driver with Python's str order; the
    documents stay byte-identical to an orderBy only because code-point
    order equals Spark's UTF-8 byte order, also past the BMP."""
    from database2ogr_spark.sinks.geojson import collect_sections

    words = [
        "Zone", "zone", "Area", "Avalanche", "Avalanche path", "Aval",
        "été", "etc", "Couloirs d’avalanche", "Couloirs d'avalanche",
        # CJK, an astral-plane emoji (a surrogate pair in UTF-16, whose
        # order would differ), the replacement character, U+FFFF
        "雪崩", "山", "\U0001F3D4 peak", "\ufffd", "\uffff", "~", "",
        "<Placemark>a", "<Placemark>ab", "<Placemark>é",
    ]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    spark_order = [r[0] for r in df.orderBy("s").collect()]
    (rows,) = collect_sections([df], cap=len(words), sink="test", alternative="none")
    assert [r["rendered"] for r in rows] == spark_order
    assert spark_order == sorted(words)


def test_kml_unknown_area_is_empty_document(ates_catalog):
    # the area name rides in the placemark collect; no area row → ""
    kml = export_kml(ates_catalog, 999)
    assert kml.count("<Folder><name>") == 6
    assert "<Placemark>" not in kml
    assert kml.endswith("<name></name></Document></kml>")


def test_kml_document_name_is_escaped(spark):
    # area names with markup characters stay character data; NULL gives ""
    import xml.etree.ElementTree as ET

    from database2ogr_spark.sinks.kml import kml_document

    ns = "{http://www.opengis.net/kml/2.2}"
    for name in ["Bow & Yoho", "<Rogers> Pass", None]:
        df = spark.createDataFrame(
            [("areas_vw", name)], "table string, name string"
        ).select("table", "name", F.lit(None).cast("string").alias("geometry"))
        doc = ET.fromstring(kml_document([("areas_vw", df)]))
        assert (doc.find(f"{ns}Document/{ns}name").text or "") == (name or "")


def test_document_sinks_partition_order_independent(ates_catalog):
    """Round-7 invariance-sweep catch, pinned forever: the single-document
    sinks (K1 FeatureCollection, K3 KML) must emit byte-identical
    documents regardless of the physical layout — a bare collect() used
    to bake the scan-split order into the document, so the same export
    hashed differently under a different spark.sql.files.maxPartitionBytes.
    Perturb the knobs the cluster actually varies and require equal bytes.
    """
    import hashlib

    from database2ogr_spark.plans.area_export import (
        export_geojson_document,
        export_kml,
    )

    spark = ates_catalog.spark
    knobs = {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        "spark.sql.adaptive.enabled": "false",
    }
    defaults = {k: spark.conf.get(k) for k in knobs}
    kml_a = export_kml(ates_catalog, 1, lang="en", icon_number=11)
    gj_a = export_geojson_document(ates_catalog, 1)
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        kml_b = export_kml(ates_catalog, 1, lang="en", icon_number=11)
        gj_b = export_geojson_document(ates_catalog, 1)
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)
    assert hashlib.md5(kml_a.encode()).hexdigest() == hashlib.md5(
        kml_b.encode()
    ).hexdigest()
    assert gj_a == gj_b


def test_export_area_id_is_coerced_and_validated(ates_catalog):
    """Area ids are numbers (reference src/from-ground-up.js:129; the HTTP
    route admits only digits). Numeric strings coerce at the export layer,
    garbage raises ValueError there — not an ANSI cast error mid-plan."""
    import json

    import pytest

    from database2ogr_spark.plans.area_export import export_geojson_document

    d = json.loads(export_geojson_document(ates_catalog, "999"))
    assert d["type"] == "FeatureCollection" and d["features"] == []
    with pytest.raises(ValueError):
        export_geojson_document(ates_catalog, "no-such-area")
    # ADVICE r9: a non-integral float must be REJECTED, not silently
    # truncated to a different area's export (int(7.9) -> area 7)
    with pytest.raises(ValueError):
        export_geojson_document(ates_catalog, 7.9)


def test_shared_area_plans_serve_concurrent_and_later_requests(spark, ates_dir, tmp_path):
    """A catalog builds each document kind's expression trees once and
    binds only the scans and the area per request. Pins that the sharing
    is invisible: cold first requests racing on a fresh catalog, a second
    area after a first, and a batch export after served requests all give
    the bytes a fresh catalog gives. The batch export covering every area
    shows no area predicate leaked into the shared trees."""
    import threading

    from database2ogr_spark.schemas import ATES_SCHEMAS
    from database2ogr_spark.sources import fixtures
    from database2ogr_spark.sources.catalog import Catalog

    def fresh():
        return Catalog(spark, ates_dir, ATES_SCHEMAS)

    requests = [
        (export_kml, 1), (export_kml, 2),
        (export_geojson_document, 1), (export_geojson_document, 2),
    ]
    raced = fresh()
    docs = [None] * len(requests)
    barrier = threading.Barrier(len(requests))

    def request(i, export, area):
        barrier.wait()
        docs[i] = export(raced, area)

    threads = [
        threading.Thread(target=request, args=(i, export, area))
        for i, (export, area) in enumerate(requests)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    serial = fresh()
    assert docs == [export(serial, area) for export, area in requests]

    served = fresh()
    export_kml(served, 1)
    export_geojson_document(served, 1)
    assert export_kml(served, 2, lang="fr") == export_kml(fresh(), 2, lang="fr")
    assert export_geojson_document(served, 2) == export_geojson_document(fresh(), 2)

    features = {}
    for path in export_ndjson(served, str(tmp_path)):
        lines = []
        for part in glob.glob(f"{path}/part-*"):
            with open(part) as fh:
                lines += [json.loads(ln) for ln in fh.read().splitlines() if ln]
        features[path.rsplit("/", 1)[1]] = lines
    assert {t: len(f) for t, f in features.items()} == {
        "areas_vw": len(fixtures.AREAS),
        "points_of_interest": len(fixtures.POINTS_OF_INTEREST),
        "access_roads": len(fixtures.ACCESS_ROADS),
        "avalanche_paths": len(fixtures.AVALANCHE_PATHS),
        # the inner join drops decision points without warnings
        "decision_points": len({w[0] for w in fixtures.DECISION_POINTS_WARNINGS}),
        "zones": len(fixtures.ZONES),
    }
    assert {f["properties"]["area_id"] for f in features["decision_points"]} == {1, 2}
