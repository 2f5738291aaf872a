"""Output checks. Each returns a list of problems; an empty list means the
output is correct. A failed check counts the operation as failed."""

from __future__ import annotations

import decimal
import glob
import hashlib
import io
import json
import math
import os
import xml.etree.ElementTree as ET
import zipfile

#: document order of the exported tables (the reference's query-list order)
TABLES = ("areas_vw", "points_of_interest", "access_roads", "avalanche_paths", "decision_points", "zones")
BBOX_TABLES = ("areas_vw", "zones")
_KML = "{http://www.opengis.net/kml/2.2}"


def check_kmz(body: bytes, expected: dict[str, int]) -> list[str]:
    """The archive unzips, ``doc.kml`` parses, and each folder holds the
    expected number of placemarks."""
    try:
        with zipfile.ZipFile(io.BytesIO(body)) as zf:
            root = ET.fromstring(zf.read("doc.kml"))
    except (zipfile.BadZipFile, KeyError, ET.ParseError) as e:
        return [f"kmz unreadable: {e}"]
    folders = root.findall(f"{_KML}Document/{_KML}Folder")
    if len(folders) != len(TABLES):
        return [f"kmz has {len(folders)} folders, expected {len(TABLES)}"]
    got = [len(f.findall(f"{_KML}Placemark")) for f in folders]
    want = [expected[t] for t in TABLES]
    return [] if got == want else [f"kmz placemarks {got}, expected {want}"]


def check_geojson(doc: str, expected: dict[str, int]) -> list[str]:
    """The document parses, has the expected features per table, and every
    area and zone feature has a bounding box."""
    try:
        features = json.loads(doc)["features"]
    except (ValueError, KeyError, TypeError) as e:
        return [f"geojson unreadable: {e}"]
    counts = dict.fromkeys(TABLES, 0)
    missing_bbox = 0
    for f in features:
        table = f.get("properties", {}).get("table")
        counts[table] = counts.get(table, 0) + 1
        missing_bbox += table in BBOX_TABLES and "bounding_box" not in f
    problems = []
    if counts != {t: expected[t] for t in TABLES}:
        problems.append(f"geojson features {counts}, expected {expected}")
    if missing_bbox:
        problems.append(f"{missing_bbox} area/zone features without bounding_box")
    return problems


def ndjson_lines(path: str) -> int:
    n = 0
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, "rb") as fh:
            n += sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b""))
    return n


def check_ndjson(paths: list[str], expected: dict[str, int]) -> list[str]:
    """One directory per table, in document order, with one line per feature."""
    got = {os.path.basename(p.rstrip("/")): ndjson_lines(p) for p in paths}
    want = {t: expected[t] for t in TABLES}
    return [] if got == want else [f"ndjson lines {got}, expected {want}"]


def _cell(v):
    """Canonical cell: floats at 9 dp, integral numbers as int, so an engine's
    2.0 and another's 2 hash alike."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        v = round(v, 9)
        return int(v) if v.is_integer() and abs(v) < 2**63 else v
    return v


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash over columns sorted by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_cell(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return len(canon), h.hexdigest()[:16]
