"""Seeded synthetic inputs for the benchmark.

Two generators, both pure functions of a seed:

- ``write_ates`` writes an ATES catalog (one ``<table>.parquet`` directory per
  table, typed by ``database2ogr_spark.schemas.ATES_SCHEMAS``) and returns a
  manifest of the counts an export of it must produce, per table and per area.
- ``write_registry`` writes the ``lineitem`` and ``documents`` tables that the
  heavy registry queries read, in the layout of the TPC-H-style test data.

The ATES data covers decision points with 0 to 5 warnings of both types, all
seven POI types, Polygon (some with a hole) and MultiPolygon zones, and free
text that carries the XML-hostile ``<``, ``&`` and ``]]>``. Area names stay
plain text, because the KML document name is written unescaped.

Rows are written with pyarrow, so generating data needs no Spark session.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from database2ogr_spark.schemas import ATES_SCHEMAS

POI_TYPES = ("Other", "Parking", "Rescue Cache", "Cabin", "Destination", "Lake", "Mountain")
WARNING_TYPES = ("Managing risk", "Concern")
#: per-area share of features for each child table (plus one area row)
FEATURE_SHARES = {
    "points_of_interest": 0.15,
    "access_roads": 0.10,
    "avalanche_paths": 0.30,
    "decision_points": 0.20,
    "zones": 0.25,
}
#: largest area / smallest area, in features
SIZE_SKEW = 40.0

_WORDS = (
    "ridge bowl gully cornice slope trees glade col summit bench apron moraine "
    "creek lake cabin trail skin track exit entrance runout windward lee crust "
    "facet slab cliff band chute couloir basin saddle shoulder"
).split()
_HOSTILE = ("<", "&", "]]>", "a < b", "R&D", "x]]>y", "<b>bold</b>", "&amp;")

# lon -118..-114, lat 49..51: the reference's coordinate range
_LON0, _LAT0, _LON_SPAN, _LAT_SPAN = -118.0, 49.0, 4.0, 2.0

_SPARK_TO_ARROW = {"IntegerType": pa.int32(), "StringType": pa.string()}


def arrow_schema(table: str) -> pa.Schema:
    """The pyarrow twin of ``ATES_SCHEMAS[table]``."""
    return pa.schema(
        [
            pa.field(f.name, _SPARK_TO_ARROW[type(f.dataType).__name__], f.nullable)
            for f in ATES_SCHEMAS[table].fields
        ]
    )


def _text_pool(rng: np.random.Generator, size: int, lo: int, hi: int, hostile_p: float) -> list[str]:
    """Free-text values to draw from; about ``hostile_p`` of them carry an
    XML-hostile token."""
    pool = []
    for n, hostile, at, which in zip(
        rng.integers(lo, hi + 1, size),
        rng.random(size) < hostile_p,
        rng.random(size),
        rng.integers(0, len(_HOSTILE), size),
    ):
        words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), n)]
        if hostile:
            words.insert(int(at * (n + 1)), _HOSTILE[which])
        pool.append(" ".join(words))
    return pool


def _ring(xs, ys) -> str:
    return "[" + ",".join(f"[{x:.6f},{y:.6f}]" for x, y in zip(xs, ys)) + "]"


def _rect(x0: float, y0: float, x1: float, y1: float) -> str:
    return _ring((x0, x1, x1, x0, x0), (y0, y0, y1, y1, y0))


def _pt(x: float, y: float) -> str:
    return f'{{"type":"Point","coordinates":[{x:.6f},{y:.6f}]}}'


class _Draw:
    """Bulk random draws inside one area's grid cell."""

    def __init__(self, rng: np.random.Generator, cell: tuple[float, float, float, float], pools: dict):
        self.rng, self.cell, self.pools = rng, cell, pools

    def xy(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        x0, y0, cw, ch = self.cell
        r = 0.05 + 0.9 * self.rng.random((2, n))
        return x0 + cw * r[0], y0 + ch * r[1]

    def text(self, n: int, pool: str, null_p: float) -> list[str | None]:
        texts = self.pools[pool]
        idx = self.rng.integers(0, len(texts), n)
        nulls = self.rng.random(n) < null_p
        return [None if z else texts[i] for i, z in zip(idx, nulls)]

    def lines(self, n: int, max_pts: int) -> list[str]:
        counts = self.rng.integers(2, max_pts + 1, n)
        xs, ys = self.xy(int(counts.sum()))
        ends = np.cumsum(counts)
        return [
            '{"type":"LineString","coordinates":' + _ring(xs[e - c : e], ys[e - c : e]) + "}"
            for c, e in zip(counts, ends)
        ]

    def zones(self, n: int) -> list[str]:
        """30% MultiPolygon, 20% Polygon with a hole, the rest plain Polygon."""
        _, _, cw, ch = self.cell
        (ax, ay), (bx, by), (cx, cy) = self.xy(n), self.xy(n), self.xy(n)
        lx, ly = np.minimum(ax, bx), np.minimum(ay, by)
        hx, hy = np.maximum(ax, bx) + cw / 50, np.maximum(ay, by) + ch / 50
        out = []
        for z, kind in enumerate(self.rng.random(n)):
            rings = _rect(lx[z], ly[z], hx[z], hy[z])
            if kind < 0.3:
                other = _rect(cx[z], cy[z], cx[z] + cw / 40, cy[z] + ch / 40)
                out.append(f'{{"type":"MultiPolygon","coordinates":[[{rings}],[{other}]]}}')
                continue
            if kind < 0.5:
                qx, qy = (hx[z] - lx[z]) / 4, (hy[z] - ly[z]) / 4
                rings += "," + _rect(lx[z] + qx, ly[z] + qy, lx[z] + 2 * qx, ly[z] + 2 * qy)
            out.append(f'{{"type":"Polygon","coordinates":[{rings}]}}')
        return out


def area_sizes(rng: np.random.Generator, n_areas: int, mean_features: float) -> list[int]:
    """Log-spaced area sizes whose largest is ``SIZE_SKEW`` times the smallest,
    in seeded order. The sizes themselves do not depend on the seed: an area
    export scans whole tables, so a catalog's total size sets its latency."""
    u = rng.permutation(np.linspace(0.0, 1.0, n_areas))
    base = mean_features * math.log(SIZE_SKEW) / (SIZE_SKEW - 1)
    return [max(6, round(base * SIZE_SKEW**v)) for v in u]


def ates_rows(seed: int, n_areas: int, mean_features: float) -> tuple[dict[str, list[tuple]], dict]:
    """Generate every ATES table's rows and the export's expected counts.

    Expected counts follow the export's semantics: the decision-point join is
    inner, so only points with at least one warning reach a document.
    """
    rng = np.random.default_rng([seed, 1])
    sizes = area_sizes(rng, n_areas, mean_features)
    pools = {
        "name": _text_pool(rng, 512, 1, 4, 0.05),
        "comment": _text_pool(rng, 2048, 2, 14, 0.08),
        "plain": _text_pool(rng, 256, 1, 3, 0.0),
    }
    cols = math.ceil(math.sqrt(n_areas * _LON_SPAN / _LAT_SPAN))
    cw, ch = _LON_SPAN / cols, _LAT_SPAN / math.ceil(n_areas / cols)
    rows: dict[str, list[tuple]] = {t: [] for t in ATES_SCHEMAS}
    per_area: dict[int, dict[str, int]] = {}
    next_id = dict.fromkeys(ATES_SCHEMAS, 1)

    def ids(table: str, n: int) -> range:
        next_id[table] += n
        return range(next_id[table] - n, next_id[table])

    for i, size in enumerate(sizes):
        aid = i + 1
        x0, y0 = _LON0 + (i % cols) * cw, _LAT0 + (i // cols) * ch
        d = _Draw(rng, (x0, y0, cw, ch), pools)
        n = {t: max(1, round(share * size)) for t, share in FEATURE_SHARES.items()}
        name = f"Area {aid} {_WORDS[rng.integers(0, len(_WORDS))].title()}"
        outline = _rect(x0, y0, x0 + cw, y0 + ch)
        rows["areas_vw"].append((aid, name, f'{{"type":"Polygon","coordinates":[{outline}]}}'))

        k = n["points_of_interest"]
        # the first area carries every POI type in turn; later ones draw at random
        types = np.arange(k) % 7 if aid == 1 else rng.integers(0, 7, k)
        rows["points_of_interest"] += zip(
            ids("points_of_interest", k), [aid] * k, d.text(k, "name", 0.05),
            [POI_TYPES[t] for t in types], d.text(k, "comment", 0.1), map(_pt, *d.xy(k)),
        )
        k = n["access_roads"]
        rows["access_roads"] += zip(ids("access_roads", k), [aid] * k, d.text(k, "comment", 0.1), d.lines(k, 6))
        k = n["avalanche_paths"]
        rows["avalanche_paths"] += zip(ids("avalanche_paths", k), [aid] * k, d.text(k, "name", 0.05), d.lines(k, 8))

        k = n["decision_points"]
        dp_ids = ids("decision_points", k)
        # the warnify group key is the point's coordinates, so every decision
        # point sits on its own node of a per-area grid
        j = np.arange(k)
        xs, ys = x0 + cw / 34 * (1 + j % 32), y0 + ch / 34 * (1 + j // 32)
        rows["decision_points"] += zip(
            dp_ids, d.text(k, "plain", 0.0), [aid] * k, d.text(k, "comment", 0.3), map(_pt, xs, ys)
        )
        n_warn = rng.integers(0, 6, k)
        warn_dp = np.repeat(np.asarray(dp_ids), n_warn).tolist()
        rows["decision_points_warnings"] += zip(
            warn_dp, d.text(len(warn_dp), "comment", 0.0),
            [WARNING_TYPES[t] for t in rng.integers(0, 2, len(warn_dp))],
        )

        k = n["zones"]
        rows["zones"] += zip(
            ids("zones", k), [aid] * k, rng.integers(1, 4, k).tolist(), d.text(k, "comment", 0.1), d.zones(k)
        )
        per_area[aid] = {
            "areas_vw": 1,
            "points_of_interest": n["points_of_interest"],
            "access_roads": n["access_roads"],
            "avalanche_paths": n["avalanche_paths"],
            "decision_points": int((n_warn > 0).sum()),
            "zones": n["zones"],
        }
    tables = {t: sum(c[t] for c in per_area.values()) for t in per_area[1]}
    expected = {"tables": tables, "features": sum(tables.values()), "per_area": per_area, "area_sizes": sizes}
    return rows, expected


def file_digest(path: str) -> str:
    """sha256 prefix over a parquet file, or over a directory's files in name
    order."""
    files = [path] if os.path.isfile(path) else [os.path.join(path, f) for f in sorted(os.listdir(path))]
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def write_ates(out_dir: str, seed: int, n_areas: int, mean_features: float, n_files: int = 1) -> dict:
    """Write the catalog under ``out_dir``; return the manifest.

    Each table is a directory of ``n_files`` parquet files, split by row
    order, so a batch export reads several files per table.
    """
    rows, expected = ates_rows(seed, n_areas, mean_features)
    for table, trows in rows.items():
        tdir = os.path.join(out_dir, f"{table}.parquet")
        os.makedirs(tdir, exist_ok=True)
        schema = arrow_schema(table)
        step = math.ceil(len(trows) / n_files)
        for k in range(n_files):
            chunk = trows[k * step : (k + 1) * step]
            cols = list(zip(*chunk)) if chunk else [[] for _ in schema]
            arrays = [pa.array(c, f.type) for c, f in zip(cols, schema)]
            pq.write_table(
                pa.Table.from_arrays(arrays, schema=schema), os.path.join(tdir, f"part-{k:05d}.parquet")
            )
    expected["row_counts"] = {t: len(r) for t, r in rows.items()}
    expected["digests"] = {t: file_digest(os.path.join(out_dir, f"{t}.parquet")) for t in rows}
    return expected


# --- registry tables -----------------------------------------------------

#: the test data's 31-word vocabulary; BM25/PRF query terms come from it
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan shuffle slow small sort spark stream table "
    "the value vector window"
).split()
NEAR_DUP_SHARE = 0.15
#: about 40% en, the rest split evenly, as in the test data
DOC_LANGS = ("en", "en", "zh", "de", "fr", "es", "en", "en", "zh", "de", "fr", "es", "en")


def write_registry(out_dir: str, seed: int, sf: float) -> dict:
    """Write ``lineitem`` and ``documents`` at scale factor ``sf`` (0.1 has
    600k line items and 5000 documents, like the test data); return their
    row counts and digests."""
    rng = np.random.default_rng([seed, 2])
    n_orders, n_parts, n_supp = int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_lines = int(6_000_000 * sf)
    orderkey = np.sort(rng.integers(0, n_orders, n_lines))
    # 1-based line number within each order
    starts = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n_lines) - np.repeat(starts, np.diff(np.r_[starts, n_lines])) + 1
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    price = np.round(quantity * rng.integers(90_000, 210_000, n_lines) / 100.0, 2)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 3650, n_lines).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n_lines), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_lines)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    n_docs = int(50_000 * sf)
    vocab = np.array(DOC_VOCAB)
    words = [vocab[rng.integers(0, len(vocab), rng.integers(8, 100))] for _ in range(n_docs)]
    # near duplicates, so the similarity joins find pairs: about one document
    # in six copies an earlier one with a tenth of its words replaced
    for i in np.flatnonzero(rng.random(n_docs) < NEAR_DUP_SHARE)[1:]:
        w = words[rng.integers(0, i)].copy()
        edits = rng.random(len(w)) < 0.1
        w[edits] = vocab[rng.integers(0, len(vocab), int(edits.sum()))]
        words[i] = w
    texts = [" ".join(w) for w in words]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([DOC_LANGS[i] for i in rng.integers(0, len(DOC_LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    out = {}
    for name, table in (("lineitem", lineitem), ("documents", documents)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        out[name] = {"rows": table.num_rows, "digest": file_digest(path)}
    return out
