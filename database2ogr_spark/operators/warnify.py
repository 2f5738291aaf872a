"""The ``warnify`` operator — the reference's only true aggregation
(``src/from-ground-up.js:221-278``, KML variant ``:506-577``, batch variant
``src/mapboxing.js:252-310``): group decision-point rows (one per warning,
post-join) back into one row per decision point, pivoting warnings by type
into a two-key map.

Pinned semantics (SURVEY.md §7 M3 — the reference is ambiguous here; these
choices are the contract and the oracle encodes them):

(a) group key: the stringified geometry coordinates, exactly like the
    reference (``join(', ')``, ``src/from-ground-up.js:224-234``) — it proxies
    for the decision-point identity lost in the join projection.
(b) carry-over columns (id, name, area_id, comments): the reference is
    last-write-wins in JS object iteration order (``:252-256``) — pinned here
    as MIN over the group (deterministic, distribution-safe, SQL-expressible).
(c) both warning types always present, empty list if no warnings of that type
    (``src/from-ground-up.js:239-243``); lists sorted for determinism (the
    reference preserves row order, which Postgres does not guarantee anyway).

Spark shape: a single ``groupBy`` with conditional ``collect_list`` — partial
aggregation happens map-side, so the only shuffle is on the (small) group key.
No UDAF needed (SURVEY.md §2.11).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database2ogr_spark.functions import geometry as G

#: warning types as stored → slugified map keys
#: (reference src/from-ground-up.js:240-242, :551-554)
WARNING_TYPES = ("Managing risk", "Concern")


def pivoted_warning_lists(warning: Column, wtype: Column) -> list[Column]:
    """A2 — conditional collect_list pivot: one sorted list per warning type.

    ``collect_list`` drops the NULLs produced by the unmatched branch, so each
    list contains exactly the warnings of its type.
    """
    out = []
    for t in WARNING_TYPES:
        slug = t.lower().replace(" ", "-")
        out.append(
            F.sort_array(F.collect_list(F.when(wtype == t, warning))).alias(slug.replace("-", "_"))
        )
    return out


@dataclass(frozen=True, eq=False)
class Grouping:
    """The Columns of one warnify configuration: group key, aggregates and
    output projection. They hold no data, so one Grouping applies to any
    number of joined DataFrames (``plans/area_export`` builds one per
    catalog and document kind and applies it to every request)."""

    key: Column
    aggs: tuple[Column, ...]
    out: tuple[Column, ...]

    def apply(self, df: DataFrame) -> DataFrame:
        return df.groupBy(self.key).agg(*self.aggs).select(*self.out)


def warnify_columns(
    *,
    warnings: str = "json",
    carry_cols: tuple[str, ...] = ("id", "name", "area_id", "comments"),
    geometry_format: str = "geojson",
) -> Grouping:
    """Build the Columns of one warnify configuration over the joined
    ``warning``, ``type`` and ``geometry`` columns. Holds the single
    authoritative copy of the pinned grouping semantics (module docstring
    (a)-(c)); ``warnings`` picks the serialization of the pivoted lists:
    ``"json"`` (:func:`warnify`) or ``"html"`` (:func:`warnify_html`)."""
    aggs = (
        *pivoted_warning_lists(F.col("warning"), F.col("type")),
        *[F.min(c).alias(c) for c in carry_cols],
        F.min("table").alias("table"),
    )
    out = [F.col(c) for c in (*carry_cols, "table")]
    out.append(_rebuild_point(geometry_format).alias("geometry"))
    if warnings == "json":
        out.append(_warnings_json().alias("warnings"))
    elif warnings == "html":
        out.append(_warnings_html().alias("warnings"))
    else:
        raise ValueError(f"warnings must be json or html, not {warnings!r}")
    return Grouping(G.coords_key("geometry").alias("__key"), aggs, tuple(out))


def warnify(df: DataFrame, **kwargs) -> DataFrame:
    """Collapse joined (decision_point x warning) rows to one row per point.

    Output columns: carry_cols (MIN-aggregated), ``table``, ``geometry``
    (Point rebuilt from the group key, ``src/from-ground-up.js:266-277``),
    ``warnings`` (JSON string ``{"managing-risk":[...],"concern":[...]}`` —
    the reference's ``flatten_warnings = JSON.stringify``,
    ``src/from-ground-up.js:222``). Keyword arguments as
    :func:`warnify_columns`.
    """
    return warnify_columns(warnings="json", **kwargs).apply(df)


def _warnings_json() -> Column:
    # A4 — warnings map → JSON string; struct field order fixes key order to
    # {"managing-risk":[...],"concern":[...]} like the reference.
    return F.to_json(
        F.struct(
            F.col("managing_risk").alias("managing-risk"),
            F.col("concern").alias("concern"),
        )
    )


def _rebuild_point(geometry_format: str) -> Column:
    """Point geometry from the 'lon, lat' group key (reference
    ``src/from-ground-up.js:266-277``: split + parseFloat, X3/X5)."""
    parts = F.split(F.col("__key"), ", ")
    lon, lat = parts.getItem(0).cast("double"), parts.getItem(1).cast("double")
    return G.kml_point(lon, lat) if geometry_format == "kml" else G.point_geojson(lon, lat)


#: CSS popup header the reference prepends to the warnings table
#: (src/from-ground-up.js:523-525) — reproduced byte-for-byte.
_POPUP_META = (
    '<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">'
    "<style type=\"text/css\"><!--.orange-table {border: 1px solid black; "
    "background-color: #FFC000; font-size:9.0pt; padding: 10px 0; width: 333px;} "
    ".orange-table td, th { padding: 2px 10px; } .orange-table th { font-weight: "
    "bold; border-top: 1px solid black; text-align: left; } .orange-table "
    "th.first { border: none; } .green-check { color:#008A00; font-size:larger; "
    "display: block; float: left; padding-right: 4px; } .red-x { color: red; "
    "font-size: larger; display: block; float: left; padding-right: 4px; } "
    "--></style>"
)


def warnify_html(df: DataFrame, **kwargs) -> DataFrame:
    """KML variant (A5): warnings rendered as the reference's orange-table
    HTML popup (``src/from-ground-up.js:507-529``). Same grouping as
    :func:`warnify`; only serialization differs."""
    return warnify_columns(warnings="html", **kwargs).apply(df)


def _warnings_html() -> Column:
    """The popup: Concern checklist first (red ✗), then Managing risk
    (green), wrapped in the CSS popup header. The surrounding (slightly
    malformed) tr/tbody shape is reproduced exactly for golden parity."""
    from database2ogr_spark.functions.text import unescape_quotes

    def checklist(col: Column, bullet: str) -> Column:
        return F.array_join(
            F.transform(
                col,
                lambda w: F.concat(
                    F.lit(f'<tr><td><span class="{bullet}">&#x2717;</span>'),
                    unescape_quotes(w),
                    F.lit("</td></tr>"),
                ),
            ),
            "",
        )

    table = F.concat(
        F.lit('<table class="orange-table"><tbody><tr><th class="first">Concern</th></tr>'),
        checklist(F.col("concern"), "red-x"),
        F.lit("</tr><tr><tr><th>Managing risk</th></tr>"),
        checklist(F.col("managing_risk"), "green-check"),
        F.lit("<tr></tbody></table>"),
    )
    return F.concat(F.lit(_POPUP_META), table)
