"""K5 — the HTTP service edge (reference EP1: Express
``GET /:lang/:areaId.kmz`` → KMZ attachment, ``GET /`` → help;
``src/from-ground-up.js:976-1009``).

Deliberately a *thin* stdlib wrapper around the engine: no Spark logic lives
here. The engine call (``plans.area_export.export_kmz``) is the same pure
function batch jobs use; the service only parses the route, applies the F4
input validation the export already performs (lang ∈ {en, fr} else en,
icon ∈ {11, 15} else 11), and streams the archive back with the
Content-Disposition the reference sets via ``res.attachment(name)``
(``src/from-ground-up.js:969, :994``).

Scale note: per-request Spark work is the reference's own model (one
document per request). A request's document costs one guarded count plus one
collect over its six tables, with section order pinned on the driver
(``sinks.geojson.collect_sections``). A production deployment would put this
behind a queue or pre-materialize per-area KMZs with one distributed job
(``export_ndjson``-style) and serve statically.
"""

from __future__ import annotations

import os
import re
import tempfile
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_ROUTE = re.compile(r"^/(?P<lang>[^/]+)/(?P<area_id>\d+)\.kmz$")

_HELP = (
    "usage: GET /<lang>/<areaId>.kmz — lang in {en, fr} (default en)\n"
    "example: /en/1.kmz\n"
)


def make_handler(catalog, export_kmz=None):
    """Build the request-handler class bound to an engine catalog.

    ``export_kmz`` is injectable for tests; defaults to the real exporter.
    """
    if export_kmz is None:
        from database2ogr_spark.plans.area_export import export_kmz as _real

        export_kmz = _real

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test runs
            pass

        def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler API
            if self.path == "/":
                body = _HELP.encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            m = _ROUTE.match(self.path)
            if not m:
                self.send_response(404)
                self.end_headers()
                return
            area_id = int(m.group("area_id"))
            lang = m.group("lang")
            try:
                # TemporaryDirectory cleans up after the body is read — a
                # long-lived server must not leak one dir per request
                with tempfile.TemporaryDirectory() as d:
                    out = os.path.join(d, f"area{area_id}.kmz")
                    export_kmz(catalog, area_id, out, lang=lang)
                    with open(out, "rb") as fh:
                        body = fh.read()
            except Exception as e:  # engine failure → 500, not a hung socket
                msg = str(e).encode()[:500]
                self.send_response(500)
                self.send_header("Content-Length", str(len(msg)))
                self.end_headers()
                self.wfile.write(msg)
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/vnd.google-earth.kmz")
            self.send_header(
                "Content-Disposition", f'attachment; filename="{area_id}.kmz"'
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    return Handler


def serve(catalog, port: int = 3000):
    """Blocking server loop (reference listens on 3000,
    ``src/from-ground-up.js:1005-1007``). Returns the server object when
    constructed with port 0 for tests (caller runs ``serve_forever``)."""
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(catalog))
    return server
