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
document per request). The expression trees of a document (queries,
geometry serialization, warnify, placemark rendering) are built on the
first request and shared by every later one, on any thread
(``plans.area_export``). A request only reads the tables, binds its area
and runs one guarded count plus one collect over its six sections, with
section order pinned on the driver (``sinks.geojson.collect_sections``).
Data is read at request time, so a request sees the tables as they are
then. The KMZ archive is built in memory. A production deployment would put this behind a queue or
pre-materialize per-area KMZs with one distributed job
(``export_ndjson``-style) and serve statically.
"""

from __future__ import annotations

import io
import logging
import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_ROUTE = re.compile(r"^/(?P<lang>[^/]+)/(?P<area_id>\d+)\.kmz$")

_log = logging.getLogger(__name__)

_ERROR = b"internal error: the KMZ export failed\n"

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
                # the archive is built in memory: no temp file per request
                buf = io.BytesIO()
                export_kmz(catalog, area_id, buf, lang=lang)
                body = buf.getvalue()
            except Exception:  # engine failure → 500, not a hung socket
                # the engine's message (file paths, plan text) stays in the
                # server log; the client gets a fixed body
                _log.exception("KMZ export failed for %s", self.path)
                self.send_response(500)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                self.send_header("Content-Length", str(len(_ERROR)))
                self.end_headers()
                self.wfile.write(_ERROR)
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
