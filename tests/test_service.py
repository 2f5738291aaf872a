"""K5 — HTTP service edge: route parsing, KMZ attachment, help, errors."""

from __future__ import annotations

import threading
import urllib.error
import urllib.request
import zipfile
from io import BytesIO

import pytest

from database2ogr_spark.service import serve


@pytest.fixture(scope="module")
def server(spark, ates_catalog):
    srv = serve(ates_catalog, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_help_route(server):
    with urllib.request.urlopen(f"{server}/") as r:
        assert r.status == 200
        assert b"GET /<lang>/<areaId>.kmz" in r.read()


def test_kmz_download(server):
    with urllib.request.urlopen(f"{server}/en/1.kmz") as r:
        assert r.status == 200
        assert r.headers["Content-Type"] == "application/vnd.google-earth.kmz"
        assert 'filename="1.kmz"' in r.headers["Content-Disposition"]
        z = zipfile.ZipFile(BytesIO(r.read()))
        assert "doc.kml" in z.namelist()
        assert b"<kml" in z.read("doc.kml")


def test_invalid_lang_falls_back(server):
    # F4 validation: unknown lang serves the en document rather than erroring
    with urllib.request.urlopen(f"{server}/xx/1.kmz") as r:
        assert r.status == 200


def test_unknown_route_404(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(f"{server}/not/a/route")
    assert e.value.code == 404


def test_export_failure_is_500_without_engine_text():
    # the engine's exception text (file paths, plan fragments) stays on the
    # server; the client gets a fixed plain-text body
    from http.server import ThreadingHTTPServer

    from database2ogr_spark.service import make_handler

    secret = "/data/warehouse/areas_vw.parquet: boom"

    def failing_export(*args, **kwargs):
        raise RuntimeError(secret)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(None, failing_export))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(f"http://127.0.0.1:{srv.server_address[1]}/en/1.kmz")
        body = e.value.read()
        assert e.value.code == 500
        assert e.value.headers["Content-Type"].startswith("text/plain")
        assert body
        assert b"boom" not in body and b"/data/" not in body
    finally:
        srv.shutdown()
        srv.server_close()
