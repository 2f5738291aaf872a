"""The three benchmark workloads.

Each workload generates its inputs from the seed, warms up, measures for the
given number of seconds, checks every output, and returns an ``Outcome``.

Every workload reports the same gated metrics (BENCHMARK.json lists them), each
over the workload's own operation: a KMZ request plus a GeoJSON call for one
area (area_requests), one full NDJSON export (batch_ndjson), one pass over the
registry queries (registry_heavy). Beside them, ``Outcome.named`` carries the
workload's own metrics under their own names, such as ``kmz_p50_s`` or
``registry.khop_reach.build_s``.

With tracing on, a workload also wraps the engine's layer functions with
timers and reads Spark's status stores, and reports per-layer metrics instead
of the end-to-end ones.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import urllib.error
import urllib.request
from contextlib import nullcontext
from dataclasses import dataclass, field
from http.server import ThreadingHTTPServer

import numpy as np

import checks
import datagen
from ledger import SparkLedger, Spans, scan_rows

# Sizes are set by the time budget: a run, set-up included, takes about a
# minute on 4 cores (README.md has the measured run times).
#: area_requests: 300 areas and about 41k features, CLIENTS closed-loop
#: clients, each warming up with WARMUP_PAIRS pairs first
AREA_COUNT, AREA_MEAN_FEATURES, CLIENTS, ZIPF_S, WARMUP_PAIRS = 300, 140, 2, 1.1, 2
#: batch_ndjson: about 280k features in 4 files per table, about 100 MB of NDJSON
BATCH_AREAS, BATCH_FILES = 2000, 4
#: registry_heavy: the query list, run in this order, and its scale factor
REGISTRY = (
    "khop_reach_sketched",
    "khop_reach",
    "frequent_itemsets",
    "prf_topk",
    "tfidf_cosine_pairs",
    "pretrain_pipeline",
    "bm25_topk",
    "minhash_lsh_pairs",
    "tpch_q1_pricing_summary",
)
REGISTRY_SF = 0.01
#: the golden ratio's fractional part, which spreads the request quantiles
GOLDEN = (5**0.5 - 1) / 2
#: size rank of the area at each popularity rank (0 = smallest area)
POPULAR_SIZE_RANKS = np.random.default_rng(3).permutation(AREA_COUNT)
#: a p90 needs this many samples of its request type in a run
P90_MIN_SAMPLES = 100


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    cores: int


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    #: the gated metrics: name -> (value, unit)
    metrics: dict = field(default_factory=dict)
    #: the workload's own metrics, by the names the layer table uses
    named: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.info.setdefault("problems", []).extend(problems[:3])


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1]


def _catalog(ctx: Ctx, path: str):
    from database2ogr_spark.schemas import ATES_SCHEMAS
    from database2ogr_spark.sources.catalog import Catalog

    return Catalog(ctx.spark, path, ATES_SCHEMAS)


def _wrap_export_layers(spans: Spans) -> None:
    """Time the export path's layers. ``plans.build`` is the driver's plan
    construction: the query set plus the warnify wiring of decision points."""
    from database2ogr_spark.plans import area_export
    from database2ogr_spark.sinks import geojson, kml

    spans.wrap(area_export, "build_table_dfs", "plans.build")
    spans.wrap(area_export, "warnify", "plans.build")
    spans.wrap(area_export, "warnify_html", "plans.build")
    spans.wrap(kml, "kml_document", "sinks.kml_document")
    spans.wrap(kml, "write_kmz", "sinks.kmz_zip")
    spans.wrap(geojson, "feature_collection_json", "sinks.feature_collection")
    spans.wrap(geojson, "write_ndjson", "sinks.write_ndjson")


def _sum_spark(totals: list[dict]) -> dict[str, float]:
    return {k: sum(t[k] for t in totals) for k in totals[0]}


def _layer_metrics(build_s: float, write_s: float, spark: dict, n_ops: int, busy_s: float, cores: int) -> dict:
    """The per-layer metrics every workload reports, per operation.
    ``spark`` holds the Spark totals of all ``n_ops`` operations, and
    ``busy_s`` the wall time they took."""
    return {
        "plans.build_s": (build_s, "s"),
        "sinks.write_s": (write_s, "s"),
        "spark.jobs_per_op": (spark["jobs"] / n_ops, "count"),
        "spark.tasks_per_op": (spark["tasks"] / n_ops, "count"),
        "spark.cpu_s_per_op": (spark["cpu_s"] / n_ops, "s"),
        "spark.util": (spark["run_s"] / (busy_s * cores), "ratio"),
        "spark.shuffle_bytes_per_op": (spark["shuffle_write"] / n_ops, "B"),
        "spark.spill_bytes_per_op": (spark["spill"] / n_ops, "B"),
    }


# --- area_requests -------------------------------------------------------


def area_requests(ctx: Ctx) -> Outcome:
    """Closed loop of CLIENTS threads. Each iteration draws an area
    Zipf-style, fetches its KMZ over HTTP, then builds its GeoJSON document."""
    from database2ogr_spark import service
    from database2ogr_spark.plans import area_export

    out = Outcome()
    t_setup = time.perf_counter()
    cat_dir = os.path.join(ctx.work, "catalog")
    manifest = datagen.write_ates(cat_dir, ctx.seed, AREA_COUNT, AREA_MEAN_FEATURES)
    out.info["datagen_s"] = time.perf_counter() - t_setup
    catalog = _catalog(ctx, cat_dir)
    out.info["catalog"] = {"features": manifest["features"], "digests": manifest["digests"]}

    spans = ledger = None
    server_ops: list[dict] = []
    if ctx.trace:
        spans, ledger = Spans(), SparkLedger(ctx.spark)
        _wrap_export_layers(spans)

        def traced_export_kmz(*args, **kwargs):
            with spans.op() as rec:
                op = {"spans": rec, "group": ledger.new_group("kmz")}
                t0 = time.perf_counter()
                try:
                    return area_export.export_kmz(*args, **kwargs)
                finally:
                    rec["export_kmz"] = time.perf_counter() - t0
                    server_ops.append(op)

        server = ThreadingHTTPServer(("127.0.0.1", 0), service.make_handler(catalog, export_kmz=traced_export_kmz))
    else:
        server = service.serve(catalog, port=0)
    serve_thread = threading.Thread(target=server.serve_forever, daemon=True)
    serve_thread.start()
    base = f"http://127.0.0.1:{server.server_address[1]}"

    # Request k of client c asks for the area at Zipf rank F^-1(u), where u
    # runs through the golden-ratio sequence: evenly spread quantiles, the
    # same for every seed. A request for an area already served reuses Spark's
    # compiled code for it and is about a fifth faster, so a fixed pattern of
    # repeats keeps runs comparable. Popularity rank r goes to the area of
    # size rank POPULAR_SIZE_RANKS[r]: a fixed shuffle, so popularity does not
    # follow size, and the requested sizes are the same for every seed. The
    # seed picks the catalog, and so which area has which size.
    cdf = np.cumsum(1.0 / np.arange(1, AREA_COUNT + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    popular = (np.argsort(manifest["area_sizes"], kind="stable") + 1)[POPULAR_SIZE_RANKS]

    def area_for(k: int, c: int) -> int:
        u = ((k * CLIENTS + c) * GOLDEN) % 1.0
        return int(popular[min(int(np.searchsorted(cdf, u, side="right")), AREA_COUNT - 1)])

    def one_pair(k: int, c: int) -> dict:
        area = area_for(k, c)
        lang = ("en", "fr")[k % 2]
        r = {"area": area}
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(f"{base}/{lang}/{area}.kmz", timeout=170) as resp:
                r["kmz"] = resp.read() if resp.status == 200 else None
        except (urllib.error.URLError, OSError) as e:
            r["kmz"], r["error"] = None, str(e)
        r["kmz_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with spans.op() if spans else nullcontext() as rec:
            group = ledger.new_group("geojson") if ledger else None
            try:
                r["geojson"] = area_export.export_geojson_document(catalog, area)
            except Exception as e:  # a failed export is a failed operation
                r["geojson"], r["error"] = None, f"{type(e).__name__}: {str(e)[:200]}"
        r["geojson_s"] = time.perf_counter() - t0
        if ledger:
            r["geojson_op"] = {"spans": rec, "group": group}
        return r

    def client(c: int, deadline: float | None, pairs: list) -> None:
        """Warm-up (no deadline): pairs 0 .. WARMUP_PAIRS-1; timed: from
        WARMUP_PAIRS on, until the deadline."""
        k = 0 if deadline is None else WARMUP_PAIRS
        while True:
            pairs.append(one_pair(k, c))
            k += 1
            if (k >= WARMUP_PAIRS) if deadline is None else (time.perf_counter() >= deadline):
                return

    def run_clients(deadline: float | None) -> list[dict]:
        per_client: list[list] = [[] for _ in range(CLIENTS)]
        threads = [threading.Thread(target=client, args=(i, deadline, per_client[i])) for i in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [r for rs in per_client for r in rs]

    try:
        warm = run_clients(None)
        out.setup_s = time.perf_counter() - t_setup
        n_server_warm = len(server_ops)
        t0 = time.perf_counter()
        pairs = run_clients(t0 + ctx.seconds)
        wall = time.perf_counter() - t0
    finally:
        server.shutdown()
        server.server_close()
        serve_thread.join()
        if spans:
            spans.restore()

    for r in warm + pairs:
        expected = manifest["per_area"][r["area"]]
        kmz_problems = checks.check_kmz(r["kmz"], expected) if r["kmz"] else [f"kmz failed: {r.get('error', 'non-200')}"]
        out.record(kmz_problems)
        out.record(checks.check_geojson(r["geojson"], expected) if r["geojson"] else [f"geojson failed: {r['error']}"])
    ok_requests = sum(bool(r["kmz"]) + bool(r["geojson"]) for r in pairs)
    kmz_s = [r["kmz_s"] for r in pairs]
    geo_s = [r["geojson_s"] for r in pairs]
    pair_p50 = statistics.median(a + b for a, b in zip(kmz_s, geo_s))
    out.info["requests"] = {
        "pairs": len(pairs), "wall_s": wall, "kmz_s": kmz_s, "geojson_s": geo_s,
        "warmup_kmz_s": [r["kmz_s"] for r in warm], "warmup_geojson_s": [r["geojson_s"] for r in warm],
        "areas": [r["area"] for r in pairs],
    }
    prefix = "area.trace." if ctx.trace else ""
    named = {
        prefix + "kmz_p50_s": (statistics.median(kmz_s), "s"),
        prefix + "geojson_p50_s": (statistics.median(geo_s), "s"),
        prefix + "requests_per_s": (ok_requests / wall, "1/s"),
    }
    for kind, xs in (("kmz", kmz_s), ("geojson", geo_s)):
        if len(xs) >= P90_MIN_SAMPLES:
            named[f"{prefix}{kind}_p90_s"] = (_p90(xs), "s")
    out.named.update(named)
    if not ctx.trace:
        out.metrics["p50_s"] = (pair_p50, "s")
        out.metrics["work_per_s"] = (ok_requests / wall, "1/s")
        return out

    kmz_ops = server_ops[n_server_warm:]
    geo_ops = [r["geojson_op"] for r in pairs]
    ops = kmz_ops + geo_ops
    # read Spark's stores only now, so that the reads do not slow the requests
    ledger.drain()
    for op in ops:
        op["job_ids"] = ledger.jobs(op["group"])
        op["spark"] = ledger.stage_totals(op["job_ids"])
    executions = ledger.scan_rows_by_execution()
    features = sum(manifest["per_area"][r["area"]][t] for r in pairs for t in checks.TABLES) * 2
    overhead = _mean(kmz_s) - _mean(op["spans"]["export_kmz"] for op in kmz_ops)
    build = sum(op["spans"]["plans.build"] for op in ops)
    write = sum(
        op["spans"]["sinks.kml_document"] + op["spans"]["sinks.kmz_zip"] + op["spans"]["sinks.feature_collection"]
        for op in ops
    )
    spark = _sum_spark([op["spark"] for op in ops])
    out.metrics.update(_layer_metrics(build / len(pairs), write / len(pairs), spark, len(pairs), wall, ctx.cores))
    out.metrics["trace.p50_s"] = (pair_p50, "s")
    out.metrics["trace.work_per_s"] = (ok_requests / wall, "1/s")
    m = out.named
    m["area.plans.build_s"] = (_mean(op["spans"]["plans.build"] for op in ops), "s")
    m["area.sinks.kml_document_s"] = (_mean(op["spans"]["sinks.kml_document"] for op in kmz_ops), "s")
    m["area.sinks.kmz_zip_s"] = (_mean(op["spans"]["sinks.kmz_zip"] for op in kmz_ops), "s")
    m["area.sinks.feature_collection_s"] = (_mean(op["spans"]["sinks.feature_collection"] for op in geo_ops), "s")
    m["area.service.overhead_s"] = (overhead, "s")
    m["area.spark.jobs_per_kmz"] = (_mean(op["spark"]["jobs"] for op in kmz_ops), "count")
    m["area.spark.jobs_per_geojson"] = (_mean(op["spark"]["jobs"] for op in geo_ops), "count")
    m["area.spark.tasks_per_request"] = (spark["tasks"] / len(ops), "count")
    m["area.spark.util"] = (spark["run_s"] / (wall * ctx.cores), "ratio")
    m["area.sources.scan_rows_per_feature"] = (
        sum(scan_rows(executions, op["job_ids"]) for op in ops) / max(features, 1), "ratio"
    )
    # share of the client-observed latency that the layer spans account for
    m["area.trace.coverage"] = ((build + write + overhead * len(kmz_ops)) / (sum(kmz_s) + sum(geo_s)), "ratio")
    return out


# --- batch_ndjson --------------------------------------------------------


def batch_ndjson(ctx: Ctx) -> Outcome:
    """Repeated full-corpus NDJSON exports (``area_id=None``)."""
    from database2ogr_spark.plans import area_export
    from database2ogr_spark.sinks import geojson

    out = Outcome()
    t_setup = time.perf_counter()
    cat_dir = os.path.join(ctx.work, "corpus")
    manifest = datagen.write_ates(cat_dir, ctx.seed, BATCH_AREAS, AREA_MEAN_FEATURES, n_files=BATCH_FILES)
    out.info["datagen_s"] = time.perf_counter() - t_setup
    catalog = _catalog(ctx, cat_dir)
    features = manifest["features"]
    out.info["corpus"] = {"features": features, "digests": manifest["digests"]}

    spans = ledger = None
    groups: list[tuple[str, str]] = []
    if ctx.trace:
        spans, ledger = Spans(), SparkLedger(ctx.spark)
        _wrap_export_layers(spans)
        timed_write = geojson.write_ndjson

        def grouped_write(df, out_dir, table):
            groups.append((table, ledger.new_group(f"ndjson-{table}")))
            return timed_write(df, out_dir, table)

        geojson.write_ndjson = grouped_write

    def export(k: int) -> tuple[float, dict]:
        target = os.path.join(ctx.work, f"ndjson-{k}")
        groups.clear()
        if ledger:
            groups.append(("build", ledger.new_group("ndjson-build")))
        with spans.op() if spans else nullcontext() as rec:
            t0 = time.perf_counter()
            paths = area_export.export_ndjson(catalog, target)
            dt = time.perf_counter() - t0
        out.record(checks.check_ndjson(paths, manifest["tables"]))
        op = {"s": dt}
        if ctx.trace:
            op["spans"] = dict(rec)
            op["bytes"] = sum(os.path.getsize(f) for p in paths for f in _files(p))
            per_table = {t: ledger.group_totals(g) for t, g in groups}
            op["spark"] = _sum_spark(list(per_table.values()))
            op["warnify_shuffle"] = per_table["decision_points"]["shuffle_write"]
        shutil.rmtree(target)
        return op

    try:
        export(0)
        out.setup_s = time.perf_counter() - t_setup
        ops = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < ctx.seconds:
            ops.append(export(len(ops) + 1))
    finally:
        if ctx.trace:
            geojson.write_ndjson = timed_write
            spans.restore()

    times = [op["s"] for op in ops]
    out.info["exports"] = len(ops)
    p50, per_s = statistics.median(times), features * len(ops) / sum(times)
    if not ctx.trace:
        out.metrics["p50_s"] = (p50, "s")
        out.metrics["work_per_s"] = (per_s, "1/s")
        out.named["features_per_s"] = (per_s, "1/s")
        return out
    build = _mean(op["spans"]["plans.build"] for op in ops)
    write = _mean(op["spans"]["sinks.write_ndjson"] for op in ops)
    spark = _sum_spark([op["spark"] for op in ops])
    out.metrics.update(_layer_metrics(build, write, spark, len(ops), sum(times), ctx.cores))
    out.metrics["trace.p50_s"] = (p50, "s")
    out.metrics["trace.work_per_s"] = (per_s, "1/s")
    m = out.named
    m["batch.plans.build_s"] = (build, "s")
    m["batch.sinks.write_s"] = (write, "s")
    m["batch.operators.warnify_shuffle_bytes"] = (_mean(op["warnify_shuffle"] for op in ops), "B")
    m["batch.spark.spill_bytes"] = (spark["spill"] / len(ops), "B")
    m["batch.spark.jobs_per_export"] = (spark["jobs"] / len(ops), "count")
    m["batch.spark.util"] = (spark["run_s"] / (sum(times) * ctx.cores), "ratio")
    m["batch.sinks.bytes_per_feature"] = (_mean(op["bytes"] for op in ops) / features, "B")
    m["batch.trace.features_per_s"] = (per_s, "1/s")
    return out


def _files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in os.listdir(path)]


# --- registry_heavy ------------------------------------------------------


def _release_blocks(spark) -> int:
    """Drop every persisted RDD, ``localCheckpoint`` blocks included, with a
    blocking unpersist; return how many there were."""
    spark.catalog.clearCache()
    leaked = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in leaked:
        rdd.unpersist(True)
    return len(leaked)


def _oracle_digests(sf_dir: str, names) -> dict[str, tuple[int, str]]:
    """Row count and digest of each query's DuckDB twin (``oracle_sql()``)."""
    import duckdb

    import __spark_entry__ as entry

    oracle = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in ("lineitem", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in names:
            res = con.sql(oracle[name])
            out[name] = checks.result_digest(res.columns, res.fetchall())
        return out
    finally:
        con.close()


def registry_heavy(ctx: Ctx) -> Outcome:
    """Passes over REGISTRY on the REGISTRY_SF tables, each query built and
    written to the noop sink.

    The first pass runs in the fresh session, as a batch job would: JIT, code
    generation and Python worker start-up are part of it. A separate warm-up
    pass would cost about 35 s whatever the data size, and does not fit in a
    run of under a minute.

    Right after a query's timed write, and outside its timing, the same
    DataFrame is collected for the oracle check against its DuckDB twin,
    whose results set-up computes. Every query ends with a blocking release
    of all blocks, so each starts cold."""
    import __spark_entry__ as entry

    out = Outcome()
    t_setup = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "registry")
    os.makedirs(sf_dir)
    out.info["tables"] = datagen.write_registry(sf_dir, ctx.seed, REGISTRY_SF)
    qs = entry.queries()
    want = _oracle_digests(sf_dir, REGISTRY)
    out.setup_s = time.perf_counter() - t_setup

    ledger = SparkLedger(ctx.spark) if ctx.trace else None
    passes: list[dict[str, dict]] = []
    t0 = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        rec = {}
        for name in REGISTRY:
            q = {}
            group = ledger.new_group(name) if ledger else None
            try:
                t1 = time.perf_counter()
                df = qs[name](ctx.spark, sf_dir)
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                q.update(build_s=t2 - t1, exec_s=t3 - t2)
                if ledger:  # keep the check's jobs out of the query's totals
                    ledger.new_group(f"{name}-check")
                got = checks.result_digest(df.columns, df.collect())
                out.record([] if got == want[name] else [f"{name}: spark {got} != oracle {want[name]}"])
            except Exception as e:  # a failing query is a failed operation, not a crashed run
                q.update(build_s=0.0, exec_s=0.0)
                out.record([f"{name}: {type(e).__name__}: {str(e)[:200]}"])
            t4 = time.perf_counter()
            q["leaked_rdds"] = _release_blocks(ctx.spark)
            q["cleanup_s"] = time.perf_counter() - t4
            if ledger:
                q["spark"] = ledger.group_totals(group)
            rec[name] = q
        passes.append(rec)
        now = time.perf_counter()
        # start another pass only if one as long as the last still fits the window
        if now - t0 + (now - t_pass) > ctx.seconds:
            break

    # ledger reads are not part of a pass, so traced and untraced passes compare
    pass_s = [sum(q["build_s"] + q["exec_s"] + q["cleanup_s"] for q in rec.values()) for rec in passes]
    out.info["passes"] = pass_s
    out.info["query_s"] = {n: [round(r[n]["build_s"] + r[n]["exec_s"], 3) for r in passes] for n in REGISTRY}
    p50, per_s = statistics.median(pass_s), len(REGISTRY) * len(passes) / sum(pass_s)
    if not ctx.trace:
        out.metrics["p50_s"] = (p50, "s")
        out.metrics["work_per_s"] = (per_s, "1/s")
        out.named["registry_pass_s"] = (p50, "s")
        return out
    build = _mean(sum(q["build_s"] for q in rec.values()) for rec in passes)
    write = _mean(sum(q["exec_s"] for q in rec.values()) for rec in passes)
    spark = _sum_spark([q["spark"] for rec in passes for q in rec.values()])
    out.metrics.update(_layer_metrics(build, write, spark, len(passes), sum(pass_s), ctx.cores))
    out.metrics["trace.p50_s"] = (p50, "s")
    out.metrics["trace.work_per_s"] = (per_s, "1/s")
    m = out.named
    for name in REGISTRY:
        qrecs = [rec[name] for rec in passes]
        build, execute = _mean(q["build_s"] for q in qrecs), _mean(q["exec_s"] for q in qrecs)
        sp = {k: _mean(q["spark"][k] for q in qrecs) for k in qrecs[0]["spark"]}
        p = f"registry.{name}."
        m[p + "build_s"] = (build, "s")
        m[p + "exec_s"] = (execute, "s")
        m[p + "jobs"] = (sp["jobs"], "count")
        m[p + "tasks"] = (sp["tasks"], "count")
        m[p + "util"] = (sp["run_s"] / max((build + execute) * ctx.cores, 1e-9), "ratio")
        m[p + "shuffle_bytes"] = (sp["shuffle_write"], "B")
        m[p + "spill_bytes"] = (sp["spill"], "B")
        m[p + "leaked_rdds"] = (_mean(q["leaked_rdds"] for q in qrecs), "count")
    m["registry.trace.pass_s"] = (p50, "s")
    return out


WORKLOADS = {"area_requests": area_requests, "batch_ndjson": batch_ndjson, "registry_heavy": registry_heavy}
