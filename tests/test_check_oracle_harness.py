"""The local oracle harness must be at least as strict as the driver's
correctness gate.  The driver's canonicalizer pandas-sorts cell values, so
any ArrayType/MapType/StructType output column errs the whole entry — a
class of bug that shipped twice (rounds 2 and 4, `multimodal_decode` /
`project_embeddings`) precisely because the local str()-sort tolerated
list cells.  These tests pin the harness-side rejection and that no
registry entry emits a complex-typed column again.
"""

from __future__ import annotations

import importlib.util
import os
import sys

from pyspark.sql import functions as F


def _check_oracle_mod():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", "/root/repo/scripts/check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_complex_typed_cols_flags_array_map_struct(spark):
    mod = _check_oracle_mod()
    df = spark.range(3).select(
        F.col("id"),
        F.array(F.lit(1), F.lit(2)).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("mp"),
        F.struct(F.lit(1).alias("a")).alias("st"),
        F.lit("ok").alias("s"),
    )
    assert mod.complex_typed_cols(df.schema) == ["arr", "mp", "st"]


def test_complex_typed_cols_passes_scalars(spark):
    mod = _check_oracle_mod()
    df = spark.range(2).select(
        F.col("id"),
        F.lit(1.5).alias("d"),
        F.lit("x").alias("s"),
        F.lit(True).alias("b"),
    )
    assert mod.complex_typed_cols(df.schema) == []


def test_dtype_gate_catches_uncast_hugeint_sum(spark):
    """The r5 failure class end-to-end: DuckDB types integer ``sum()`` as
    HUGEINT, which ``.df()`` (the driver's fetch path) renders float64
    while Spark emits bigint — values equal, hashes differ.  The hardened
    harness must flag the dtype-kind mismatch that ``fetchall()``-based
    value comparison tolerates (``2 == 2.0``)."""
    import duckdb

    mod = _check_oracle_mod()
    sdf = spark.range(3).select(F.col("id"), (F.col("id") * 2).alias("s"))
    srows = sdf.collect()
    odf = duckdb.sql(
        "SELECT id, sum(id * 2) AS s FROM range(3) t(id) GROUP BY id"
    ).df()
    bad = mod.dtype_mismatches(sdf.columns, srows, odf)
    assert bad == ["dtype[s] spark=int oracle=float"]
    # and the cast repairs it
    odf_cast = duckdb.sql(
        "SELECT id, CAST(sum(id * 2) AS BIGINT) AS s FROM range(3) t(id) GROUP BY id"
    ).df()
    assert mod.dtype_mismatches(sdf.columns, srows, odf_cast) == []


def test_dtype_gate_catches_int_vs_float_literal(spark):
    """A plainer instance of the same class: oracle emits DOUBLE where
    Spark emits bigint (e.g. ``n / 1`` vs ``n``)."""
    import duckdb

    mod = _check_oracle_mod()
    sdf = spark.range(4).select(F.col("id"))
    odf = duckdb.sql("SELECT id / 1.0 AS id FROM range(4) t(id)").df()
    assert mod.dtype_mismatches(sdf.columns, sdf.collect(), odf) == [
        "dtype[id] spark=int oracle=float"
    ]


def test_dtype_gate_skips_empty_results(spark):
    """Dtypes of an empty frame are inference artifacts — no false FAILs
    on legitimately-empty query results."""
    import duckdb

    mod = _check_oracle_mod()
    sdf = spark.range(1).filter(F.lit(False)).select("id")
    odf = duckdb.sql("SELECT id FROM range(1) t(id) WHERE false").df()
    assert mod.dtype_mismatches(sdf.columns, sdf.collect(), odf) == []


def test_no_registry_entry_declares_complex_output(spark, tmp_path):
    """Every queries() entry must emit scalar columns only, and no build
    may leave a relation in the CacheManager.  Checked via the declared
    schema at sf0.001 (schema resolution only — no job runs for most
    entries; a handful materialize fixture side-inputs).

    The cache check is the release rule for persisted intermediates: an
    operator that persists releases what it persisted before it returns
    (``partitioning.finalize_lifecycle``), so no caller has to clear the
    cache after it.  ``persist()`` registers its relation at build time,
    so a lazily returned persist shows here without running the query."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod

    mod = _check_oracle_mod()
    cache = spark._jsparkSession.sharedState().cacheManager()
    offenders, cached = {}, []
    spark.catalog.clearCache()
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        bad = mod.complex_typed_cols(df.schema)
        if bad:
            offenders[name] = bad
        if not cache.isEmpty():
            cached.append(name)
            spark.catalog.clearCache()
    assert not offenders, f"complex-typed outputs would err the driver gate: {offenders}"
    assert not cached, f"entries left a cached relation after their build: {cached}"


def test_dtype_gate_schema_faithful_for_all_null_bigint(spark):
    """An all-NULL bigint column is float64 under BOTH toPandas (the
    driver's Spark-side path) and DuckDB .df() — the driver passes it.
    Value inference alone calls it object → false FAIL (the r6
    frequent_itemsets i3 case). With the declared schema the gate must
    agree with the driver."""
    import duckdb

    mod = _check_oracle_mod()
    sdf = spark.range(2).select(
        F.col("id"), F.lit(None).cast("bigint").alias("i3")
    )
    odf = duckdb.sql(
        "SELECT id, CAST(NULL AS BIGINT) AS i3 FROM range(2) t(id)"
    ).df()
    srows = sdf.collect()
    # schema-faithful: no mismatch (both sides float64 at the driver)
    assert mod.dtype_mismatches(sdf.columns, srows, odf, schema=sdf.schema) == []
    # and the schemaless fallback is the stricter artifact this guards
    assert mod.dtype_mismatches(sdf.columns, srows, odf) == [
        "dtype[i3] spark=object oracle=float"
    ]


def test_dtype_gate_timestamp_ntz_is_datetime(spark):
    """Spark timestamp_ntz columns render datetime64 under toPandas, same
    as DuckDB TIMESTAMP under .df() — the gate must not flag them
    (rolling_features false positive: typeName() is 'timestamp_ntz',
    not 'timestamp')."""
    import duckdb

    mod = _check_oracle_mod()
    sdf = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts, 1L AS n"
    )
    odf = duckdb.sql("SELECT TIMESTAMP '2024-01-01' AS ts, 1::BIGINT AS n").df()
    assert mod.dtype_mismatches(
        sdf.columns, sdf.collect(), odf, schema=sdf.schema
    ) == []


def test_every_registry_entry_has_an_oracle_twin():
    """No ROWS-ONLY entries: every queries() entry is hash-gradeable
    against DuckDB. ``register`` requires a twin, so this holds by
    construction; the test keeps the invariant visible."""
    import __spark_entry__ as entrymod

    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert qs <= oracles, sorted(qs - oracles)


def test_queries_and_oracle_sql_share_one_order():
    """Both readers walk the same registry order, so the twin list lines
    up with the engine list entry for entry."""
    import __spark_entry__ as entrymod

    assert list(entrymod.queries()) == list(entrymod.oracle_sql())


def test_registry_order_check_rejects_missing_extra_and_duplicate():
    """The import-time order check names every unlisted, unregistered and
    repeated entry instead of silently dropping or double-listing it."""
    import pytest

    import __spark_entry__ as entrymod

    check = entrymod._check_order
    registered = {"a": None, "b": None}
    check(("a", "b"), registered)
    with pytest.raises(ValueError, match=r"unlisted=\['b'\]"):
        check(("a",), registered)
    with pytest.raises(ValueError, match=r"unregistered=\['c'\]"):
        check(("a", "b", "c"), registered)
    with pytest.raises(ValueError, match=r"duplicate=\['a'\]"):
        check(("a", "b", "a"), registered)


#: The shipped round-11 prefix, band by band. The boundaries are
#: load-bearing: the driver grades exactly slots 1-50, and the band
#: arithmetic (3+37+5+3+2 = 50) is what makes the next rotation a pure
#: cut at slot 50. Update ONLY together with ``_QUERY_ORDER`` in
#: __spark_entry__.py.
R11_PRIORITY = [
    # (a) streaming_dedup: watermark now corpus-derived (ADVICE r10 #2),
    # stream reader nanos fallback (ADVICE r10 #1);
    # (b) streaming_dedup_evicting: NEW (VERDICT r10 #3);
    # (b) decontaminate_semantic_lsh: NEW (the banded-LSH scale tier the
    # second-decade probe motivated, VERDICT r10 #4)
    "streaming_dedup", "streaming_dedup_evicting",
    "decontaminate_semantic_lsh",
]
R11_R5_GREEN = [
    "rolling_features", "normalize_text",
    "winsorize_values", "contamination_report",
    "decontaminate_fraction", "truncate_to_budget",
    "csv_roundtrip", "ivf_index_topk",
    "orc_roundtrip", "copurchase_pagerank",
    "dataset_diff", "gap_fill",
    "label_propagation", "set_operations",
    "events_enrich_dim", "rank_functions",
    "weighted_median", "schema_evolution",
    "grouping_sets", "split_corpus_grouped",
    "heavy_hitters_sketch", "corrupt_file_resilience",
    "training_order", "decontaminate_semantic",
    "boolean_search", "dedup_survivors_priority",
    "pack_manifest", "vocab_coverage",
    "project_embeddings", "ann_recall_lsh",
    "quality_classifier", "zorder_key",
    "weighted_sample", "countmin_tokens",
    "pmi_bigrams", "pretrain_ledger",
    "stupid_backoff",
]
R11_SEC2_QUOTA = [
    # the five OLDEST §2 rows (r7-vintage) — the permanent quota, served
    # explicitly because the r5 FIFO band holds no §2 entries
    "a1_distinct", "s2_full_scan", "u1_union", "p3_envelope",
    "j2_dim_lookup",
]
R11_R6_HEAD = [
    # three of the five pulled-forward r6 rows; the last two
    # (sketch_rollup, curriculum_order) were displaced mid-round by the
    # late-(a) KML entries and now lead the r12 queue
    "validate_constraints", "pivot_event_counts", "late_interaction",
]
R11_LATE_A = [
    # late priority-(a): the CDATA ]]>-split hardening changed both KML
    # entries' rendering expression (byte-inert on the graded fixture —
    # goldens unchanged — but changed code takes a prefix slot)
    "ates_kml_placemarks", "ates_kml_document",
]
R12_QUEUE_HEAD = [
    # the two displaced r6-head rows, then the remaining r6-green set
    # (vintage-FIFO)
    "sketch_rollup", "curriculum_order",
    "normalize_homoglyphs", "bpe_learn", "bpe_segment", "novelty_stats",
    "phrase_search", "length_bucketed_batches", "bpe_subword_vocab",
]


def test_round11_graded_prefix_is_the_documented_rotation():
    """The driver grades only the FIRST 50 queries() entries (dict
    order), so the prefix IS the round's verification plan — an
    accidental dict reshuffle would silently spend the round re-grading
    the wrong entries. Pin the shipped round-11 prefix band by band AND
    the head of the round-12 queue, so the next rotation stays a pure
    cut at slot 50."""
    import __spark_entry__ as entrymod

    bands = [
        ("priority (a: changed streaming_dedup; b: two new entries)",
         R11_PRIORITY, 3),
        ("r5-green vintage-FIFO drain (contract deadline)", R11_R5_GREEN, 37),
        ("§2 quota (five oldest reference-surface rows)", R11_SEC2_QUOTA, 5),
        ("r6-green FIFO head (pulled forward to soften r12)", R11_R6_HEAD, 3),
        ("late (a): KML entries changed by the CDATA hardening",
         R11_LATE_A, 2),
    ]
    assert [len(b) for _, b, _ in bands] == [n for _, _, n in bands]
    want = [name for _, band, _ in bands for name in band]
    assert len(want) == 50
    names = list(entrymod.queries())
    got = names[:50]
    assert got == want, [
        (i, g, w) for i, (g, w) in enumerate(zip(got, want)) if g != w
    ]
    # round-12 queue head: the remaining r6-green set
    assert names[50:50 + len(R12_QUEUE_HEAD)] == R12_QUEUE_HEAD
    # the freshest rows (r10-graded prefix) sit at the very back
    assert names[-1] == "unpivot_measures"
    assert "streaming_dedup" not in names[50:]
    assert "streaming_dedup_evicting" not in names[50:]


def test_registry_is_282_post_freeze():
    """The freeze lifted in round 8 (VERDICT r7 #1/#2): the 278-entry
    frozen registry plus khop_reach_sketched (round 8), streaming_dedup
    (round 10 — the graded Structured Streaming execution), and the two
    round-11 additions: streaming_dedup_evicting (deterministic
    bounded-state eviction grading) and decontaminate_semantic_lsh (the
    banded-LSH semantic-decontamination scale tier). Update this count
    together with ``_QUERY_ORDER``."""
    import __spark_entry__ as entrymod

    assert len(entrymod.queries()) == 282


def test_embedding_validity_view_covers_every_embeddings_scan():
    """The embeddings ingestion contract is a mechanical rewrite of the
    uniformly-spelled `FROM embeddings)` tail (oracle side of
    similarity.is_valid_embedding / _emb()). If a future twin spells the
    scan differently, the rewrite silently misses it — this pin fails
    instead."""
    import re

    import __spark_entry__ as entrymod

    o = entrymod.oracle_sql()
    for name, sql in o.items():
        stripped = sql.replace(entrymod.EMB_VALID_SQL, "")
        assert not re.search(r"FROM embeddings\b", stripped), (
            f"{name}: embeddings scan outside the validity view"
        )


def _time_domain_names(entrymod) -> list[str]:
    return [n for n, e in entrymod._REGISTRY.items() if e.time_domain]


def test_time_domain_view_covers_every_listed_twin():
    """Mirror pin for the event-time domain contract: every twin whose
    entry is registered with ``time_domain=True`` reads events ONLY
    through the [1970, 2100) domain view (oracle side of
    cleaning.within_time_domain)."""
    import re

    import __spark_entry__ as entrymod

    view = (
        "FROM events WHERE ts >= TIMESTAMP '1970-01-01 00:00:00' "
        "AND ts < TIMESTAMP '2100-01-01 00:00:00'"
    )
    o = entrymod.oracle_sql()
    names = _time_domain_names(entrymod)
    assert len(names) == 35
    for name in names:
        stripped = o[name].replace(view, "")
        assert not re.search(r"FROM events\b", stripped), (
            f"{name}: events scan outside the time-domain view"
        )


def test_events_domain_rewrite_is_table_name_anchored():
    """ADVICE r8 #1 regression pin, now on the SHIPPED helper (ADVICE r9
    #1: the old pin re-implemented the regex locally and would still
    pass if __spark_entry__ lost the \\b anchor): the `FROM events`
    rewrite must not fire on longer table names (`events_archive` would
    silently become the domain view aliased `events_archive` — wrong
    table, quiet hash divergence) and must keep the single-letter alias
    whitelist (a keyword after a bare scan is not an alias)."""
    import __spark_entry__ as entrymod

    rewrite = entrymod.events_domain_rewrite
    ts_view = entrymod.TS_VIEW_SQL
    # 1) longer table names are untouched
    assert rewrite("SELECT * FROM events_archive") == (
        "SELECT * FROM events_archive"
    )
    # 2) keyword after a bare scan is not eaten as an alias
    got = rewrite("SELECT * FROM events WHERE x = 1")
    assert got == f"SELECT * FROM ({ts_view}) events WHERE x = 1"
    # 3) whitelisted alias is preserved
    got = rewrite("SELECT e.ts FROM events e JOIN t ON 1=1")
    assert got == f"SELECT e.ts FROM ({ts_view}) e JOIN t ON 1=1"
    # 4) oracle_sql() routes every flagged twin through THIS helper
    o = entrymod.oracle_sql()
    for name in _time_domain_names(entrymod):
        assert f"({ts_view})" in o[name], name


def test_every_twin_parses_and_binds_in_duckdb():
    """ADVICE r8 #1 harness hardening: EXPLAIN every oracle twin against
    DuckDB views of the sf0.001 parquet tables. Binding (not execution)
    catches unparseable SQL from a future rewrite miss — e.g. a
    multi-letter events alias yielding `(view) events <alias>` — at
    pytest time instead of at the driver's sf0.01 grade."""
    import duckdb

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    failures = []
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as exc:  # noqa: BLE001 - collect-and-report
            failures.append((name, str(exc).splitlines()[0]))
    assert not failures, failures
