"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
bounded (<1.5 KB — the driver keeps a 2000-char stdout tail) JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {5 slowest},
"sf": ..., "baseline_r01_subtotal": ..., "worst5_vs_prev_round": ...,
"full_timings": "BENCH_FULL_r{N}.json"}. The complete per-query dict is
written to that repo sidecar file, which is the durable per-round record
(inlining every per-query time overflowed the 2000-char stdout tail once
the headline set reached 178 queries). A run with $SPARK_GRAFT_CPUS below the
CPUs the process may use is a scaling run and writes
BENCH_FULL_r{N}_c{K}.json instead (see _full_sidecar).

Each query is materialized with the no-op writer (full execution, no
collect-to-driver skew in the timing). A warmup query initializes the JVM,
parquet footers, and codegen so per-query numbers reflect steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from pyspark.sql import functions as F

from database2ogr_spark.session import get_spark

#: headline set: the reference-surface pipeline pieces + each training-data
#: operator family, heaviest variants.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q13_order_distribution",
    "tpch_q7_nation_volume",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "window_top_orders_per_segment",
    "topk_quality_docs",
    "j1_parent_child_join",
    "warnify",
    "geojson_features",
    "p3_envelope",
    "dedup_exact",
    "text_quality",
    "lang_id",
    "decontaminate",
    "repetition_stats",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    # near_dup_groups_exact (the deterministic oracle twin of near_dup_groups,
    # bounded-quadratic by max_df) is deliberately NOT benched: the headline
    # reflects scale-path plans; the twin stays in CORRECTNESS + pytest.
    "near_dup_groups",
    "cosine_topk",
    "embedding_near_dup",
    "events_windowed",
    "events_sessionize",
    "events_attribution_join",
    "asof_join",
    "tfidf_top_terms",
    "ivf_topk",
    "lang_source_rollup",
    "pack_sequences",
    "redact_pii",
    "chunk_documents",
    "embedding_centroids",
    "kmeans_embeddings",
    "semantic_dedup",
    "duplicate_spans",
    "temperature_resample",
    "build_vocab",
    "unigram_logprob",
    "range_join",
    "hypertable_rollup",
    "dedup_incremental_lsh",
    "webdataset_roundtrip",
    "pretrain_pipeline",
    "rolling_features",
    "normalize_text",
    "truncate_to_budget",
    "ann_recall_lsh",
    "gap_fill",
    "training_order",
    "quality_classifier",
    "zorder_key",
    "weighted_sample",
    "countmin_tokens",
    "late_interaction",
    "pmi_bigrams",
    "pretrain_ledger",
    "stupid_backoff",
    "curriculum_order",
    "normalize_homoglyphs",
    "bpe_learn",
    "bpe_segment",
    "novelty_stats",
    "phrase_search",
    "length_bucketed_batches",
    "bpe_subword_vocab",
    "blocklist_screen",
    "profile_columns",
    "calibration_report",
    "apply_changes",
    "triangle_count",
    "budget_select",
    "mad_outliers",
    "hard_negatives",
    "whiten_embeddings",
    "char_entropy",
    "quantile_normalize",
    "fuzzy_match",
    "multimodal_exact_dedup",
    "multimodal_phash",
    "fk_integrity",
    "drift_report",
    "skew_report",
    "dedup_recall",
    "lang_confusion",
    "classifier_auc",
    "label_diversity",
    "funnel_steps",
    "retention_cohorts",
    "bm25_topk",
    "source_overlap",
    "k_anonymity",
    "windowed_pmi",
    "mutual_information",
    "zipf_fit",
    "tfidf_cosine_pairs",
    "dsir_select",
    "vocab_growth",
    "kappa_langid",
    "tokenizer_fertility",
    "preference_pairs",
    "mine_bitext",
    "l_diversity",
    "lexical_diversity",
    "corpus_divergence",
    "transition_matrix",
    "winnow_pairs",
    "kneser_ney",
    "ks_test",
    "intrinsic_dimension",
    "skipgram_negatives",
    "dataset_datasheet",
    "temporal_split",
    "rolling_active_users",
    "frequent_itemsets",
    "basket_rules",
    "classifier_ece",
    "randomization_test",
    "ams_f2",
    "hybrid_rrf",
    "auc_by_lang",
    "best_threshold",
    "term_dispersion",
    "entropy_rate",
    "burrows_delta",
    "phrase_merge",
    "davies_bouldin",
    "fd_violations",
    "benford",
    "changepoint",
    "mi_value_type",
    "geometric_median",
    "bootstrap_ci",
    "funnel_windowed",
    "trend_slope",
    "ewma_volume",
    "concentration",
    "textrank",
    "acf",
    "mann_kendall",
    "hll_distinct",
    "mmr_select",
    "kfold",
    "iqr_anomaly_days",
    "embedding_density",
    "brier",
    "events_dashboard",
    "audience_overlap",
    "conversion_latency",
    "khop_reach",
    "khop_reach_sketched",
    "rolling_hll_users",
    "churn",
    "kmv_jaccard",
    "hourly_profile",
    "hist_quantiles",
    "session_stats",
    "top_journeys",
    "cohort_value",
    "rfm",
    "fanout_profile",
    "repeat_interval",
    "t_closeness",
    "wow_decomposition",
    "class_weights",
    "nested_subsets",
    "fightin_words",
    "ql_topk",
    "user_features",
    "prf_topk",
    "readability",
    "u_attribution",
    "kaplan_meier",
    "ann_ndcg",
    "forecast_eval",
    "containment",
]

#: the queries that were in BENCH_r01 (the operative baseline — BASELINE.md:
#: the reference publishes no numbers). The headline set has grown every
#: round, so the TOTAL is not comparable across rounds; the JSON line also
#: reports the subtotal over exactly this set so round-over-round and
#: vs-baseline comparisons are apples-to-apples.
BASELINE_R01_SET = frozenset(
    """asof_join chunk_documents cosine_topk decontaminate dedup_exact
    embedding_centroids embedding_near_dup events_attribution_join
    events_sessionize events_windowed geojson_features ivf_topk
    j1_parent_child_join lang_id lang_source_rollup minhash_lsh_pairs
    minhash_signatures near_dup_groups ngram_jaccard_pairs p3_envelope
    pack_sequences redact_pii repetition_stats simhash_pairs text_quality
    tfidf_top_terms topk_quality_docs tpch_q13_order_distribution
    tpch_q14_promo_revenue tpch_q18_large_orders tpch_q1_pricing_summary
    tpch_q3_shipping_priority tpch_q5_local_supplier_volume
    tpch_q7_nation_volume warnify window_top_orders_per_segment""".split()
)


def _calibrate(spark, sf_dir: str) -> dict[str, float]:
    """Machine-calibration probes, recorded per round in the sidecar.

    A uniform +29% wall-clock drift on code-untouched queries was once
    traced to the machine itself (isolated 8-pass converged re-runs of the
    unchanged TPC-H plans reproduced the drifted times on an idle machine —
    see SCALE.md), but only after the fact. These four numbers make the
    split measurable at the moment each bench runs: if calibration drifts
    with the query total, the machine moved; if calibration holds and
    queries drift, the code did.
    - cpu_single_s: one-core Python hash chain (CPython + core freq)
    - cpu_parallel_s: the same work fanned over processes (all cores)
    - scan_s: noop-write of a raw lineitem parquet scan (IO+decode path)
    - jvm_agg_s: spark.range groupBy-agg (pure JVM codegen throughput)
    """
    import hashlib
    import multiprocessing as mp
    import time as _time

    t0 = _time.perf_counter()
    h = b"x"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    cpu_single = _time.perf_counter() - t0

    # spawn context: fork from a JVM-hosting driver is a documented hang
    # risk, and a hard-coded pool size measures oversubscription on hosts
    # with fewer cores. Worker count is recorded so
    # cross-machine cpu_parallel_s comparisons stay meaningful.
    n_workers = _usable_cpus()
    with mp.get_context("spawn").Pool(n_workers) as pool:
        # warm the pool OUTSIDE the timed window: spawn workers re-import
        # this module (and pyspark) at startup, which is process-creation
        # cost, not hash throughput
        pool.map(_warm_noop, range(n_workers))
        t0 = _time.perf_counter()
        pool.map(_hash_chunk, range(2 * n_workers))
        cpu_parallel = _time.perf_counter() - t0

    t0 = _time.perf_counter()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    scan = _time.perf_counter() - t0

    t0 = _time.perf_counter()
    (
        spark.range(50_000_000)
        .groupBy((F.col("id") % 1024).alias("k"))
        .agg(F.sum("id").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    jvm_agg = _time.perf_counter() - t0
    return {
        "cpu_single_s": round(cpu_single, 3),
        # protocol: spawn pool, one worker per usable CPU, 2x-workers
        # chunks — not comparable with values from the older fork pool of
        # 16 workers; cpu_workers makes the protocol self-describing.
        "cpu_parallel_s": round(cpu_parallel, 3),
        "cpu_workers": n_workers,
        "scan_s": round(scan, 3),
        "jvm_agg_s": round(jvm_agg, 3),
    }


def _warm_noop(_i: int) -> int:
    return 0


def _hash_chunk(_i: int) -> int:
    import hashlib

    h = b"x"
    for _ in range(100_000):
        h = hashlib.sha256(h).digest()
    return 1


def _release_all_blocks(spark) -> None:
    """Deterministically drop EVERY persisted RDD block, including
    ``localCheckpoint`` blocks.

    Operators unpersist what they persist before returning (the
    registry-wide build loop in ``tests/test_check_oracle_harness.py``
    pins an empty CacheManager after every build), but the eager
    ``localCheckpoint`` blocks they use for lineage truncation are raw
    persisted RDDs the ContextCleaner reclaims only after a JVM GC notices
    the checkpointed DataFrame became unreachable — i.e. at a
    nondeterministic later time.
    Round 9 showed exactly the predicted failure: the two checkpoint-heavy
    queries (khop_reach_sketched, containment) swung 2.4-4.9x between runs
    on identical data and plans while the other 177 queries sat flat,
    because leftover blocks from earlier queries were still occupying the
    block manager when the min-of-3 passes ran. Explicit blocking unpersist
    of the JavaSparkContext's persistentRdds map makes every timed pass
    start from the same empty block manager, deterministically.
    """
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("d2o-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    # warmup: JVM + codegen + parquet footer caches, then the Python worker
    # pool + Arrow serialization path (first pandas-UDF query otherwise pays
    # ~4s of worker startup that isn't the operator's cost)
    qs["s2_full_scan"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warm the whole-stage-codegen hash-aggregate path on synthetic data:
    # the first grouped aggregation otherwise pays JVM JIT (C2) compilation
    # of the generated agg loop — measured ~2s of non-operator cost landing
    # on whichever agg query runs first
    (
        spark.range(1_000_000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    import pandas as pd  # noqa: F401

    def _noop_pd(batches):
        for b in batches:
            yield b

    spark.range(64).repartition(32).mapInPandas(_noop_pd, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()

    # machine calibration AFTER warmup (steady-state JVM), BEFORE the timed
    # passes (an undisturbed machine sample) — see _calibrate docstring
    calibration = _calibrate(spark, sf_dir)

    # three timed runs per query, report the min — standard steady-state
    # microbenchmark practice: a run can absorb ambient load spikes and
    # one-off whole-stage-codegen compilation, neither of which is the
    # operator's cost. Runs are full executions (noop sink, nothing cached).
    # The passes are INTERLEAVED (full suite repeated) rather than
    # back-to-back per query: ambient noise on this shared sandbox is
    # bursty over ~10s windows, so back-to-back runs of one query share the
    # same burst and min() can't reject it; passes minutes apart are
    # decorrelated, and three of them make round-over-round per-query
    # deltas meaningful under the multi-x ambient/GC swings documented in
    # SCALE.md.
    RUNS = 3
    per_pass: list[dict[str, float]] = []
    pass_loadavg: list[list[float]] = []
    for _ in range(RUNS):
        pass_times: dict[str, float] = {}
        load_before = [round(x, 2) for x in os.getloadavg()]
        for name in HEADLINE:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            pass_times[name] = time.perf_counter() - t0
            # operators release their own persists, but the localCheckpoint
            # blocks of their lineage-truncated results are left to the
            # ContextCleaner; dropping them here starts each query on an
            # empty block manager (leftover blocks were a measured 4-10x
            # slowdown and instability source for later queries).
            _release_all_blocks(spark)
        per_pass.append(pass_times)
        # ambient load per pass: SCALE.md attributed several
        # regressions to co-tenant load spikes that were anecdote until now
        pass_loadavg.append(load_before + [round(os.getloadavg()[0], 2)])
    timings = {
        name: round(min(p[name] for p in per_pass), 3) for name in HEADLINE
    }
    # per-pass spread: max/min per query across the STEADY-STATE passes
    # (2..N), so run-to-run instability is visible IN the sidecar instead
    # of only when two sidecars disagree. Pass 1 is excluded from the
    # spread: each query's first execution pays its own whole-stage-codegen
    # + C2 JIT compilation (the suite warmup covers shared infrastructure,
    # not per-plan generated code), so including it headlined known-stable
    # queries at 3-4x — first-pass warm-up, not instability — masking the
    # leaked-block instability the metric exists to catch. min() still
    # aggregates over ALL passes (a warm-up-inflated pass can only lose). 5 worst spreads inline; the
    # full per-pass matrix is recorded too, so the excluded pass stays
    # auditable.
    steady = per_pass[1:] if len(per_pass) > 1 else per_pass
    spread = {
        name: round(
            max(p[name] for p in steady) / max(min(p[name] for p in steady), 1e-9),
            2,
        )
        for name in HEADLINE
        if min(p[name] for p in steady) > 0.05
    }
    worst_spread = dict(sorted(spread.items(), key=lambda kv: -kv[1])[:5])

    total = round(sum(timings.values()), 3)
    baseline_subtotal = round(
        sum(v for k, v in timings.items() if k in BASELINE_R01_SET), 3
    )

    # The driver captures only a bounded stdout TAIL (observed: 2000 chars),
    # so inlining all per-query timings made the line unparseable once the
    # headline set outgrew ~50 queries. Contract: the full per-query dict
    # goes to a durable repo sidecar (BENCH_FULL_r{N}.json), and stdout
    # carries ONE bounded line — totals, the baseline-set subtotal, counts,
    # the 5 slowest queries, and the
    # worst-5 regression ratios vs the previous round's per-query data.
    repo = os.path.dirname(os.path.abspath(__file__))
    this_round, full_name = _full_sidecar(
        repo, os.environ.get("SPARK_GRAFT_CPUS"), _usable_cpus()
    )
    full_path = os.path.join(repo, full_name)
    with open(full_path, "w") as f:
        json.dump(
            {
                "round": this_round,
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs_per_query": RUNS,
                "agg": "min",
                "baseline_r01_subtotal": baseline_subtotal,
                "baseline_r01_queries": {
                    k: v for k, v in timings.items() if k in BASELINE_R01_SET
                },
                "calibration": calibration,
                "per_pass": [
                    {k: round(v, 3) for k, v in p.items()} for p in per_pass
                ],
                "worst5_spread": worst_spread,
                "spread_passes": "2..N (pass 1 excluded: per-plan JIT warm-up)",
                "loadavg_per_pass": pass_loadavg,
            },
            f,
            indent=1,
        )

    prev = _prev_round_timings(repo, _next_round(repo))
    worst5_vs_prev = {}
    if prev:
        ratios = {
            k: round(timings[k] / prev[k], 2)
            for k in timings
            if k in prev and prev[k] > 0.05  # sub-50ms floors are noise
        }
        worst5_vs_prev = dict(
            sorted(ratios.items(), key=lambda kv: -kv[1])[:5]
        )
    slowest5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])

    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest5,
        "sf": sf,
        "runs_per_query": RUNS,
        "agg": "min",
        "n_headline": len(timings),
        "baseline_r01_subtotal": baseline_subtotal,
        "n_baseline_r01_queries": sum(
            1 for k in timings if k in BASELINE_R01_SET
        ),
        "worst5_vs_prev_round": worst5_vs_prev,
        "worst5_spread": worst_spread,
        "calibration": calibration,
        "full_timings": os.path.basename(full_path),
    }
    # The driver captures only a 2000-char stdout tail; degrade gracefully
    # (drop optional fields, never crash after the sidecar write — a crash
    # here would leave the round with NO stdout metric at all).
    line = json.dumps(payload)
    for drop in ("worst5_spread", "worst5_vs_prev_round", "calibration", "queries"):
        if len(line) < 1500:
            break
        payload.pop(drop, None)
        line = json.dumps(payload)
    if len(line) > 1999:
        # last resort: a sliced JSON string is unparseable —
        # emit a minimal fixed payload instead, never a truncated one
        line = json.dumps(
            {"metric": "headline_queries_total", "value": total,
             "unit": "sec", "sf": sf}
        )
    print(line)


def _usable_cpus() -> int:
    """CPUs the scheduler will grant this process. os.cpu_count() reports
    host logical CPUs and ignores cgroup quotas / CPU affinity, so in a
    constrained container a pool sized by it measures oversubscription;
    the affinity mask does not."""
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):  # non-Linux fallback
        return os.cpu_count() or 16


def _full_sidecar(repo: str, cpus: str | None, usable: int) -> tuple[int, str]:
    """(round, file name) of this run's per-query sidecar.

    A run with ``SPARK_GRAFT_CPUS`` (``cpus``) below the ``usable`` CPUs is
    a scaling run of the newest recorded round N: it writes
    ``BENCH_FULL_r{N}_c{K}.json`` and neither takes nor moves the next
    round's ``BENCH_FULL_r{N+1}.json`` slot. Every other run writes the
    next round's sidecar."""
    n = _next_round(repo)
    if cpus and cpus.isdigit() and int(cpus) < usable:
        return n - 1, f"BENCH_FULL_r{n - 1:02d}_c{int(cpus)}.json"
    return n, f"BENCH_FULL_r{n:02d}.json"


def _next_round(repo: str) -> int:
    """Current round number, derived from the driver's artifacts: the driver
    writes BENCH_r{N}.json AFTER running bench, so at run time the newest
    recorded round is N-1. (A manual re-run AFTER the driver has already
    recorded round N labels its sidecar N+1 — acceptable: the driver's
    per-round run always happens first, so the canonical BENCH_FULL_r{N}
    sidecar is written before BENCH_r{N}.json ever exists.)"""
    import re

    rounds = [0]
    for name in os.listdir(repo):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", name)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def _prev_round_timings(repo: str, this_round: int) -> dict[str, float]:
    """Per-query timings from the most recent prior round, for regression
    ratios. Prefers our BENCH_FULL_r{N}.json sidecars (complete by
    construction); falls back to parsing the JSON line out of the driver's
    BENCH_r{N}.json 2000-char tail (usable only while the tail holds the
    whole line; a truncated tail is skipped)."""
    import re

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf.rstrip("/").split("sf")[-1]
    for n in range(this_round - 1, 0, -1):
        full = os.path.join(repo, f"BENCH_FULL_r{n:02d}.json")
        if os.path.exists(full):
            try:
                with open(full) as f:
                    d = json.load(f)
                # ratios across different scale factors are meaningless
                if str(d.get("sf")) == sf:
                    return d["queries"]
            except (OSError, ValueError, KeyError):
                pass
            continue
        tail_file = os.path.join(repo, f"BENCH_r{n:02d}.json")
        if os.path.exists(tail_file):
            try:
                with open(tail_file) as f:
                    tail = json.load(f).get("tail", "")
                m = re.search(r'\{"metric".*', tail)
                if m:
                    d = json.loads(m.group(0))
                    if str(d.get("sf")) == sf:
                        return d["queries"]
            except (OSError, ValueError, KeyError):
                continue
    return {}


if __name__ == "__main__":
    main()
