"""End-to-end training-data pipeline: JSONL in → quarantine → quality
cascade → boilerplate removal → exact + incremental dedup → split → sharded
parquet out. One test proving the operator surfaces compose — interface
drift between stages breaks here before it breaks a real pipeline."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F


def test_full_pipeline_composes(spark, tmp_path):
    from database2ogr_spark.operators.cleaning import (
        quality_filter_flags,
        remove_boilerplate,
    )
    from database2ogr_spark.operators.dedup import dedup_incremental
    from database2ogr_spark.operators.sampling import split_corpus
    from database2ogr_spark.sinks.corpus import write_corpus_shards
    from database2ogr_spark.sources.jsonl import read_jsonl

    # 1. land a messy JSONL batch: good docs, a dup, boilerplate, junk line
    # diverse body — the quality cascade (rightly) rejects degenerate
    # repeated-token text on the diversity rule
    body = " ".join(f"tok{j:02d}" for j in range(30))
    lines = [
        json.dumps(
            {
                "doc_id": i,
                "text": f"COOKIE BANNER\ndoc {i} {body}\nfooter",
                "lang": "en",
                "source": "s",
                "n_chars": 100,
            }
        )
        for i in range(20)
    ]
    lines.append(lines[0].replace('"doc_id": 0', '"doc_id": 99'))  # exact dup body
    lines.append("{broken json")
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join(lines) + "\n", encoding="utf-8")

    good, quarantine = read_jsonl(spark, str(src))
    assert quarantine.count() == 1
    assert good.count() == 21

    # 2. quality cascade on raw text keeps every well-formed doc
    flags = quality_filter_flags(good)
    kept = good.join(flags.filter("keep").select("doc_id"), "doc_id")
    assert kept.count() == 21

    # 3. exact dedup BEFORE boilerplate removal (order matters: a duplicated
    #    body would otherwise cross min_df and be removed as boilerplate)
    admitted = dedup_incremental(kept, spark.createDataFrame([], "fingerprint string"))
    assert admitted.count() == 20  # doc 99 collapsed into doc 0

    # 4. boilerplate removal: banner+footer shared by all docs vanish,
    #    unique bodies survive
    cleaned = remove_boilerplate(admitted)
    assert cleaned.filter(F.col("clean_text").contains("COOKIE")).count() == 0
    assert cleaned.filter(F.col("clean_text") == "").count() == 0
    docs = admitted.select("doc_id", "lang", "source").join(
        cleaned.withColumnRenamed("clean_text", "text"), "doc_id"
    )

    # 5. split + sharded export
    out = str(tmp_path / "out")
    final = split_corpus(docs, {"train": 90, "val": 5, "test": 5})
    write_corpus_shards(final, out, shards=2)
    back = spark.read.parquet(out)
    assert back.count() == 20
    assert {os.path.basename(d).split("=")[0] for d in glob.glob(os.path.join(out, "*="))} <= {"split"}


def test_pretrain_corpus_stages_fire(spark):
    from pyspark.sql import functions as F

    from database2ogr_spark.plans.pretrain import pretrain_corpus

    long_ok = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    rows = [
        # quality-fail: too short
        (1, "s0", "en", "too short"),
        # duplicate group: 2 and 3 identical, min-id 2 survives
        (2, "s0", "en", long_ok),
        (3, "s0", "en", long_ok),
        # contaminated: shares a 13-gram with the benchmark doc
        (4, "s1", "en", long_ok + " extra tail tokens here"),
        # clean survivor — no 13-gram overlap with anything
        (5, "s1", "en",
         "omega sigma lambda theta kappa gamma beta zeta iota rho phi chi "
         "psi epsilon upsilon omicron mu nu xi pi tau eta digamma koppa "
         "sampi stigma heta sho san qoppa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")
    bench = spark.createDataFrame(
        [(100, long_ok + " benchmark continuation")], "doc_id long, text string"
    )
    out = pretrain_corpus(docs, bench, alpha=1.0)
    ids = sorted(r.doc_id for r in out.select("doc_id").distinct().collect())
    # 1 fails quality; 2,3,4 all share the long_ok 13-grams with the
    # benchmark -> decontaminated; 5 is the only survivor
    assert ids == [5]
    # alpha=1.0 -> rates 1.0, single epoch, and the split column is present
    row = out.first()
    assert row.epoch == 0 and row.split in ("train", "val")


def test_pretrain_corpus_epoch_copies_share_split(spark):
    from pyspark.sql import functions as F

    from database2ogr_spark.plans.pretrain import pretrain_corpus

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
    )
    # 10:1 source skew with per-doc unique tails (no dups, no contamination)
    rows = [(i, "big", "en", base + f"unique{i} tail{i} words{i}") for i in range(100)]
    rows += [(1000 + i, "rare", "en", base + f"rare{i} tokens{i} here{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")
    bench = spark.createDataFrame([(9, "completely unrelated benchmark words")], "doc_id long, text string")
    out = pretrain_corpus(docs, bench, alpha=0.3)
    # upsampled rare docs exist, and every epoch-copy of a doc has ONE split
    assert out.filter("epoch >= 1").count() > 0
    per_doc = out.groupBy("doc_id").agg(F.countDistinct("split").alias("k"))
    assert per_doc.filter("k > 1").count() == 0


def test_run_pretrain_cli_smoke(spark, tmp_path):
    # the user-facing executable for the flagship path (same precedent as
    # the mapboxing dry-run script smoke): drive it as a subprocess on the
    # tiny SF and validate the JSON manifest contract
    import json
    import subprocess
    import sys

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter("doc_id % 20 != 0").write.parquet(str(tmp_path / "docs"))
    docs.filter("doc_id % 20 = 0").write.parquet(str(tmp_path / "bench"))
    r = subprocess.run(
        [
            sys.executable,
            "scripts/run_pretrain.py",
            str(tmp_path / "docs"),
            str(tmp_path / "bench"),
            str(tmp_path / "out"),
            "--shards",
            "2",
        ],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    manifest = json.loads(r.stdout.strip().splitlines()[-1])
    assert sum(manifest["instances"].values()) > 0
    assert "train/epoch0" in manifest["instances"]
    back = spark.read.parquet(manifest["paths"]["root"])
    assert back.count() == sum(manifest["instances"].values())
    assert {r.split for r in back.select("split").distinct().collect()} <= {
        "train",
        "val",
    }


def test_pretrain_ledger_partitions_input_exactly(spark):
    """Every input doc appears exactly once; stage counts reconcile with
    the pipeline's own survivor set (clean == ledger 'kept' rows)."""
    from pyspark.sql import functions as F

    from database2ogr_spark.plans.pretrain import pretrain_corpus, pretrain_ledger

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # must PASS the quality stage (>=20 tokens, distinct ratio >=0.2) so
    # the duplicates reach — and die at — the dedup stage
    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda "
        "mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega token"
    )
    corpus = docs.filter("doc_id % 20 <> 0").select(
        "doc_id",
        "source",
        "lang",
        F.when(F.col("doc_id") % 9 == 5, F.lit(shared))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bench = docs.filter("doc_id % 20 = 0")
    ledger = pretrain_ledger(corpus, bench).collect()
    assert len(ledger) == corpus.count()  # exact partition of the input
    assert len({r.doc_id for r in ledger}) == len(ledger)
    stages = {r.doc_id: r.stage for r in ledger}
    assert set(stages.values()) <= {"quality", "dedup", "decontaminate", "kept"}
    # dedup demonstrably fires on the shared-paragraph group
    dup_ids = [i for i in stages if i % 9 == 5 and stages[i] == "dedup"]
    assert dup_ids
    # 'kept' set == the docs the real pipeline emits (epoch 0 instances)
    kept_ledger = {r.doc_id for r in ledger if r.kept}
    pipeline_docs = {
        r.doc_id
        for r in pretrain_corpus(corpus, bench, alpha=0.7)
        .select("doc_id")
        .distinct()
        .collect()
    }
    # resampling can drop (rate < 1) but never add docs: pipeline ⊆ kept
    assert pipeline_docs <= kept_ledger


def test_events_dashboard_composes_verified_blocks(spark):
    from database2ogr_spark.plans.analytics import events_dashboard

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {r.metric: r.value for r in events_dashboard(ev).collect()}
    # structural: every expected metric present exactly once
    assert set(got) == {
        "n_events", "n_users", "n_days", "events_per_user",
        "funnel_users_view", "funnel_users_click", "funnel_users_purchase",
        "funnel_conversion", "trend_slope", "changepoint_strength",
    }
    # cross-check the cheap ones against direct queries
    assert got["n_events"] == ev.count()
    assert got["n_users"] == ev.select("user_id").distinct().count()
    # funnel monotonicity
    assert (
        got["funnel_users_view"]
        >= got["funnel_users_click"]
        >= got["funnel_users_purchase"]
    )
    assert 0.0 <= got["funnel_conversion"] <= 1.0
