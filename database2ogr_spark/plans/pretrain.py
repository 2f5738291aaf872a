"""End-to-end pretraining-corpus assembly — the flagship composition of the
training-data operator families into one declarative plan:

    raw docs
      → quality-filter cascade (cleaning.quality_filter_flags, keep only)
      → exact dedup, min-id survivors (dedup.dedup_exact_survivors)
      → benchmark decontamination, 13-gram rule (dedup.decontaminate)
      → temperature source rebalancing with upsampling
        (sampling.temperature_resample)
      → deterministic train/val split (sampling.split_corpus)

Every stage is a lazy DataFrame transform, so the pipeline composes into
Catalyst plans with exactly the shuffles the component operators document
(stats are narrow; dedup is one fingerprint agg + semi-join;
decontamination broadcasts benchmark grams; resampling aggregates
#sources rows; the split is a narrow CASE). :func:`pretrain_corpus`
persists nothing: its stage outputs each feed two branches, but an
interleaved A/B at sf0.1 measured persisting them behind an eager
``finalize_lifecycle`` checkpoint as not reliably faster than
re-evaluating them (the checkpoint materializes the whole corpus-sized
result).
:func:`pretrain_ledger`, whose result is ids only, keeps its three stage
persists and releases them through ``finalize_lifecycle`` before it
returns; there they measured faster. At 100 TB the boundaries become
checkpoint-to-parquet between stages.

Order rationale (the standard pipeline ordering argument):
- dedup runs AFTER the quality filter so survivor selection is not wasted
  on docs the filter would drop anyway, but BEFORE resampling so epoch
  repetition cannot manufacture duplicates;
- decontamination runs after dedup (fewer docs to shingle at k=13);
- the split keys on doc_id alone, so every epoch-copy of a document lands
  in the SAME split — upsampling can never leak a train doc into val.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from database2ogr_spark.operators.cleaning import quality_filter_flags
from database2ogr_spark.operators.dedup import decontaminate, dedup_exact_survivors
from database2ogr_spark.operators.partitioning import finalize_lifecycle
from database2ogr_spark.operators.sampling import split_corpus, temperature_resample


def pretrain_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    alpha: float = 0.7,
    splits: dict[str, int] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assemble a training corpus from raw documents and a benchmark
    (evaluation) document set to exclude. Returns one row per training
    INSTANCE: original columns plus ``epoch`` (repetition index from the
    temperature mix) and ``split``.
    """
    splits = {"train": 95, "val": 5} if splits is None else splits
    flags = quality_filter_flags(docs, id_col=id_col, text_col=text_col)
    kept = docs.join(
        flags.filter(F.col("keep")).select(id_col), on=id_col, how="left_semi"
    )
    deduped = dedup_exact_survivors(kept, id_col, text_col)
    clean = decontaminate(deduped, benchmark, id_col, text_col, k=13)
    mixed = temperature_resample(clean, alpha=alpha, id_col=id_col)
    return split_corpus(mixed, splits, id_col=id_col)


def pretrain_ledger(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pipeline observability: one row per INPUT document recording the
    FIRST filtering stage that dropped it — ``stage`` ∈ ('quality',
    'dedup', 'decontaminate', 'kept') plus a ``kept`` boolean.

    Large-corpus curation is judged by its drop accounting (what fraction
    died where, per source/language) at least as much as by the surviving
    corpus; this runs the same three filtering stages as
    :func:`pretrain_corpus` (identical operators, identical order) and
    labels every casualty instead of discarding it silently.  Each stage's
    drop set is the anti-join of consecutive stage outputs, so the ledger
    partitions the input exactly: Σ stage counts = |input|.

    Each stage output feeds two branches (the next stage and its own
    anti-join), so the three are persisted; the eager
    ``finalize_lifecycle`` checkpoint of the id-only ledger releases them
    before the call returns.
    """
    flags = quality_filter_flags(docs, id_col=id_col, text_col=text_col)
    kept = docs.join(
        flags.filter(F.col("keep")).select(id_col), on=id_col, how="left_semi"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deduped = dedup_exact_survivors(kept, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    clean = decontaminate(deduped, benchmark, id_col, text_col, k=13).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    q_drop = docs.select(id_col).join(kept.select(id_col), id_col, "left_anti")
    d_drop = kept.select(id_col).join(
        deduped.select(id_col), id_col, "left_anti"
    )
    c_drop = deduped.select(id_col).join(
        clean.select(id_col), id_col, "left_anti"
    )
    ledger = (
        q_drop.withColumn("stage", F.lit("quality"))
        .unionByName(d_drop.withColumn("stage", F.lit("dedup")))
        .unionByName(c_drop.withColumn("stage", F.lit("decontaminate")))
        .unionByName(
            clean.select(id_col).withColumn("stage", F.lit("kept"))
        )
    )
    return finalize_lifecycle(
        ledger.withColumn("kept", F.col("stage") == "kept"), [kept, deduped, clean]
    )
