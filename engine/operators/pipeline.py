"""The fused end-to-end pipeline (SURVEY.md §4.3).

    scan -> fused scoring UDF (decode, repair, text rules, models)
         -> native flag comparisons -> dup flags -> decision -> labels

One DataFrame pass; the only shuffles are (a) the two hash-group windows
and the band self-join inside dedup, (b) the lineage aggregation.  The
reference needed six mutating passes with CSV materialization between them
(PostProcessing-Pipeline.R:20-44); Catalyst fuses our scan + UDF + flag
projection into a single stage.

`label` is the one post-scoring composition: the in-memory pass, the
checkpointed job (lineage.run_checkpointed) and the streaming ingest all
label through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from .. import schema
from . import decision, dedup, heuristics, scoring


def read_clips(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    # partition-directory reads give part_id back as int32 or int64
    # depending on writer; normalize (when present) then verify
    dtypes = dict(df.dtypes)
    if "part_id" in dtypes and dtypes["part_id"] != "int":
        df = df.withColumn("part_id", df["part_id"].cast("int"))
    schema.assert_clips_schema(df)
    return df


def label(scored: DataFrame) -> DataFrame:
    """scored (scoring.score_clips output) -> labels (schema.LABELS_SCHEMA
    order): heuristic flags -> model flags -> dup flags -> decision.

    Repair-then-rescore already happened INSIDE the scoring UDF
    (repair.repair_batch, fused into scoring._score_batch): `transcript`
    is the final (possibly normalized) text and `repaired` its lineage,
    so heuristic flags, model flags, and dup grouping all see the
    repaired values with no extra stage."""
    flagged = heuristics.with_model_flags(heuristics.with_heuristic_flags(scored))
    decided = decision.with_decision(dedup.with_dup_flags(flagged))
    return decision.to_labels(decided)


def persist_scored(clips: DataFrame) -> DataFrame:
    """Score and pin the scored table (which no longer carries `bytes`, so
    it is ~100 bytes/row): the dedup stage references it from three plan
    branches (main + both sides of the band self-join), and without a
    materialization Spark re-executes the expensive Python UDF subtree once
    per branch.  Eager: parallel dedup branches of one action would
    otherwise race on the unfilled cache.  The checkpointed job gets the
    same effect from the stage-A parquet materialization instead."""
    scored = scoring.score_clips(clips).persist(StorageLevel.MEMORY_AND_DISK)
    scored.count()
    return scored


def run_pipeline(clips: DataFrame) -> DataFrame:
    """clips (schema.CLIPS_SCHEMA) -> labels (schema.LABELS_SCHEMA order),
    over a persisted scored table (see persist_scored)."""
    return label(persist_scored(clips))
