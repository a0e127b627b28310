"""Per-partition checkpoint/resume + lineage (north_rule requirement).

The reference's only checkpoint is one CSV between phases
(Step1-Read-Data-Formatting.R:109).  We generalize to partition-granular
resumability around the expensive stage:

  Stage A (heavy, resumable per part_id): the fused scoring UDF pass —
     decode + scrub + LID + PPL + simhash.  Processed in waves of
     part_ids; each wave is written with dynamic partition overwrite
     (idempotent) and then recorded in a `_state` parquet.  A re-run
     skips committed partitions; a partially-written wave whose state row
     never landed is simply overwritten (write-then-commit order).
  Stage B (cheap, global, idempotent): dup flags need GLOBAL hash groups
     (duplicates cross partitions), so they run over the full scored
     table — but only over ~100-byte rows (checksums + simhash), never
     the audio payload.  Decision + labels + lineage_metrics are then a
     full overwrite, safe to repeat.

State rows carry config.rule_version(), which hashes the thresholds AND
the label-determining source bytes (config.label_code_version) AND the
scored-schema field names: changing any threshold, any scoring/decision
code, or the fused UDF's output schema invalidates every checkpoint
automatically — a resume can never mix label semantics or read a
mixed-schema scored/ dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import config
from .operators import decision, pipeline, scoring

STATE_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("rule_version", T.StringType(), False),
])


def _state_path(output_path: str) -> str:
    return f"{output_path}/_state"


def committed_parts(spark: SparkSession, output_path: str) -> set[int]:
    try:
        st = spark.read.parquet(_state_path(output_path))
    except Exception:
        return set()
    rows = (st.where((F.col("stage") == "scored")
                     & (F.col("rule_version") == config.rule_version()))
            .select("part_id").distinct().collect())
    return {r.part_id for r in rows}


def _mark_committed(spark: SparkSession, output_path: str, parts: list[int]) -> None:
    rows = [(int(p), "scored", config.rule_version()) for p in parts]
    spark.createDataFrame(rows, STATE_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(_state_path(output_path))


def run_checkpointed(spark: SparkSession, clips: DataFrame, output_path: str,
                     wave_size: int = 16, resume: bool = True,
                     log=print) -> tuple[DataFrame, DataFrame]:
    """Full pipeline with per-partition checkpointing.

    Returns (labels, lineage_metrics) DataFrames reading the final output.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    scored_path = f"{output_path}/scored"

    all_parts = sorted(r.part_id for r in
                       clips.select("part_id").distinct().collect())
    done = committed_parts(spark, output_path) if resume else set()
    todo = [p for p in all_parts if p not in done]
    if done:
        log(f"resume: {len(done)} partitions already scored, {len(todo)} to go")

    # ---- Stage A: heavy UDF pass, wave by wave ---------------------------
    for i in range(0, len(todo), wave_size):
        wave = todo[i:i + wave_size]
        wave_df = clips.where(F.col("part_id").isin([int(p) for p in wave]))
        scored = scoring.score_clips(wave_df)
        (scored.repartition("part_id")
         .write.mode("overwrite").partitionBy("part_id").parquet(scored_path))
        _mark_committed(spark, output_path, wave)
        log(f"scored wave {i // wave_size + 1}: partitions {wave[0]}..{wave[-1]}")

    # ---- Stage B: global dup flags + decision (cheap, idempotent) --------
    scored_all = spark.read.parquet(scored_path) \
        .withColumn("part_id", F.col("part_id").cast("int"))
    # repair is fused into the Stage-A scoring UDF (scored rows already
    # carry the repaired transcript + `repaired`), so Stage B is all-native
    labels = pipeline.label(scored_all)
    (labels.repartition("part_id")
     .write.mode("overwrite").partitionBy("part_id")
     .parquet(f"{output_path}/labels"))

    labels_out = spark.read.parquet(f"{output_path}/labels") \
        .withColumn("part_id", F.col("part_id").cast("int"))
    metrics = decision.lineage_metrics(labels_out)
    metrics.coalesce(1).write.mode("overwrite").parquet(f"{output_path}/lineage")

    return labels_out, spark.read.parquet(f"{output_path}/lineage")
