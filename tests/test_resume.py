"""Checkpoint/resume convergence (SURVEY §5.2-5): interrupt after k of m
waves -> rerun -> identical final labels, no double-processing."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from engine import config, lineage, schema
from engine.operators import pipeline, scoring


def test_partial_then_resume_identical(spark, clips_t1, tmp_path):
    path, _, _ = clips_t1
    clips = pipeline.read_clips(spark, path)

    # uninterrupted reference run
    out_a = str(tmp_path / "full")
    labels_a, _ = lineage.run_checkpointed(spark, clips, out_a, wave_size=64)

    # simulate an interrupted run: stage A committed for only the first wave
    out_b = str(tmp_path / "partial")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    first_wave = list(range(16))
    wave_df = clips.where(F.col("part_id").isin(first_wave))
    (scoring.score_clips(wave_df).repartition("part_id")
     .write.mode("overwrite").partitionBy("part_id")
     .parquet(f"{out_b}/scored"))
    lineage._mark_committed(spark, out_b, first_wave)

    assert lineage.committed_parts(spark, out_b) == set(first_wave)

    # resume: must only process the remaining partitions, then converge
    seen = []
    labels_b, metrics_b = lineage.run_checkpointed(
        spark, clips, out_b, wave_size=64, log=seen.append)
    assert any("48 to go" in s for s in seen), seen

    a = labels_a.toPandas().sort_values("clip_id").reset_index(drop=True)
    b = labels_b.toPandas().sort_values("clip_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    # the in-memory fused pass labels exactly as the checkpointed job does
    cols = schema.LABELS_SCHEMA.fieldNames()
    fused = pipeline.run_pipeline(clips).toPandas()
    spark.catalog.clearCache()
    assert list(fused.columns) == cols
    fused = fused.sort_values("clip_id").reset_index(drop=True)
    assert fused["part_id"].dtype == "int32"
    pd.testing.assert_frame_equal(fused, a[cols], check_exact=True)


def test_rule_version_change_invalidates(spark, clips_t1, tmp_path, monkeypatch):
    path, _, _ = clips_t1
    out = str(tmp_path / "ver")
    lineage._mark_committed(spark, out, [0, 1, 2])
    assert lineage.committed_parts(spark, out) == {0, 1, 2}
    monkeypatch.setattr(config, "rule_version", lambda: "different!")
    assert lineage.committed_parts(spark, out) == set()
