"""The workloads, each a pass over one fixture through the engine's public
functions, and the checks that a pass took the path it names.

  fused         pipeline.run_pipeline, labels collected to the driver
  checkpointed  lineage.run_checkpointed into an empty output directory
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import harness

WORKLOADS = ("fused", "checkpointed")
WAVE_SIZE = 16   # jobs/run_pipeline.py's --wave-size default


@dataclass
class Pass:
    seconds: float
    labels: object                      # pandas frame: clip_id + LABEL_KEYS
    log: list = field(default_factory=list)   # (epoch seconds, message)
    started: float = 0.0                # epoch seconds
    path_error: str | None = None       # the pass did not take its path


def collect_labels(labels_df):
    return labels_df.select("clip_id", *harness.LABEL_KEYS).toPandas()


def _waves(log: list) -> int:
    return sum(1 for _, m in log if m.startswith("scored wave"))


def fused(spark, clips) -> Pass:
    from engine.operators import pipeline

    started = time.time()
    t0 = time.perf_counter()
    got = collect_labels(pipeline.run_pipeline(clips))
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    return Pass(dt, got, started=started)


def checkpointed(spark, clips, out: str, n_parts: int) -> Pass:
    """One production run from an empty output directory."""
    from engine import lineage

    shutil.rmtree(out, ignore_errors=True)
    empty = not os.path.exists(out)
    log: list = []
    started = time.time()
    t0 = time.perf_counter()
    labels, _ = lineage.run_checkpointed(
        spark, clips, out, wave_size=WAVE_SIZE,
        log=lambda m: log.append((time.time(), m)))
    dt = time.perf_counter() - t0
    p = Pass(dt, collect_labels(labels), log, started)
    expected = math.ceil(n_parts / WAVE_SIZE)
    if not empty:
        p.path_error = "output directory was not empty at start"
    elif _waves(log) != expected or any(m.startswith("resume:") for _, m in log):
        p.path_error = f"expected {expected} waves and no resume, log was {log}"
    return p


class Runner:
    """Runs passes of one workload on one fixture; owns its scratch dirs."""

    def __init__(self, name: str, fx: harness.Fixture, run_dir: str):
        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}, expected one of {WORKLOADS}")
        self.name, self.fx, self.run_dir = name, fx, run_dir

    def run(self, spark, clips) -> Pass:
        if self.name == "fused":
            return fused(spark, clips)
        return checkpointed(spark, clips, os.path.join(self.run_dir, "ckpt"), self.fx.n_parts)

    def warm_up(self, spark, clips) -> None:
        """The set-up's untimed warm-up: one pass of the workload's own
        path.  `fused` makes a full pass, which runs every scan split,
        Python worker and scoring stage over the whole table once in this
        JVM.  `checkpointed` runs its first wave alone (16 partitions and
        Stage B over them), which compiles the scoring, wave and sink
        paths; a full checkpointed pass in a fresh JVM takes about twice a
        warm one, more than the benchmark's time budget holds."""
        if self.name == "fused":
            fused(spark, clips)
        else:
            checkpointed(spark, first_parts(clips, WAVE_SIZE),
                         os.path.join(self.run_dir, "warm"), WAVE_SIZE)


def first_parts(clips, parts: int):
    from pyspark.sql import functions as F

    return clips.where(F.col("part_id") < parts)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
