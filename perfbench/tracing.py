"""The traced run: per-layer numbers for one workload.

Spans are recorded here, around calls into each engine module, never inside
the engine.  The run, in one JVM,
  1. in a session at local[nproc] with Spark's event log on: writes the
     fixture, warms up as the timed run does, runs the workload once (its
     `spark.*` and `lineage.*` rows), then the cumulative layer prefixes,
     the dedup counts and a traced first-wave fused pass;
  2. in a fresh untraced session at local[nproc]: the same first-wave pass
     after a first-wave warm-up (the reference for tracing overhead);
  3. at local[1]: the prefixes again, scoring and materialization as one;
  4. replays the scoring sub-stages in this process over the fixture's
     rows, in Arrow-sized batches.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import harness
import workloads

PREFIXES = ["scan", "+score", "+materialize", "+flags", "+dedup", "+decision", "+sink"]
LAYERS = ["sources", "scoring", "pipeline", "heuristics", "dedup", "decision", "sink"]
REPLAY_STAGES = ["decode", "analyze", "repair", "scrub", "lid", "ppl", "simhash"]


class Tracer:
    """In-memory spans (id, name, start, end, parent), nested by `with`."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
             "parent": self._stack[-1] if self._stack else None}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    intervals: list = field(default_factory=list)   # task (launch, finish), epoch s


def read_event_log(log_dir: str) -> dict[str, Counters]:
    """Spark event log -> counters per job group."""
    group_of: dict[int, str] = {}
    jobs: dict[str, int] = {}
    done_stages: list[int] = []
    tasks: list[tuple[int, dict]] = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                    jobs[g] = jobs.get(g, 0) + 1
                    for sid in ev["Stage IDs"]:
                        group_of[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    done_stages.append(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev))
    out: dict[str, Counters] = {g: Counters(jobs=n) for g, n in jobs.items()}
    for sid in done_stages:
        out.setdefault(group_of.get(sid, "-"), Counters()).stages += 1
    for sid, ev in tasks:
        c = out.setdefault(group_of.get(sid, "-"), Counters())
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        c.tasks += 1
        c.tasks_failed += int(info.get("Failed", False)
                              or ev["Task End Reason"]["Reason"] != "Success")
        c.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        c.spill_bytes += m.get("Disk Bytes Spilled", 0)
        c.gc_s += m.get("JVM GC Time", 0) / 1000.0
        c.intervals.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
    return out


def prefixes(spark, clips, tracer: Tracer, level: str, score_alone: bool = True):
    """Cumulative layer prefixes -> (seconds per prefix, cpu seconds per
    prefix, bytes read per prefix, labels collected by the last prefix, the
    persisted scored table).

    Prefixes 1-3 each run from the scan.  The tail prefixes run on the
    persisted scored table, as run_pipeline does, so prefix k (k >= 4)
    costs the materialization plus the tail up to layer k, and the last
    prefix is one full fused pass.  Without `score_alone` prefix 2 (scoring
    into a noop sink) is skipped and its entries are None: scoring and
    materialization then read as one layer, prefix 3 minus prefix 1."""
    from pyspark.storagelevel import StorageLevel

    from engine.operators import decision, dedup, heuristics, scoring

    sc = spark.sparkContext
    root = harness.jvm_pid()
    secs, cpus, reads = [], [], []

    def timed(k: int, action):
        sc.setJobGroup(f"{level}:{PREFIXES[k]}", PREFIXES[k])
        c0, r0 = harness.tree_usage(root)[0], harness.tree_read_bytes(root)
        with tracer.span(PREFIXES[k]):
            t0 = time.perf_counter()
            out = action()
            secs.append(time.perf_counter() - t0)
        cpus.append(harness.tree_usage(root)[0] - c0)
        reads.append(harness.tree_read_bytes(root) - r0)
        return out

    timed(0, lambda: workloads.noop(clips))
    if score_alone:
        timed(1, lambda: workloads.noop(scoring.score_clips(clips)))
    else:
        for column in (secs, cpus, reads):
            column.append(None)
    scored = scoring.score_clips(clips).persist(StorageLevel.MEMORY_AND_DISK)
    timed(2, scored.count)
    flagged = heuristics.with_model_flags(heuristics.with_heuristic_flags(scored))
    timed(3, lambda: workloads.noop(flagged))
    dups = dedup.with_dup_flags(flagged)
    timed(4, lambda: workloads.noop(dups))
    labels = decision.to_labels(decision.with_decision(dups))
    timed(5, lambda: workloads.noop(labels))
    got = timed(6, lambda: workloads.collect_labels(labels))
    sc.setJobGroup("other", "other")
    cumulative = secs[:3] + [secs[2] + s for s in secs[3:]]
    return cumulative, cpus, reads, got, scored


def self_times(cumulative: list) -> list:
    """Each prefix minus the last one run before it; None where skipped."""
    out, prev = [], 0.0
    for c in cumulative:
        out.append(None if c is None else c - prev)
        prev = prev if c is None else c
    return out


def _cell(v) -> str:
    return "—" if v is None else f"{v:.3f}"


def dedup_counts(scored) -> dict[str, int]:
    """Band candidates, candidate pairs and capped buckets of the SimHash
    band self-join, counted by a DataFrame aggregate over the scored table."""
    from pyspark.sql import functions as F

    from engine import config

    cand = (scored.where(F.col("simhash") != 0)
            .select(F.posexplode(F.array(*[F.col(f"band{i}") for i in range(4)]))
                    .alias("band_idx", "band_val")))
    w = F.col("count")
    cap = config.SIMHASH_BUCKET_CAP
    row = (cand.groupBy("band_idx", "band_val").count()
           .agg(F.sum(w).alias("cand"),
                F.sum(F.when(w > cap, 1).otherwise(0)).alias("capped"),
                F.sum(F.when(w <= cap, w * (w - 1) / 2).otherwise(0)).alias("pairs"))
           .first())
    return {"band_candidates": int(row.cand or 0), "pairs": int(row.pairs or 0),
            "capped_buckets": int(row.capped or 0)}


def replay(fx: harness.Fixture, tracer: Tracer) -> dict[str, float]:
    """Seconds per scoring sub-stage, in this process, over the fixture's
    rows cut into Arrow-sized batches.  `decode` is timed on its own;
    `analyze` decodes again and computes every audio feature."""
    import pandas as pd
    import pyarrow.dataset as ds

    from engine import audio_core, config, lid_core, ppl_core, scrub_core, simhash_core
    from engine.operators import repair

    cols = ["bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    table = ds.dataset(fx.path, format="parquet", partitioning="hive").to_table(columns=cols)
    secs = dict.fromkeys(REPLAY_STAGES, 0.0)
    step = config.ARROW_MAX_RECORDS_PER_BATCH

    def timed(stage: str, fn):
        with tracer.span(stage):
            t0 = time.perf_counter()
            out = fn()
            secs[stage] += time.perf_counter() - t0
        return out

    for off in range(0, table.num_rows, step):
        pdf = table.slice(off, step).to_pandas()
        rows = [(bytes(p) if p is not None else None,
                 int(sr) if pd.notna(sr) else None,
                 config.canon_codec(c))
                for p, sr, c in zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"])]
        with tracer.span("batch"):
            timed("decode", lambda: [audio_core.decode_payload(p, c) for p, _, c in rows])
            timed("analyze", lambda: [audio_core.analyze(p, sr, c) for p, sr, c in rows])
            durs = [int(d) if pd.notna(d) else None for d in pdf["dur_ms"]]
            texts, _ = timed("repair", lambda: repair.repair_batch(
                pdf["transcript"].tolist(), durs))
            scrubbed, _, _ = timed("scrub", lambda: scrub_core.scrub_batch(texts))
            langs, _ = timed("lid", lambda: lid_core.score_batch(scrubbed))
            timed("ppl", lambda: ppl_core.perplexity_batch(scrubbed, langs))
            timed("simhash", lambda: simhash_core.dedup_batch(scrubbed))
    return secs


def wave_rows(p: workloads.Pass, intervals: list, cores: int) -> dict[str, float]:
    """Mean Stage A wave time from the run_checkpointed log callback, and
    task-slot use during the waves: task seconds over wave wall x cores."""
    waves = [t for t, m in p.log if m.startswith("scored wave")]
    if not waves:
        return {"wave_s": 0.0, "wave_slot_util": 0.0}
    busy = sum(max(0.0, min(b, waves[-1]) - max(a, p.started)) for a, b in intervals)
    return {"wave_s": (waves[-1] - p.started) / len(waves),
            "wave_slot_util": busy / ((waves[-1] - p.started) * cores)}


def stage_b_rows(p: workloads.Pass, out_dir: str | None) -> dict[str, float]:
    """Stage B time (from the last wave to the end of the pass) and the
    files the pass wrote under its output directory."""
    marks = [t for t, m in p.log if m.startswith("scored wave")]
    row = {"stage_b_s": p.started + p.seconds - marks[-1] if marks else 0.0,
           "sink_bytes": 0, "sink_files": 0}
    if out_dir and os.path.isdir(out_dir):
        for dirpath, _, names in os.walk(out_dir):
            for n in names:
                st = os.stat(os.path.join(dirpath, n))
                if st.st_mtime >= p.started - 1:
                    row["sink_bytes"] += st.st_size
                    row["sink_files"] += 1
    return row


def layer_table(cum: dict[str, list[float]], levels: list[str]) -> str:
    head = "| layer | prefix | " + " | ".join(
        f"{lv} prefix s | {lv} self s" for lv in levels) + " |"
    lines = [head, "|" + "---|" * (2 + 2 * len(levels))]
    selfs = {lv: self_times(cum[lv]) for lv in levels}
    for i, (layer, pre) in enumerate(zip(LAYERS, PREFIXES)):
        cells = " | ".join(f"{_cell(cum[lv][i])} | {_cell(selfs[lv][i])}" for lv in levels)
        lines.append(f"| {layer} | {pre} | {cells} |")
    sums = " | ".join(f"{cum[lv][-1]:.3f} | {sum(v for v in selfs[lv] if v is not None):.3f}"
                      for lv in levels)
    lines.append(f"| total | traced pass | {sums} |")
    return "\n".join(lines)
