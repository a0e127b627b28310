#!/usr/bin/env python3
"""Benchmark of the clip-labelling engine.

    python3 perfbench/run.py --workload fused --seed 20260816 --seconds 5 --trace 0

Run from the repository root.  Generates the seed's clips, starts a
host-sized Spark session, writes the clips table in it while the oracle
labels the clips, warms up, then runs passes of the workload for
`--seconds`, checking every pass's labels.
`--trace 0` reports the end-to-end metrics; `--trace 1` does the traced
layer run instead and reports the per-layer metrics.  Human-readable lines
and a JSON report come first; the last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import harness
import tracing
import workloads

# name -> (unit, better); BENCHMARK.json lists the same, pinned by a test
END_TO_END = {
    "clips_per_s": ("clips/s", "higher"),
    "cpu_s_per_kclip": ("s/kclip", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}
PER_LAYER = {
    "sources.self_s": ("s", "lower"),
    "sources.bytes_read": ("B", "lower"),
    "sources.tasks": ("count", "lower"),
    "scoring.self_s": ("s", "lower"),
    "scoring.speedup": ("x", "higher"),
    "scoring.decode_us_per_clip": ("us/clip", "lower"),
    "scoring.features_us_per_clip": ("us/clip", "lower"),
    "scoring.repair_us_per_clip": ("us/clip", "lower"),
    "scoring.scrub_us_per_clip": ("us/clip", "lower"),
    "scoring.lid_us_per_clip": ("us/clip", "lower"),
    "scoring.ppl_us_per_clip": ("us/clip", "lower"),
    "scoring.simhash_us_per_clip": ("us/clip", "lower"),
    "scoring.engine_share": ("frac", "lower"),
    "pipeline.materialize_s": ("s", "lower"),
    "heuristics.self_s": ("s", "lower"),
    "dedup.self_s": ("s", "lower"),
    "dedup.band_candidates": ("count", "lower"),
    "dedup.pairs": ("count", "lower"),
    "dedup.capped_buckets": ("count", "lower"),
    "dedup.shuffle_bytes": ("B", "lower"),
    "decision.self_s": ("s", "lower"),
    "sink.self_s": ("s", "lower"),
    "tail.speedup": ("x", "higher"),
    "lineage.wave_s": ("s", "lower"),
    "lineage.wave_slot_util": ("frac", "higher"),
    "lineage.stage_b_s": ("s", "lower"),
    "lineage.sink_bytes": ("B", "lower"),
    "lineage.sink_files": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.tasks_failed": ("count", "lower"),
    "spark.shuffle_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace.overhead_frac": ("frac", "lower"),
}


def metrics_block(values: dict, spec: dict) -> dict:
    missing = sorted(set(spec) - set(values))
    extra = sorted(set(values) - set(spec))
    if missing or extra:
        raise KeyError(f"metrics missing {missing}, unexpected {extra}")
    return {k: {"value": values[k], "unit": spec[k][0]} for k in spec}


def end_to_end(n_clips: int, seconds: list[float], cpu_s: list[float],
               peak_rss: int, setup_s: float) -> dict:
    return metrics_block({
        "clips_per_s": statistics.median([n_clips / s for s in seconds]),
        "cpu_s_per_kclip": statistics.median([c / (n_clips / 1000) for c in cpu_s]),
        "peak_rss_mb": peak_rss / (1 << 20),
        "setup_s": setup_s,
    }, END_TO_END)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


class Bench:
    """One invocation: a workload on the seed's fixture, with the label
    checks shared by the timed and the traced run."""

    def __init__(self, args, host: harness.Host):
        self.args, self.host = args, host
        self.clips_pd = harness.generate(args.seed)
        self.n_clips = len(self.clips_pd)
        self.run_dir = os.path.join(harness.WORK, "run", args.workload)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.fx: harness.Fixture | None = None
        self.runner: workloads.Runner | None = None
        self.spark = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.digest: str | None = None

    def start(self, cores: int, event_log: str | None = None) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = harness.build_session(cores, self.host, event_log)

    def write_fixture(self) -> None:
        """The seed's table, written in this run's JVM, which every run does
        alike; the write is in no metric."""
        self.spark.sparkContext.setJobGroup("fixture", "fixture")
        self.fx = harness.write_fixture(self.spark, self.args.seed, self.clips_pd,
                                        os.path.join(self.run_dir, "clips"))
        self.clips_pd = None
        self.runner = workloads.Runner(self.args.workload, self.fx, self.run_dir)

    def read(self):
        from engine.operators import pipeline

        harness.fit_splits(self.spark, self.host, self.fx.table_bytes)
        return pipeline.read_clips(self.spark, self.fx.path)

    def session(self, cores: int):
        self.start(cores)
        return self.read()

    def check(self, p: workloads.Pass, what: str) -> None:
        """Count a pass's wrong labels; a pass off its path fails every clip."""
        self.attempted += self.fx.n_clips
        wrong = harness.wrong_labels(p.labels, self.fx.ref)
        if p.path_error:
            self.problems.append(f"{what}: {p.path_error}")
            wrong = self.fx.n_clips
        elif wrong:
            self.problems.append(f"{what}: {wrong} clips with a wrong or missing label")
        self.failed += wrong
        self.digest = harness.labels_digest(p.labels)

    def check_agreement(self) -> None:
        if self.digest is None:
            return
        others = harness.agreement(self.fx, self.args.workload, self.digest)
        if others:
            self.problems.append(f"labels disagree with workloads {others}")

    def timed(self) -> tuple[dict, dict]:
        t0 = time.perf_counter()
        self.start(self.host.cores)
        start_s = time.perf_counter() - t0
        self.write_fixture()
        t0 = time.perf_counter()
        clips = self.read()
        self.runner.warm_up(self.spark, clips)
        setup_s = start_s + time.perf_counter() - t0

        root = harness.jvm_pid()

        def measure():
            passes = []
            with harness.PeakRss(root) as rss:
                t0 = time.perf_counter()
                while not passes or time.perf_counter() - t0 < self.args.seconds:
                    c0 = harness.tree_usage(root)[0]
                    p = self.runner.run(self.spark, clips)
                    passes.append((p, harness.tree_usage(root)[0] - c0))
            return passes, rss

        (passes, rss), host = harness.bracketed(measure)
        for i, (p, _) in enumerate(passes):
            self.check(p, f"pass {i + 1}")
        metrics = end_to_end(self.fx.n_clips, [p.seconds for p, _ in passes],
                             [c for _, c in passes], rss.peak, setup_s)
        report = {"pass_s": [p.seconds for p, _ in passes],
                  "pass_cpu_s": [c for _, c in passes],
                  "peak_rss_mb_by_process": rss.at_peak, **host}
        return metrics, report

    def traced(self) -> tuple[dict, dict]:
        (metrics, report), host = harness.bracketed(self._traced)
        return metrics, {**report, **host}

    def _traced(self) -> tuple[dict, dict]:
        tr = tracing.Tracer()
        cores = self.host.cores
        hi, lo = f"local[{cores}]", "local[1]"
        log_dir = os.path.join(self.run_dir, "eventlog")
        wave = workloads.WAVE_SIZE

        def overhead_pass(what: str, clips):
            self.spark.sparkContext.setJobGroup("overhead", "overhead")
            with tr.span(what):
                return workloads.fused(self.spark, workloads.first_parts(clips, wave))

        cum, cpu, reads = {}, {}, {}
        with tr.span("trace"):
            # one JVM; the event log is on from its first session, which
            # writes the fixture and then runs the workload's warm-up
            self.start(cores, log_dir)
            with tr.span("fixture"):
                self.write_fixture()
            clips = self.read()
            sc = self.spark.sparkContext
            sc.setJobGroup("warm-up", "warm-up")
            with tr.span("warm-up"):
                self.runner.warm_up(self.spark, clips)
            sc.setJobGroup("workload", self.runner.name)
            with tr.span(f"workload {self.runner.name}"):
                wp = self.runner.run(self.spark, clips)
            self.check(wp, f"traced {self.runner.name} pass")
            cum[hi], cpu[hi], reads[hi], got, scored = \
                tracing.prefixes(self.spark, clips, tr, hi)
            self.check(workloads.Pass(cum[hi][-1], got), f"{hi} prefixes")
            sc.setJobGroup("counts", "counts")
            with tr.span("dedup counts"):
                counts = tracing.dedup_counts(scored)
            scored.unpersist()
            # tracing overhead: by now the JVM has run several full passes
            # and pass times no longer trend, so the traced first-wave pass
            # is compared with one in a fresh untraced session, after a
            # first-wave warm-up that starts its Python workers
            traced = overhead_pass("traced first wave", clips)
            clips = self.session(cores)
            self.spark.sparkContext.setJobGroup("warm-up", "warm-up")
            workloads.fused(self.spark, workloads.first_parts(clips, wave))
            untraced = overhead_pass("untraced first wave", clips)

            with tr.span(f"traced {lo}"):
                # same JVM, already compiled: the warm-up only starts the
                # one Python worker
                clips = self.session(1)
                workloads.fused(self.spark, workloads.first_parts(clips, 1))
                # scoring runs once here: at one core it is most of the run
                cum[lo], cpu[lo], reads[lo], got, scored = \
                    tracing.prefixes(self.spark, clips, tr, lo, score_alone=False)
                self.check(workloads.Pass(cum[lo][-1], got), f"{lo} prefixes")
                scored.unpersist()
            self.close()
            with tr.span("replay"):
                replay = tracing.replay(self.fx, tr)

        ev_n = tracing.read_event_log(log_dir)
        self_hi, self_lo = tracing.self_times(cum[hi]), tracing.self_times(cum[lo])
        wl = ev_n.get("workload", tracing.Counters())
        out_dir = os.path.join(self.run_dir, "ckpt") if self.runner.name != "fused" else None
        lin = {**tracing.wave_rows(wp, wl.intervals, cores),
               **tracing.stage_b_rows(wp, out_dir)}
        n = self.fx.n_clips
        us = {k: v / n * 1e6 for k, v in replay.items()}
        scoring_cpu = cpu[hi][1] - cpu[hi][0]
        replayed = sum(v for k, v in replay.items() if k != "decode")

        def group(level_ev, prefix):
            return level_ev.get(f"{hi}:{prefix}", tracing.Counters())

        values = {
            "sources.self_s": self_hi[0],
            "sources.bytes_read": reads[hi][0],
            "sources.tasks": group(ev_n, "scan").tasks,
            "scoring.self_s": self_hi[1],
            # scoring with its materialization: local[1] runs them as one
            "scoring.speedup": ((cum[lo][2] - cum[lo][0])
                                / (cum[hi][2] - cum[hi][0])),
            "scoring.decode_us_per_clip": us["decode"],
            "scoring.features_us_per_clip": us["analyze"] - us["decode"],
            "scoring.repair_us_per_clip": us["repair"],
            "scoring.scrub_us_per_clip": us["scrub"],
            "scoring.lid_us_per_clip": us["lid"],
            "scoring.ppl_us_per_clip": us["ppl"],
            "scoring.simhash_us_per_clip": us["simhash"],
            "scoring.engine_share": 1 - replayed / scoring_cpu,
            "pipeline.materialize_s": self_hi[2],
            "heuristics.self_s": self_hi[3],
            "dedup.self_s": self_hi[4],
            "dedup.band_candidates": counts["band_candidates"],
            "dedup.pairs": counts["pairs"],
            "dedup.capped_buckets": counts["capped_buckets"],
            "dedup.shuffle_bytes": (group(ev_n, "+dedup").shuffle_bytes
                                    - group(ev_n, "+flags").shuffle_bytes),
            "decision.self_s": self_hi[5],
            "sink.self_s": self_hi[6],
            "tail.speedup": sum(self_lo[3:6]) / sum(self_hi[3:6]),
            **{f"lineage.{k}": v for k, v in lin.items()},
            "spark.jobs": wl.jobs,
            "spark.stages": wl.stages,
            "spark.tasks": wl.tasks,
            "spark.tasks_failed": wl.tasks_failed,
            "spark.shuffle_bytes": wl.shuffle_bytes,
            "spark.spill_bytes": wl.spill_bytes,
            "spark.gc_s": wl.gc_s,
            "trace.overhead_frac": traced.seconds / untraced.seconds - 1,
        }
        metrics = metrics_block(values, PER_LAYER)
        spans_path = os.path.join(harness.WORK, "trace",
                                  f"{self.args.workload}-{self.args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(tr.spans, f)
        print(tracing.layer_table(cum, [lo, hi]))
        print(f"first-wave fused pass {traced.seconds:.3f} s traced, "
              f"{untraced.seconds:.3f} s untraced at {hi}; "
              f"scoring CPU {scoring_cpu:.3f} s, replayed compute {replayed:.3f} s; "
              f"spans in {spans_path}")
        report = {"prefix_s": cum, "prefix_cpu_s": cpu, "replay_s": replay,
                  "traced_first_wave_s": traced.seconds,
                  "untraced_first_wave_s": untraced.seconds,
                  "spans": spans_path}
        return metrics, report

    def close(self) -> None:
        harness.shutdown_jvm(self.spark)
        self.spark = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=harness.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = [os.path.join(harness.ROOT, "engine", "__init__.py"),
              os.path.join(harness.ROOT, "tests", "oracle.py")]
    absent = [p for p in needed if not os.path.exists(p)]
    if absent:
        print(f"perfbench: run from a checkout of the engine; missing {absent}",
              file=sys.stderr)
        return 2

    host = harness.detect_host()
    harness.pin_env()
    bench = Bench(args, host)
    try:
        metrics, report = bench.traced() if args.trace else bench.timed()
        bench.check_agreement()
    except Exception:
        # a run that raises fails every clip it attempted
        traceback.print_exc()
        attempted = max(bench.attempted, bench.n_clips)
        print(result_line(False, attempted, attempted, {}))
        return 1
    finally:
        bench.close()

    report.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"cores": host.cores, "mem_gb": round(host.mem_bytes / 2**30, 1),
                 "driver_mem_mb": host.driver_mem_mb,
                 "python": sys.version.split()[0]},
        "fixture": {"clips": bench.fx.n_clips, "bytes": bench.fx.table_bytes,
                    "write_s": bench.fx.write_s},
        "problems": bench.problems,
    })
    print(f"workload={args.workload} seed={args.seed} cores={host.cores} "
          f"clips={bench.fx.n_clips} valid={str(report['valid']).lower()}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {bench.failed / max(1, bench.attempted):.6g} frac")
    for p in bench.problems:
        print(f"PROBLEM {p}")
    print(json.dumps({"report": report}))
    print(result_line(not bench.problems, bench.attempted, bench.failed, metrics))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
