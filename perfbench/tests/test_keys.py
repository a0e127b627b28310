"""BENCHMARK.json and the benchmark's output name the same workloads and
metrics, with the same units."""

import json
import os

import pytest

import run
import workloads

SPEC = json.load(open(os.path.join(os.path.dirname(run.__file__), "..", "BENCHMARK.json")))


def test_workloads_are_runnable():
    names = [w["name"] for w in SPEC["workloads"]]
    assert names == list(workloads.WORKLOADS) == ["fused", "checkpointed"]


def test_end_to_end_names_units_and_direction():
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]} == run.END_TO_END
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_per_layer_names_units_and_direction():
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} == run.PER_LAYER


def test_end_to_end_output_has_every_metric():
    out = run.end_to_end(4000, [2.0, 2.2, 1.9], [6.0, 6.5, 5.9], 3 << 30, 4.2)
    assert {k: v["unit"] for k, v in out.items()} == {k: u for k, (u, _) in run.END_TO_END.items()}
    assert out["clips_per_s"]["value"] == pytest.approx(2000.0)
    assert out["cpu_s_per_kclip"]["value"] == pytest.approx(1.5)
    assert out["peak_rss_mb"]["value"] == pytest.approx(3072.0)
    assert out["setup_s"]["value"] == pytest.approx(4.2)


def test_metrics_block_rejects_missing_or_extra_keys():
    values = dict.fromkeys(run.PER_LAYER, 1.0)
    assert list(run.metrics_block(values, run.PER_LAYER)) == list(run.PER_LAYER)
    with pytest.raises(KeyError):
        run.metrics_block({**values, "dedup.surprise": 1.0}, run.PER_LAYER)
    del values["spark.jobs"]
    with pytest.raises(KeyError):
        run.metrics_block(values, run.PER_LAYER)


def test_result_line_shape():
    line = json.loads(run.result_line(True, 10, 0, {"setup_s": {"value": 1.5, "unit": "s"}}))
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
