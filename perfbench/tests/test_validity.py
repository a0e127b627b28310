"""A run bracketed by a low first-touch probe is stamped invalid."""

import harness


def _probes(monkeypatch, values):
    it = iter(values)
    monkeypatch.setattr(harness, "first_touch_gbps", lambda mb=256: next(it))


def test_healthy_probes_are_valid(monkeypatch):
    _probes(monkeypatch, [1.8, 2.4])
    out, host = harness.bracketed(lambda: "ran")
    assert out == "ran"
    assert host == {"probes_gbps": [1.8, 2.4], "valid": True, "invalid_reason": None}


def test_low_probe_after_the_run_marks_it_invalid(monkeypatch):
    _probes(monkeypatch, [1.8, 0.02])
    _, host = harness.bracketed(lambda: None)
    assert host["valid"] is False
    assert "0.020 GB/s" in host["invalid_reason"]


def test_low_probe_before_the_run_marks_it_invalid(monkeypatch):
    _probes(monkeypatch, [0.49, 3.0])
    _, host = harness.bracketed(lambda: None)
    assert host["valid"] is False


def test_threshold_is_inclusive_of_healthy(monkeypatch):
    _probes(monkeypatch, [harness.FAULT_GBPS_HEALTHY, harness.FAULT_GBPS_HEALTHY])
    assert harness.bracketed(lambda: None)[1]["valid"] is True
