"""Layer self times from cumulative prefixes, with a skipped prefix."""

import pytest

import tracing


def test_self_times_sum_to_the_last_prefix():
    cum = [0.5, 3.0, 3.5, 4.0, 5.0, 5.2, 5.1]
    selfs = tracing.self_times(cum)
    assert selfs[0] == 0.5 and selfs[1] == pytest.approx(2.5)
    assert selfs[-1] == pytest.approx(-0.1)
    assert sum(selfs) == pytest.approx(cum[-1])


def test_a_skipped_prefix_folds_into_the_next_layer():
    selfs = tracing.self_times([0.5, None, 3.5, 4.0])
    assert selfs[1] is None
    assert selfs[2] == pytest.approx(3.0)
    assert sum(v for v in selfs if v is not None) == pytest.approx(4.0)


def test_layer_table_marks_the_skipped_prefix():
    hi = [0.5, 3.0, 3.5, 4.0, 5.0, 5.2, 5.1]
    lo = [0.6, None, 12.0, 12.5, 14.0, 14.1, 14.2]
    table = tracing.layer_table({"local[1]": lo, "local[4]": hi}, ["local[1]", "local[4]"])
    rows = table.splitlines()
    assert rows[3] == "| scoring | +score | — | — | 3.000 | 2.500 |"
    assert rows[-1] == "| total | traced pass | 14.200 | 14.200 | 5.100 | 5.100 |"
