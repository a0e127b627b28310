"""The per-pass label check catches wrong, missing, extra and repeated labels."""

import pandas as pd

import harness

REF = pd.DataFrame({
    "clip_id": ["c1", "c2", "c3"],
    "keep": [True, False, True],
    "drop_reason": [None, "TXT_EMPTY", None],
    "scrubbed_transcript": ["a b", None, "<EMAIL> c"],
})


def test_identical_labels_pass_in_any_order():
    got = REF.iloc[::-1].reset_index(drop=True)
    assert harness.wrong_labels(got, REF) == 0
    assert harness.labels_digest(got) == harness.labels_digest(REF)


def test_nan_and_none_both_mean_missing():
    got = REF.copy()
    got["drop_reason"] = got["drop_reason"].astype(object).where(~got["keep"], float("nan"))
    assert harness.wrong_labels(got, REF) == 0


def test_a_corrupted_label_is_caught():
    for col, value in (("keep", True), ("drop_reason", "NEAR_DUP"),
                       ("scrubbed_transcript", "a  b")):
        got = REF.copy()
        got.loc[1 if col != "scrubbed_transcript" else 0, col] = value
        assert harness.wrong_labels(got, REF) == 1, col
        assert harness.labels_digest(got) != harness.labels_digest(REF)


def test_missing_extra_and_repeated_clips_are_caught():
    assert harness.wrong_labels(REF.iloc[:2], REF) == 1
    extra = pd.concat([REF, REF.iloc[:1].assign(clip_id="c9")], ignore_index=True)
    assert harness.wrong_labels(extra, REF) == 1
    assert harness.wrong_labels(pd.concat([REF, REF.iloc[:1]], ignore_index=True), REF) == 1
