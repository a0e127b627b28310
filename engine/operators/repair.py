"""Repair-then-rescore: salvage rows instead of tombstoning them.

Graft of the reference's repair family R1-R7, which rewrites rows and
keeps them rather than dropping (endpoint imputation
Step2-Data-Incompleteness.R:349-454; gap interpolation Step3:1083-1703;
spatial snap/repair Step4:310-487).  The transcript analog: a row failing
TXT_LEN/CHAR_RATIO only because of whitespace/control-character damage is
NORMALIZED (control chars -> space, ASCII-whitespace-run collapse, trim),
re-evaluated against the same text rules, and — if the normalized text
now passes — kept with `repaired = True` lineage and scored (scrub/LID/
PPL/simhash) on the repaired text.  A row the repair cannot rescue keeps
its original transcript and its original failure.

Scale shape — the repair is FUSED into the one scoring `mapInPandas`
crossing (scoring._score_batch calls `repair_batch` before the model
scoring), because every earlier design lost at scale:

  * a 2-column rescore UDF + merge-back join costs a second shuffle of
    both sides (round 1);
  * a branch-union (untouched ∪ rescored) costs nothing by itself, but
    the dedup stage references its input from three plan branches, so an
    un-persisted union re-executes the repair subtree three times, and
    persisting it costs an extra materialization pass (round 2);
  * fusing it into the already-mandatory Python crossing costs only the
    normalization work itself, on candidate rows only, perfectly
    distributed, with no new shuffle, join, union, or cached table —
    and the text flags are evaluated on the final transcript, so no
    flag-clearing merge exists at all.

`text_flags` is the one definition of the transcript rules (TXT_EMPTY,
TXT_LEN, CHAR_RATIO): the scoring UDF evaluates it on the final
transcript and emits the three flags, so the native heuristics only pass
them through.

Whitespace class is ASCII-EXPLICIT in the normalization here and in the
oracle: Python's re \\s also matches unicode spaces, so the
normalization regex never uses bare \\s.  TXT_EMPTY is `str.strip()`,
which does strip unicode spaces (a transcript of only NBSPs is empty).
"""

from __future__ import annotations

import re

from .. import config

_CTRL_RE = re.compile("[\x00-\x1f\x7f]")
_WS_RE = re.compile("[ \t\n\x0b\f\r]+")


def normalize_text(t: str) -> str:
    """control chars -> space, collapse ASCII whitespace runs, trim."""
    return _WS_RE.sub(" ", _CTRL_RE.sub(" ", t)).strip(" ")


def text_flags(t: str | None, dur_ms: int | None) -> tuple[bool, bool, bool]:
    """(TXT_EMPTY, TXT_LEN, CHAR_RATIO) for one transcript.  TXT_EMPTY is
    the graft of missing-route detection (Step2:3, -999 sentinel); TXT_LEN
    the length bounds; CHAR_RATIO the alpha-ratio floor plus the graft of
    the impossible-speed filter `speed < 90` m/s (Step3:135) as a chars/sec
    band.  A null transcript is empty and nothing else; an unevaluable
    sub-predicate (chars/sec with dur_ms null or <= 0) contributes False."""
    if t is None:
        return True, False, False
    n = len(t)
    txt_len = n < config.TXT_LEN_MIN or n > config.TXT_LEN_MAX
    char_ratio = False
    if n > 0:
        char_ratio = sum(map(str.isalpha, t)) / n < config.ALPHA_RATIO_MIN
        if dur_ms is not None and dur_ms > 0:
            cps = n / (dur_ms / 1000.0)
            char_ratio = (char_ratio or cps > config.CHARS_PER_SEC_MAX
                          or cps < config.CHARS_PER_SEC_MIN)
    return t.strip() == "", txt_len, char_ratio


def repair_batch(transcripts: list[str | None],
                 durs: list[int | None]) -> tuple[list[str | None], list[bool]]:
    """(transcripts, dur_ms) -> (final transcripts, repaired flags).

    A transcript is a candidate iff it currently fails a text rule; the
    normalization runs ONLY for candidates (few %), and a candidate is
    rescued iff its normalized text differs, is non-empty, and passes all
    text rules.  Non-candidates pass through untouched."""
    out = list(transcripts)
    repaired = [False] * len(out)
    for i, t in enumerate(out):
        if t is None:
            continue
        dur = durs[i]
        _, txt_len, char_ratio = text_flags(t, dur)
        if not (txt_len or char_ratio):
            continue
        norm = normalize_text(t)
        if norm != t and len(norm) > 0 and not any(text_flags(norm, dur)):
            out[i] = norm
            repaired[i] = True
    return out, repaired
