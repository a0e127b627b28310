"""Hand-built small-DataFrame tests per heuristic rule family —
the granularity the reference lacks (SURVEY §5.2-2)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from engine import config
from engine.operators import heuristics, repair


def _flags(spark, rows) -> pd.DataFrame:
    """rows of (clip_id, sr_hz, dur_ms, canon_codec) -> heuristic flags."""
    schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("canon_codec", T.StringType()),
    ])
    out = heuristics.with_heuristic_flags(
        spark.createDataFrame(rows, schema)).toPandas()
    return out.set_index("clip_id")


def test_dur_bounds(spark):
    f = _flags(spark, [
        ("ok", 16000, 5000, "mp3"),
        ("low", 16000, 299, "mp3"),
        ("edge_low", 16000, 300, "mp3"),
        ("high", 16000, 120001, "mp3"),
        ("edge_high", 16000, 120000, "mp3"),
        ("null", 16000, None, "mp3"),
        ("neg", 16000, -5, "mp3"),
    ])
    col = "f_" + config.RULE_DUR_BOUNDS
    assert not f.loc["ok", col] and not f.loc["edge_low", col] \
        and not f.loc["edge_high", col]
    assert f.loc["low", col] and f.loc["high", col] and f.loc["null", col] \
        and f.loc["neg", col]


def test_sr_allowlist(spark):
    f = _flags(spark, [
        ("a", 16000, 1000, "mp3"), ("b", 44100, 1000, "mp3"),
        ("c", 96000, 1000, "mp3"), ("d", 0, 1000, "mp3"),
        ("e", None, 1000, "mp3"),
    ])
    col = "f_" + config.RULE_SR_INVALID
    assert not f.loc["a", col] and not f.loc["b", col]
    assert f.loc["c", col] and f.loc["d", col] and f.loc["e", col]


def test_codec_canonicalization(spark):
    """Graft of the subtype recode chain (Step1:76-93): config.canon_codec
    canonicalizes (str.strip, so tabs, newlines and NBSP go too), the
    native rule only tests allowlist membership."""
    raw = {
        "clean": "mp3", "upper": "MP3", "alias": "mpeg3", "spacey": " Flac ",
        "wav": "wav", "tab": "pcm_s16le\t", "nbsp": "\xa0pcm_s16le",
        "bad": "xvc9", "empty": "", "null": None,
    }
    canon = {cid: config.canon_codec(c) for cid, c in raw.items()}
    assert canon["upper"] == canon["alias"] == "mp3"
    assert canon["spacey"] == "flac"
    assert canon["wav"] == canon["tab"] == canon["nbsp"] == "pcm_s16le"
    assert canon["null"] is None
    f = _flags(spark, [(cid, 16000, 1000, c) for cid, c in canon.items()])
    col = "f_" + config.RULE_CODEC_INVALID
    for cid in ("clean", "upper", "alias", "spacey", "wav", "tab", "nbsp"):
        assert not f.loc[cid, col], cid
    for cid in ("bad", "empty", "null"):
        assert f.loc[cid, col], cid


def test_txt_empty_and_len():
    f = {cid: repair.text_flags(t, dur) for cid, t, dur in [
        ("ok", "abc", 1000),
        ("null", None, 1000),
        ("blank", "  \t ", 1000),
        ("nbsp", "\xa0\xa0\xa0", 1000),
        ("unit_sep", "\x1f\x1f\x1f", 1000),
        ("em_space", "\u2003\u2003\u2003", 1000),
        ("short", "ab", 1000),
        ("long", "a" * 5001, 200000),
        ("edge", "a" * 5000, 200000),
    ]}
    assert f["ok"][:2] == (False, False)
    assert f["null"] == (True, False, False)
    for cid in ("blank", "nbsp", "unit_sep", "em_space"):
        assert f[cid][0], cid
    assert f["short"][1] and f["long"][1] and not f["edge"][1]


def test_char_ratio():
    f = {cid: repair.text_flags(t, dur)[2] for cid, t, dur in [
        ("ok", "twenty chars of text", 2000),       # 10 cps
        ("digits", "123456 789 012 345 678", 2000),  # alpha 0
        ("fast", "x" * 60, 1000),                    # 60 cps
        ("edge_fast", "x" * 50, 1000),               # 50 cps, the bound
        ("slow", "abcd", 60000),                     # 0.07 cps
        ("unicode", "кира миало тета болу", 2000),   # cyrillic is alpha
        ("no_dur", "abcd", None),                    # rate unevaluable
        ("zero_dur", "abcd", 0),
    ]}
    assert not f["ok"] and not f["unicode"] and not f["edge_fast"]
    assert not f["no_dur"] and not f["zero_dur"]
    assert f["digits"] and f["fast"] and f["slow"]


def test_model_flag_dur_mismatch(spark):
    schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("decoded_dur_ms", T.IntegerType()),
        T.StructField("silence_ratio", T.DoubleType()),
        T.StructField("lid_margin", T.DoubleType()),
        T.StructField("ppl_score", T.DoubleType()),
        T.StructField("tox_severe", T.BooleanType()),
        T.StructField("undecodable", T.BooleanType()),
    ])
    df = spark.createDataFrame([
        ("exact", 16000, 1000, 1000, 0.0, 1.0, 10.0, False, False),
        ("within", 16000, 1000, 1099, 0.0, 1.0, 10.0, False, False),
        ("over", 16000, 1000, 1101, 0.0, 1.0, 10.0, False, False),
        ("missing", 16000, 1000, None, None, 1.0, 10.0, False, False),
        ("bad_sr", 12345, 1000, None, None, 1.0, 10.0, False, False),  # SR rule's problem
        ("silent", 16000, 1000, 1000, 0.97, 1.0, 10.0, False, False),
        ("part_silent", 16000, 1000, 1000, 0.5, 1.0, 10.0, False, False),
        ("undec", 16000, 1000, None, None, 1.0, 10.0, False, True),
    ], schema)
    f = heuristics.with_model_flags(df).toPandas().set_index("clip_id")
    col = "f_" + config.RULE_DUR_MISMATCH
    assert not f.loc["exact", col] and not f.loc["within", col]
    assert f.loc["over", col] and f.loc["missing", col]
    assert not f.loc["bad_sr", col]
    sil = "f_" + config.RULE_SILENCE
    assert f.loc["silent", sil]
    assert not f.loc["part_silent", sil] and not f.loc["missing", sil]
    # undecodable flag passes through; precedence over DUR_MISMATCH is
    # RULE_ORDER's concern (UNDECODABLE sits earlier)
    und = "f_" + config.RULE_UNDECODABLE
    assert f.loc["undec", und] and not f.loc["exact", und]


def test_repair_normalize_engine_oracle_parity():
    """repair.normalize_text (the form the scoring UDF runs) and the
    oracle's _normalize must agree byte-for-byte on adversarial inputs:
    ASCII whitespace and control chars collapse; unicode spaces (NBSP,
    ideographic space, zero-width) deliberately do NOT (the classes are
    ASCII-explicit because Python re \\s also matches unicode spaces).
    Also idempotent: normalizing twice changes nothing."""
    import numpy as np

    from engine.operators import repair
    from tests import oracle

    rng = np.random.default_rng(99)
    alphabet = (list("abcXYZ09.!") + [" ", "\t", "\n", "\x0b", "\f", "\r"]
                + ["\x00", "\x07", "\x1f", "\x7f"]
                + ["\u00a0", "\u2009", "\u3000", "\u200b", "\u00e9", "\u4e2d"])
    samples = ["", " ", "\x00\x01", "  ", "a  b", "\ta\tb\t"]
    for _ in range(300):
        n = int(rng.integers(0, 40))
        samples.append("".join(rng.choice(alphabet) for _ in range(n)))

    for s in samples:
        g = repair.normalize_text(s)
        o = oracle._normalize(s)
        assert g == o, repr((s, g, o))
        assert oracle._normalize(o) == o  # idempotence
    # the unicode-space design decision, pinned explicitly: NBSP survives,
    # ASCII runs collapse
    assert oracle._normalize("a\u00a0\u00a0b") == "a\u00a0\u00a0b"
    assert oracle._normalize("a  b") == "a b"


# ---------------------------------------------------------------------------
# property tests: repair normalization/rescue (pure Python, no Spark)
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_any_text = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FFF),
    max_size=400)


@settings(max_examples=300, deadline=None)
@given(_any_text)
def test_normalize_text_idempotent(t):
    """normalize(normalize(t)) == normalize(t) — repairing twice can never
    differ from repairing once (matches the oracle's single-pass model)."""
    from engine.operators import repair

    once = repair.normalize_text(t)
    assert repair.normalize_text(once) == once


@settings(max_examples=300, deadline=None)
@given(_any_text, st.integers(min_value=-5, max_value=10 ** 7) | st.none())
def test_repair_batch_invariants(t, dur):
    """For ANY transcript/duration: (a) a text passing the rules is never
    touched; (b) a rescued text differs, is non-empty, and passes all text
    rules; (c) a non-rescued text is returned verbatim; (d) repair_batch
    agrees with the oracle's independent repair model (tests/oracle.py)."""
    from engine import config
    from engine.operators import repair
    from tests import oracle

    out, rep = repair.repair_batch([t], [dur])
    fails = any(repair.text_flags(t, dur)[1:])  # TXT_LEN or CHAR_RATIO
    if not fails:
        assert out == [t] and rep == [False]
    if rep[0]:
        assert out[0] != t and len(out[0]) > 0
        assert not any(repair.text_flags(out[0], dur))
    else:
        assert out[0] == t

    # oracle agreement (the same decision the pandas oracle makes)
    exp_rep, exp_t = False, t
    if fails:
        norm = oracle._normalize(t)
        if norm != t and len(norm) > 0:
            ok = config.TXT_LEN_MIN <= len(norm) <= config.TXT_LEN_MAX
            if ok and oracle._alpha_ratio(norm) < config.ALPHA_RATIO_MIN:
                ok = False
            if ok and dur is not None and dur > 0:
                cps = len(norm) / (dur / 1000.0)
                if cps > config.CHARS_PER_SEC_MAX \
                        or cps < config.CHARS_PER_SEC_MIN:
                    ok = False
            if ok:
                exp_rep, exp_t = True, norm
    assert (rep[0], out[0]) == (exp_rep, exp_t)


_SPACES = ["\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x1f", "\x85",
           "\xa0", "\u1680", "\u2003", "\u2028", "\u3000", "\u200b", " "]
_spacey = st.text(alphabet=st.sampled_from(_SPACES), max_size=4)
_codec_names = st.sampled_from(
    sorted(config.CODEC_ALIASES) + ["", "xvc9", "PCM_S16LE", "Mp3"])
_codecs = (st.none()
           | st.builds(lambda a, c, b: a + c + b, _spacey, _codec_names, _spacey)
           | st.text(max_size=12))
_transcripts = (st.none()
                | st.text(alphabet=st.sampled_from(_SPACES + ["a", "b", "1"]),
                          max_size=12)
                | _any_text)


@settings(max_examples=300, deadline=None)
@given(_codecs, _transcripts,
       st.integers(min_value=-5, max_value=10 ** 7) | st.none())
def test_score_batch_string_rules_match_oracle(codec, t, dur):
    """The scoring UDF decides CODEC_INVALID (via the canon_codec it emits)
    and TXT_EMPTY / TXT_LEN / CHAR_RATIO exactly as the pandas oracle does,
    for any codec string, transcript and duration, Unicode whitespace and
    control characters included."""
    from engine.operators import scoring
    from tests import oracle

    row = {"clip_id": "c0", "part_id": 0, "bytes": None, "sr_hz": 16000,
           "dur_ms": dur, "codec": codec, "transcript": t}
    out = scoring._score_batch(pd.DataFrame([row])).iloc[0]
    exp = oracle.label_clips(
        pd.DataFrame([row]).drop(columns="part_id")).iloc[0]["rule_flags"]
    canon = out["canon_codec"]
    assert (canon not in config.CODEC_ALLOWLIST) \
        == exp[config.RULE_CODEC_INVALID], canon
    for rule in (config.RULE_TXT_EMPTY, config.RULE_TXT_LEN,
                 config.RULE_CHAR_RATIO):
        assert bool(out["f_" + rule]) == exp[rule], rule


# ---------------------------------------------------------------------------
# rule_version coverage: every label-affecting constant must perturb it
# ---------------------------------------------------------------------------

import pytest  # noqa: E402

from engine import audio_core  # noqa: E402

_VERSIONED_CONSTANTS = [
    (config, "DUR_MS_MIN"), (config, "DUR_MS_MAX"),
    (config, "TXT_LEN_MIN"), (config, "TXT_LEN_MAX"),
    (config, "ALPHA_RATIO_MIN"),
    (config, "CHARS_PER_SEC_MIN"), (config, "CHARS_PER_SEC_MAX"),
    (config, "DUR_MISMATCH_FRAC"),
    (config, "SILENCE_FRAME_RMS"), (config, "SILENCE_RATIO_MAX"),
    (config, "LID_MARGIN_MIN"), (config, "PPL_MAX"),
    (config, "SIMHASH_BANDS"), (config, "SIMHASH_BAND_BITS"),
    (config, "SIMHASH_BUCKET_CAP"), (config, "SIMHASH_HAMMING_MAX"),
    (config, "SIMHASH_SHINGLE_K"), (config, "SIMHASH_MIN_TOKENS"),
    (config, "N_PARTS"),
    (audio_core, "FRAME_MS"), (audio_core, "HOP_MS"),
    (audio_core, "FALLBACK_SR"), (audio_core, "CLIP_THRESHOLD"),
]


@pytest.mark.parametrize(
    "mod,name", _VERSIONED_CONSTANTS,
    ids=[f"{m.__name__.split('.')[-1]}.{n}" for m, n in _VERSIONED_CONSTANTS])
def test_rule_version_covers_constant(monkeypatch, mod, name):
    """Round-3 verdict item 3: changing any label-affecting constant must
    change rule_version() (and hence invalidate committed checkpoints and
    the content-addressed oracle materializations)."""
    base = config.rule_version()
    cur = getattr(mod, name)
    monkeypatch.setattr(mod, name, cur + 1 if isinstance(cur, int) else cur * 2)
    assert config.rule_version() != base
    monkeypatch.undo()
    assert config.rule_version() == base


def test_rule_version_covers_rule_order_and_allowlists(monkeypatch):
    base = config.rule_version()
    monkeypatch.setattr(config, "RULE_ORDER", tuple(reversed(config.RULE_ORDER)))
    assert config.rule_version() != base
    monkeypatch.undo()
    monkeypatch.setattr(config, "SR_ALLOWLIST", (8000,))
    assert config.rule_version() != base
    monkeypatch.undo()
    monkeypatch.setattr(config, "CODEC_ALLOWLIST", ("pcm_s16le",))
    assert config.rule_version() != base


def test_rule_version_includes_code_hash_and_schema():
    """The version must be a function of the label-determining SOURCE
    (verdict item 1 / ADVICE resume-compat): perturbing the cached code
    hash or the scored-schema marker changes rule_version()."""
    from engine.operators import scoring

    base = config.rule_version()
    assert config.label_code_version()  # computable (also under zipimport)

    config._CODE_VERSION_CACHE[0] = "0" * 16
    try:
        assert config.rule_version() != base
    finally:
        config._CODE_VERSION_CACHE.clear()
    assert config.rule_version() == base

    fields = scoring.SCORED_FIELDS
    renamed = list(fields)
    import pyspark.sql.types as T
    renamed[0] = T.StructField("renamed_clip_id", T.StringType(), False)
    scoring.SCORED_FIELDS = renamed
    try:
        assert config.rule_version() != base
    finally:
        scoring.SCORED_FIELDS = fields
    assert config.rule_version() == base
