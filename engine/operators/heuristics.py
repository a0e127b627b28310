"""Heuristic rule columns — native Column comparisons (JVM-side,
whole-stage-codegen; no Python in this path).

Each rule grafts a reference check (file:line cited per rule).  Flag
semantics are tri-valued-free: every flag is a non-null boolean; a rule
that cannot be evaluated for a row (e.g. chars/sec with dur_ms <= 0) is
False — the rule that *made* it unevaluable fires instead, earlier in
RULE_ORDER.  Codec and transcript string rules are decided once, in the
scoring UDF: it emits `canon_codec` (config.canon_codec) and the three
text flags (repair.text_flags), so this module only compares.  The
pure-pandas oracle (tests/oracle.py) implements the same definitions
independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import config


def with_heuristic_flags(df: DataFrame) -> DataFrame:
    """Adds f_DUR_BOUNDS, f_SR_INVALID and f_CODEC_INVALID; f_TXT_EMPTY,
    f_TXT_LEN and f_CHAR_RATIO come from the scoring UDF unchanged."""
    dur = F.col("dur_ms")
    codec = F.col("canon_codec")

    # DUR_BOUNDS: graft of `endtime > starttime` (Step1:66-68) + the
    # day-long-gap cap `duration < 1440` min (Step3:96)
    f_dur = (dur.isNull() | (dur < config.DUR_MS_MIN) | (dur > config.DUR_MS_MAX))

    # SR_INVALID: allowlist membership (domain checks, Step1:76-93)
    f_sr = ~F.col("sr_hz").isin(*config.SR_ALLOWLIST) | F.col("sr_hz").isNull()

    # CODEC_INVALID: membership of the canonicalized codec (graft of the
    # 16-way subtype recode chain, Step1-Read-Data-Formatting.R:76-93)
    f_codec = codec.isNull() | ~codec.isin(*config.CODEC_ALLOWLIST)

    return (df
            .withColumn("f_" + config.RULE_DUR_BOUNDS, f_dur)
            .withColumn("f_" + config.RULE_SR_INVALID, f_sr)
            .withColumn("f_" + config.RULE_CODEC_INVALID, f_codec))


def with_model_flags(df: DataFrame) -> DataFrame:
    """Flags over the fused-UDF score columns (still native exprs here;
    the Python work already happened once in scoring.score_clips)."""
    dur = F.col("dur_ms")
    dec = F.col("decoded_dur_ms")

    # UNDECODABLE: payload present but its codec's decoder is missing or
    # rejected the bytes (scoring UDF verdict).  Precedes every
    # decode-derived rule so those never fire on garbage interpretations.
    f_undec = F.col("undecodable")

    # DUR_MISMATCH: recompute-and-check (Step5-Attribute-Redundancy.R:47-55).
    # Fires when duration and sample rate are themselves plausible but the
    # decoded payload disagrees (or is missing/undecodable).
    sr_ok = F.col("sr_hz").isin(*config.SR_ALLOWLIST)
    f_mismatch = F.when(
        dur.isNotNull() & (dur > 0) & sr_ok,
        dec.isNull()
        | (F.abs(dec.cast("double") - dur.cast("double")) / dur.cast("double")
           > config.DUR_MISMATCH_FRAC),
    ).otherwise(F.lit(False))

    # SILENCE: frame-level no-signal detection (graft of the stay-point/
    # stationary-episode scan, Step4-Spatial-Inconsistency.R:5-49); only
    # fires when the payload decoded far enough to yield frame features
    f_silence = F.coalesce(
        F.col("silence_ratio") > config.SILENCE_RATIO_MAX, F.lit(False))

    f_lid = F.col("lid_margin") < config.LID_MARGIN_MIN
    f_ppl = F.col("ppl_score") > config.PPL_MAX
    f_tox = F.col("tox_severe")

    return (df
            .withColumn("f_" + config.RULE_UNDECODABLE, f_undec)
            .withColumn("f_" + config.RULE_DUR_MISMATCH, f_mismatch)
            .withColumn("f_" + config.RULE_SILENCE, f_silence)
            .withColumn("f_" + config.RULE_LID_LOWCONF, f_lid)
            .withColumn("f_" + config.RULE_HIGH_PPL, f_ppl)
            .withColumn("f_" + config.RULE_TOXIC, f_tox))
