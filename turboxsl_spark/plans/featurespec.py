"""Declarative feature plan → one DataFrame DAG.

The reference compiles a stylesheet once and applies it to every
document (``XSLTNewProcessor`` / ``XSLTProcess``,
``/root/reference/src/transform.c:507-557, 633-718``). Our analogue:
a ``FeatureSpec`` is "the stylesheet" — a declarative description of
the per-turn features — and ``build_features`` compiles it ONCE into a
lazy DataFrame DAG that Catalyst optimizes (the stand-in for turboxsl's
template precompilation + XPath memoization).

The plan is built as one ``withColumns`` projection per dependency
level, each composed from the operator modules' Column builders:

1. text: ``text_norm``, then ``text_len``/``n_tokens``;
2. window level 1: ``position``, the lags/leads, ``gap_s`` (the
   previous turn's ``ts`` lag), the forward fills and the running
   ``turns_so_far``/``chars_so_far``;
3. window level 2: the ``session_id`` running sum, which reads
   ``gap_s`` by name and so cannot share level 1's ``Window``;
4. template and digest.

Every window feature shares ONE window spec, so the physical plan has
one Exchange, one Sort and two ``Window`` operators (one per level),
pinned in tests/test_plans.py. Chaining one projection per feature
instead stacks a ``Window`` per call, each buffering and copying the
full row.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from turboxsl_spark.functions.strings import avt_template, md5_hex, normalize_space
from turboxsl_spark.functions.text_analysis import normalized_token_count
from turboxsl_spark.operators.sessionize import gap_seconds_col, session_id_col
from turboxsl_spark.operators.windows import (
    conv_window,
    forward_fill_cols,
    lag_lead_cols,
    position_col,
    running_cols,
)

DEFAULT_TEMPLATE = "[{role}#{position}] {text_norm}"


@dataclass(frozen=True)
class FeatureSpec:
    """The flagship per-turn feature surface (SURVEY.md §7 phase 0).

    Every feature is point-in-time safe: only rows at or before the
    current turn in ``(ts, turn_idx)`` order are read.
    """

    session_timeout_s: int = 1800
    lag_cols: tuple[str, ...] = ("role", "text_len")
    lag_offsets: tuple[int, ...] = (1, 2)
    ffill_cols: tuple[str, ...] = ("tool",)
    template: str = DEFAULT_TEMPLATE
    extra_running: bool = True
    digest: bool = True
    leads: bool = False  # lead features are non-PIT; off by default
    # Raw text is reproducible from the source table by (conv_id,
    # turn_idx); carrying it through the window shuffle roughly doubles
    # the string bytes per row, and on bandwidth-bound hardware that
    # directly costs scaling efficiency (measured 0.65 → 0.81 at 4→16
    # cores). Off by default; flip on when the sink wants raw text.
    keep_text: bool = False


def build_features(df: DataFrame, spec: FeatureSpec = FeatureSpec()) -> DataFrame:
    """Compile the spec against a transcript-shaped DataFrame."""
    w = conv_window()
    base = [c for c in df.columns if spec.keep_text or c != "text"]

    # text stage (JVM-side codegen; no shuffle)
    df = df.withColumn("text_norm", normalize_space("text"))
    df = df.withColumns(
        {
            "text_len": F.length("text_norm"),
            "n_tokens": normalized_token_count("text_norm"),
        }
    )

    # window level 1: every window feature over input columns only
    nav = {
        "position": position_col(w),
        **lag_lead_cols(spec.lag_cols, spec.lag_offsets, w, lead=spec.leads),
        "gap_s": gap_seconds_col(w),
    }
    running = forward_fill_cols(spec.ffill_cols, w)
    if spec.extra_running:
        running |= running_cols(
            {"turns_so_far": F.count(F.lit(1)), "chars_so_far": F.sum("text_len")}, w
        )
    df = df.withColumns({**nav, **running})

    # window level 2: the session running sum over level 1's gap
    df = df.withColumn("session_id", session_id_col("gap_s", spec.session_timeout_s, w))

    # templated per-turn text — the byte-equal invariant column — in the
    # output's column order (session_id right after gap_s)
    rendered = avt_template(
        spec.template,
        role=F.col("role"),
        position=F.col("position"),
        text_norm=F.col("text_norm"),
    )
    df = df.select(
        *base, "text_norm", "text_len", "n_tokens", *nav, "session_id", *running,
        rendered.alias("rendered"),
    )
    if spec.digest:
        df = df.withColumn("digest", md5_hex("conv_id", "turn_idx", "rendered"))
    return df


FLAGSHIP_FEATURE_COLS = [
    "text_norm",
    "text_len",
    "n_tokens",
    "position",
    "role_lag1",
    "role_lag2",
    "text_len_lag1",
    "text_len_lag2",
    "gap_s",
    "session_id",
    "tool_ffill",
    "turns_so_far",
    "chars_so_far",
    "rendered",
    "digest",
]
