"""Declarative feature plan → one DataFrame DAG, compiled to SQL text.

The reference compiles a stylesheet once and applies it to every
document (``XSLTNewProcessor`` / ``XSLTProcess``,
``/root/reference/src/transform.c:507-557, 633-718``). Our analogue:
a ``FeatureSpec`` is "the stylesheet" — a declarative description of
the per-turn features — and ``build_features`` compiles it ONCE into a
lazy DataFrame DAG that Catalyst optimizes (the stand-in for turboxsl's
template precompilation + XPath memoization).

The spec compiles to SQL text, applied as one JVM-parsed ``selectExpr``
per dependency level. The build runs on the driver while every core
waits, and a plan assembled from Python ``Column`` objects costs one
Py4J round trip per node (394 calls per default build, against ~50 as
text). The text comes from the operator modules' SQL-fragment builders
(``windows.WindowFn``s, the ``*_sql`` text builders), so each feature is
written once. The levels:

1. ``text_norm``;
2. ``text_len``, ``n_tokens``;
3. window level 1: ``position``, the lags/leads, ``gap_s`` (the
   previous turn's ``ts`` lag), the forward fills and the running
   ``turns_so_far``/``chars_so_far``;
4. window level 2: the ``session_id`` running sum, which reads
   ``gap_s`` by name and so cannot share level 1's ``Window``;
5. the output's column order plus ``rendered`` — a separate projection
   from level 4, or ``rendered`` is computed below the session
   ``Window`` and the plan changes;
6. ``digest``.

Every window feature shares ONE window spec, so the physical plan has
one Exchange, one Sort and two ``Window`` operators (one per window
level), pinned in tests/test_plans.py. Chaining one projection per
feature instead stacks a ``Window`` per call, each buffering and copying
the full row. Every identifier enters the text through ``skew._q``, so
pass-through columns may carry any name.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from turboxsl_spark.functions.strings import avt_template_sql, md5_hex_sql, normalize_space_sql
from turboxsl_spark.functions.text_analysis import normalized_token_count_sql
from turboxsl_spark.operators.sessionize import gap_seconds_fn, session_id_fn
from turboxsl_spark.operators.skew import _q
from turboxsl_spark.operators.windows import (
    WindowFn,
    conv_over,
    forward_fill_fns,
    lag_lead_fns,
    position_fn,
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
    over = conv_over()
    base = [c for c in df.columns if spec.keep_text or c != "text"]

    def add(df: DataFrame, feats: dict[str, str]) -> DataFrame:
        return df.selectExpr("*", *[f"{sql} AS {_q(name)}" for name, sql in feats.items()])

    # text stage (JVM-side codegen; no shuffle)
    df = add(df, {"text_norm": normalize_space_sql(_q("text"))})
    df = add(
        df,
        {
            "text_len": f"length({_q('text_norm')})",
            "n_tokens": normalized_token_count_sql(_q("text_norm")),
        },
    )

    # window level 1: every window feature over input columns only
    nav = {
        "position": position_fn(),
        **lag_lead_fns(spec.lag_cols, spec.lag_offsets, lead=spec.leads),
        "gap_s": gap_seconds_fn(),
    }
    running = forward_fill_fns(spec.ffill_cols)
    if spec.extra_running:
        running |= {
            "turns_so_far": WindowFn("count(1)", running=True),
            "chars_so_far": WindowFn(f"sum({_q('text_len')})", running=True),
        }
    df = add(df, {name: f.sql(over) for name, f in {**nav, **running}.items()})

    # window level 2: the session running sum over level 1's gap
    df = add(df, {"session_id": session_id_fn("gap_s", spec.session_timeout_s).sql(over)})

    # templated per-turn text — the byte-equal invariant column — in the
    # output's column order (session_id right after gap_s)
    rendered = avt_template_sql(
        spec.template, **{slot: _q(slot) for slot in ("role", "position", "text_norm")}
    )
    order = [*base, "text_norm", "text_len", "n_tokens", *nav, "session_id", *running]
    df = df.selectExpr(*map(_q, order), f"{rendered} AS {_q('rendered')}")
    if spec.digest:
        df = add(df, {"digest": md5_hex_sql(*map(_q, ("conv_id", "turn_idx", "rendered")))})
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
