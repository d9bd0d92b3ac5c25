"""Gap-based sessionization and per-conversation response latency.

Classic two-window composition (public Spark idiom): the gap from the
previous turn, then a running sum over rows (-inf, 0] of "gap exceeds
the timeout" flags yields a 0-based session id per conversation. The
running sum reads the gap column by name, so it depends on the lag: the
plan has one exchange, one sort and two ``Window`` operators, the lag's
and the sum's (pinned in tests/test_plans.py).

Both features are SQL text, written once as ``windows.WindowFn``s
(``gap_seconds_fn``, ``session_id_fn``): ``plans.featurespec`` puts them
into its JVM-parsed ``selectExpr`` levels, because the driver builds the
plan while every core waits and each Python ``Column`` node costs one
Py4J round trip; ``with_session_id`` runs the same text over a caller's
``WindowSpec`` through ``windows.with_window_fns``.

``response_latency_stats`` reuses the same gap and ``role``'s lag over
``conv_over()`` in one ``selectExpr``, then one grouped aggregate over
the user→assistant pairs. The aggregate groups on the window's
partition key, so it reuses the window's exchange: one exchange, one
sort, one ``Window`` (pinned in tests/test_plans.py), no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, WindowSpec
from pyspark.sql import functions as F

from turboxsl_spark.operators.skew import _q
from turboxsl_spark.operators.windows import (
    KEY,
    WindowFn,
    conv_over,
    lag_lead_fns,
    with_window_fns,
)

DEFAULT_TIMEOUT_S = 1800


def gap_seconds_fn(ts_col: str = "ts") -> WindowFn:
    """Seconds since the previous turn; NULL on a conversation's first.

    Integer-microsecond subtraction, then one division: bit-exact vs the
    pandas reference (double epoch-seconds subtraction is not). The lag
    reads the raw column, so no derived column is computed ahead of the
    window's exchange and shuffled with the rows.
    """
    ts = _q(ts_col)

    def gap(prev: str) -> str:
        return (
            f"CAST(unix_micros(CAST({ts} AS TIMESTAMP)) - "
            f"unix_micros(CAST({prev} AS TIMESTAMP)) AS DOUBLE) / 1e6"
        )

    return WindowFn(f"lag({ts}, 1)", outer=gap)


def session_id_fn(gap_col: str, timeout_s: int = DEFAULT_TIMEOUT_S) -> WindowFn:
    """0-based session id from the gap column named ``gap_col``; a new
    session starts when gap > timeout (a NULL gap starts none)."""
    is_new = f"CASE WHEN {_q(gap_col)} > {float(timeout_s)!r}D THEN 1 ELSE 0 END"
    return WindowFn(f"sum({is_new})", running=True, outer=lambda s: f"CAST({s} AS INT)")


def with_session_id(
    df: DataFrame,
    timeout_s: int = DEFAULT_TIMEOUT_S,
    w: WindowSpec | None = None,
    ts_col: str = "ts",
    out: str = "session_id",
    keep_gap: bool = False,
) -> DataFrame:
    """0-based session id; a new session starts when gap > timeout.

    The first turn of a conversation (gap undefined) starts session 0.
    ``keep_gap`` also keeps the gap as ``gap_s``.
    """
    gap = "gap_s" if keep_gap else "_gap_s"
    df = with_window_fns(df, {gap: gap_seconds_fn(ts_col)}, w)
    df = with_window_fns(df, {out: session_id_fn(gap, timeout_s)}, w)
    return df if keep_gap else df.drop(gap)


def response_latency_stats(df: DataFrame) -> DataFrame:
    """Per-conversation user→assistant response latency.

    A response is an ``assistant`` turn whose previous turn (in
    ``(ts, turn_idx)`` order) is a ``user`` turn; its latency is
    ``gap_seconds_fn``'s gap. Returns ``conv_id``, ``n_turns``,
    ``n_responses`` (bigint) and the mean, median and max latency in
    seconds (double, NULL without responses). ``median`` interpolates
    between the two middle values, as numpy's does.
    """
    over = conv_over()
    gaps = df.selectExpr(
        _q(KEY),
        "role",
        f"{gap_seconds_fn().sql(over)} AS _gap_s",
        f"{lag_lead_fns(['role'])['role_lag1'].sql(over)} AS role_lag1",
    )
    resp = "FILTER (WHERE role = 'assistant' AND role_lag1 = 'user')"
    return gaps.groupBy(KEY).agg(
        F.expr("count(*) AS n_turns"),
        F.expr(f"count(_gap_s) {resp} AS n_responses"),
        F.expr(f"avg(_gap_s) {resp} AS mean_response_s"),
        F.expr(f"median(_gap_s) {resp} AS p50_response_s"),
        F.expr(f"max(_gap_s) {resp} AS max_response_s"),
    )
