"""Gap-based sessionization.

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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, WindowSpec

from turboxsl_spark.operators.skew import _q
from turboxsl_spark.operators.windows import WindowFn, with_window_fns

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
