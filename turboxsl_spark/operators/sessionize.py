"""Gap-based sessionization.

Classic two-window composition (public Spark idiom): the gap from the
previous turn, then a running sum over rows (-inf, 0] of "gap exceeds
the timeout" flags yields a 0-based session id per conversation. The
running sum reads the gap column by name, so it depends on the lag: the
plan has one exchange, one sort and two ``Window`` operators, the lag's
and the sum's (pinned in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F

from turboxsl_spark.operators.windows import conv_window, running_frame

DEFAULT_TIMEOUT_S = 1800


def gap_seconds_col(w: WindowSpec | None = None, ts_col: str = "ts") -> Column:
    """Seconds since the previous turn; NULL on a conversation's first.

    Integer-microsecond subtraction, then one division: bit-exact vs the
    pandas reference (double epoch-seconds subtraction is not). The lag
    reads the raw column, so no derived column is computed ahead of the
    window's exchange and shuffled with the rows.
    """
    ts = F.col(ts_col)
    prev = F.lag(ts, 1).over(w or conv_window())
    gap_us = F.unix_micros(ts.cast("timestamp")) - F.unix_micros(prev.cast("timestamp"))
    return gap_us.cast("double") / F.lit(1e6)


def session_id_col(
    gap_col: str, timeout_s: int = DEFAULT_TIMEOUT_S, w: WindowSpec | None = None
) -> Column:
    """0-based session id from the gap column named ``gap_col``; a new
    session starts when gap > timeout (a NULL gap starts none)."""
    is_new = F.when(F.col(gap_col) > F.lit(float(timeout_s)), 1).otherwise(0)
    return F.sum(is_new).over(running_frame(w)).cast("int")


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
    df = df.withColumn(gap, gap_seconds_col(w, ts_col))
    df = df.withColumn(out, session_id_col(gap, timeout_s, w))
    return df if keep_gap else df.drop(gap)
