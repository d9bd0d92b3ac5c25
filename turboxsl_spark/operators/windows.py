"""Window navigations — the Spark form of the reference's XPath axes.

turboxsl's sibling axes walk prev/next pointers within one document
(``/root/reference/src/xpath.c:359-372, 394-407``); here "document" =
conversation and the axes become lag/lead and frames over ONE shared
window spec (``Window.partitionBy(conv_id).orderBy(ts, turn_idx)``), so
every window feature rides the same exchange and sort.

Each feature has one Column builder (``position_col``,
``lag_lead_cols``, ``forward_fill_cols``, ``running_cols``); the
``with_*`` helpers apply a builder's columns in one ``withColumns``
projection. Callers that need several features put all their builders
into ONE projection, as ``plans.featurespec.build_features`` does:
Catalyst evaluates every window expression of one projection that shares
the partition and order spec in one ``Window`` operator, whatever the
frame, while chained projections stack one ``Window`` each — every one
buffering and copying the full row. The flagship plan has one exchange,
one sort and two ``Window`` operators: the session running sum
(``operators.sessionize``) reads the gap, itself a lag, so it needs a
second level.

Leakage discipline (SURVEY.md §2.6): ``preceding-sibling`` features are
point-in-time safe; ``following-sibling`` (lead) features are emitted
only with the explicit ``_future`` suffix and are excluded from the PIT
surface by default.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

KEY = "conv_id"
ORDER = ("ts", "turn_idx")


def conv_window(key: str = KEY, order: Sequence[str] = ORDER) -> WindowSpec:
    """The one shared window: partition by conversation, document order.

    ``turn_idx`` is the stable tiebreaker for duplicate ``ts`` —
    mirrors the reference's parse-time sibling ``position``
    (``/root/reference/src/parse.c:309-320``).
    """
    return Window.partitionBy(key).orderBy(*[F.col(c) for c in order])


def running_frame(w: WindowSpec | None = None) -> WindowSpec:
    """``w`` restricted to rows (-inf, 0]: everything up to this turn."""
    return (w or conv_window()).rowsBetween(Window.unboundedPreceding, 0)


def position_col(w: WindowSpec | None = None) -> Column:
    """1-based position within the conversation — XPath ``position()``.

    Selection-relative: apply AFTER filters, matching the reference,
    which numbers the post-filter selection
    (``/root/reference/src/xpath.c:114-134``).
    """
    return F.row_number().over(w or conv_window())


def lag_lead_cols(
    cols: Sequence[str],
    offsets: Sequence[int] = (1,),
    w: WindowSpec | None = None,
    lead: bool = False,
) -> dict[str, Column]:
    """``preceding-sibling::``/``following-sibling::`` as lag/lead.

    Lead columns get a ``_future`` suffix: they are legitimate operators
    but leakage-prone, so the naming makes them impossible to mistake
    for PIT features.
    """
    w = w or conv_window()
    out = {}
    for c in cols:
        for k in offsets:
            out[f"{c}_lag{k}"] = F.lag(c, k).over(w)
            if lead:
                out[f"{c}_lead{k}_future"] = F.lead(c, k).over(w)
    return out


def forward_fill_cols(
    cols: Sequence[str],
    w: WindowSpec | None = None,
    suffix: str = "_ffill",
) -> dict[str, Column]:
    """Backfill: most recent non-null value at or before this row.

    ``F.last(c, ignorenulls=True)`` over rows (-inf, 0] — the
    point-in-time "latest known fact" primitive.
    """
    w = running_frame(w)
    return {f"{c}{suffix}": F.last(c, ignorenulls=True).over(w) for c in cols}


def running_cols(agg: dict[str, Column], w: WindowSpec | None = None) -> dict[str, Column]:
    """Running aggregates over rows (-inf, 0] of the conv window.

    ``agg`` maps output column name → aggregate Column (e.g.
    ``{"n_turns_so_far": F.count("*"), "chars_so_far": F.sum("n")}``).
    """
    w = running_frame(w)
    return {name: col.over(w) for name, col in agg.items()}


def with_position(df: DataFrame, w: WindowSpec | None = None, col: str = "position") -> DataFrame:
    """Add ``position_col`` as ``col``."""
    return df.withColumn(col, position_col(w))


def with_last(df: DataFrame, key: str = KEY, col: str = "last_pos") -> DataFrame:
    """XPath ``last()`` = size of the selection = count over the group."""
    return df.withColumn(col, F.count("*").over(Window.partitionBy(key)))


def with_lag_lead(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int] = (1,),
    w: WindowSpec | None = None,
    lead: bool = False,
) -> DataFrame:
    """Add the ``lag_lead_cols`` columns in one projection."""
    return df.withColumns(lag_lead_cols(cols, offsets, w, lead))


def with_forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    w: WindowSpec | None = None,
    suffix: str = "_ffill",
) -> DataFrame:
    """Add the ``forward_fill_cols`` columns in one projection."""
    return df.withColumns(forward_fill_cols(cols, w, suffix))


def with_running(
    df: DataFrame,
    agg: dict[str, Column],
    w: WindowSpec | None = None,
) -> DataFrame:
    """Add the ``running_cols`` columns in one projection."""
    return df.withColumns(running_cols(agg, w))
