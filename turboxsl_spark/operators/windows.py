"""Window navigations — the Spark form of the reference's XPath axes.

turboxsl's sibling axes walk prev/next pointers within one document
(``/root/reference/src/xpath.c:359-372, 394-407``); here "document" =
conversation and the axes become lag/lead and frames over ONE shared
window spec (``Window.partitionBy(conv_id).orderBy(ts, turn_idx)``), so
every window feature rides the same exchange and sort.

SQL text: each feature is written once, as a ``WindowFn`` — the window
function as SQL text, its frame, and an optional SQL wrap around the
windowed value (``position_fn``, ``lag_lead_fns``, ``forward_fill_fns``;
``operators.sessionize`` adds the gap and the session id; a running
aggregate is ``WindowFn(agg, running=True)``).
``plans.featurespec.build_features`` puts ``WindowFn.sql(over)`` with
the conv window's text (``conv_over``) into one JVM-parsed
``selectExpr`` per level: a plan is built on the driver while every
core waits, and a tree of Python ``Column`` calls costs one Py4J round
trip per node. The ``with_*`` helpers take a caller's ``WindowSpec``
instead and wrap the same text as ``F.expr(fn).over(w)``
(``with_window_fns``); ``with_running`` keeps taking Column aggregates.
Identifiers are quoted through ``skew._q``.

Callers that need several features put them all into ONE projection, as
``build_features`` does: Catalyst evaluates every window expression of
one projection that shares the partition and order spec in one
``Window`` operator, whatever the frame, while chained projections stack
one ``Window`` each — every one buffering and copying the full row. The
flagship plan has one exchange, one sort and two ``Window`` operators:
the session running sum reads the gap, itself a lag, so it needs a
second level.

Leakage discipline (SURVEY.md §2.6): ``preceding-sibling`` features are
point-in-time safe; ``following-sibling`` (lead) features are emitted
only with the explicit ``_future`` suffix and are excluded from the PIT
surface by default.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from turboxsl_spark.operators.skew import _q

KEY = "conv_id"
ORDER = ("ts", "turn_idx")
RUNNING_FRAME = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def conv_window(key: str = KEY, order: Sequence[str] = ORDER) -> WindowSpec:
    """The one shared window: partition by conversation, document order.

    ``turn_idx`` is the stable tiebreaker for duplicate ``ts`` —
    mirrors the reference's parse-time sibling ``position``
    (``/root/reference/src/parse.c:309-320``).
    """
    return Window.partitionBy(key).orderBy(*[F.col(c) for c in order])


def conv_over(key: str = KEY, order: Sequence[str] = ORDER) -> str:
    """``conv_window`` as SQL text, the inside of ``OVER (...)``."""
    return f"PARTITION BY {_q(key)} ORDER BY {', '.join(map(_q, order))}"


def running_frame(w: WindowSpec | None = None) -> WindowSpec:
    """``w`` restricted to rows (-inf, 0]: everything up to this turn."""
    return (w or conv_window()).rowsBetween(Window.unboundedPreceding, 0)


class WindowFn(NamedTuple):
    """One window feature as SQL text: the window function ``fn``, over
    rows (-inf, 0] when ``running``, and ``outer`` (if given) mapping the
    SQL text of the windowed value to the feature's."""

    fn: str
    running: bool = False
    outer: Callable[[str], str] | None = None

    def sql(self, over: str) -> str:
        """The feature over the window whose SQL text is ``over``."""
        frame = f" {RUNNING_FRAME}" if self.running else ""
        windowed = f"{self.fn} OVER ({over}{frame})"
        return self.outer(windowed) if self.outer else windowed


def position_fn() -> WindowFn:
    """1-based position within the conversation — XPath ``position()``.

    Selection-relative: apply AFTER filters, matching the reference,
    which numbers the post-filter selection
    (``/root/reference/src/xpath.c:114-134``).
    """
    return WindowFn("row_number()")


def lag_lead_fns(
    cols: Sequence[str], offsets: Sequence[int] = (1,), lead: bool = False
) -> dict[str, WindowFn]:
    """``preceding-sibling::``/``following-sibling::`` as lag/lead.

    Lead columns get a ``_future`` suffix: they are legitimate operators
    but leakage-prone, so the naming makes them impossible to mistake
    for PIT features.
    """
    out = {}
    for c in cols:
        for k in offsets:
            out[f"{c}_lag{k}"] = WindowFn(f"lag({_q(c)}, {int(k)})")
            if lead:
                out[f"{c}_lead{k}_future"] = WindowFn(f"lead({_q(c)}, {int(k)})")
    return out


def forward_fill_fns(cols: Sequence[str], suffix: str = "_ffill") -> dict[str, WindowFn]:
    """Backfill: most recent non-null value at or before this row.

    ``last(c, true)`` over rows (-inf, 0] — the point-in-time "latest
    known fact" primitive.
    """
    return {f"{c}{suffix}": WindowFn(f"last({_q(c)}, true)", running=True) for c in cols}


def with_window_fns(
    df: DataFrame, fns: dict[str, WindowFn], w: WindowSpec | None = None
) -> DataFrame:
    """``df`` plus each feature of ``fns`` over the caller's ``w`` (default
    ``conv_window()``): ``F.expr(fn).over(w)``, all in one projection. A
    feature with an ``outer`` wrap is windowed into a temporary column
    first, and a second projection applies the wrap to it."""
    w = w or conv_window()
    frame = running_frame(w) if any(f.running for f in fns.values()) else None
    windowed, wrapped = {}, {}
    for name, f in fns.items():
        col = F.expr(f.fn).over(frame if f.running else w)
        if f.outer is None:
            windowed[name] = col
        else:
            windowed[f"_over_{name}"] = col
            wrapped[name] = F.expr(f.outer(_q(f"_over_{name}")))
    df = df.withColumns(windowed)
    if not wrapped:
        return df
    return df.withColumns(wrapped).drop(*[f"_over_{name}" for name in wrapped])


def with_position(df: DataFrame, w: WindowSpec | None = None, col: str = "position") -> DataFrame:
    """Add ``position_fn`` as ``col``."""
    return with_window_fns(df, {col: position_fn()}, w)


def with_lag_lead(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int] = (1,),
    w: WindowSpec | None = None,
    lead: bool = False,
) -> DataFrame:
    """Add the ``lag_lead_fns`` columns in one projection."""
    return with_window_fns(df, lag_lead_fns(cols, offsets, lead), w)


def with_forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    w: WindowSpec | None = None,
    suffix: str = "_ffill",
) -> DataFrame:
    """Add the ``forward_fill_fns`` columns in one projection."""
    return with_window_fns(df, forward_fill_fns(cols, suffix), w)


def with_running(
    df: DataFrame,
    agg: dict[str, Column],
    w: WindowSpec | None = None,
) -> DataFrame:
    """Running aggregates over rows (-inf, 0] of ``w``, in one projection.

    ``agg`` maps output column name → aggregate Column (e.g.
    ``{"n_turns_so_far": F.count("*"), "chars_so_far": F.sum("n")}``).
    """
    frame = running_frame(w)
    return df.withColumns({name: col.over(frame) for name, col in agg.items()})
