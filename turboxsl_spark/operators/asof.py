"""Point-in-time as-of join — the engine's core operator.

Semantics come from the reference's ``preceding::`` axis (most recent
thing before me in document order, ``/root/reference/src/xpath.c:374-392``)
generalized to two tables: for each spine row at ``(key, ts)``, attach
the latest fact of the same key with ``fact.ts <= ts`` (inclusive) or
``fact.ts < ts`` (strict — mirrors ``preceding-sibling`` starting at
``original->prev``, i.e. excluding self-time).

Physical strategy (scale-first): the naive formulation is a theta join
(``spine × facts WHERE fact.ts <= spine.ts`` reduced by max) — a
blowup at 100 TB. Instead we UNION the two sides, sort once within
key-hashed partitions, and forward-fill ONE struct holding the entire
matched fact row with ``last(ignorenulls=True)`` over rows (-inf, 0]:
one shuffle on the key, one sort, zero row amplification, works for
any spine/fact size ratio. This is the sort-merge as-of pass the north
rule names.

The fact travels as one struct (ts + all value columns) so the fill is
ATOMIC: a NULL inside the latest fact surfaces as NULL instead of
silently borrowing that column from an older fact.

Tie handling via a union-side rank in the sort key:
  inclusive → facts sort BEFORE spine rows at equal ts (fact visible)
  strict    → facts sort AFTER  spine rows at equal ts (fact hidden)

``asof_join_salted`` is the skew-safe variant: a mega-key (the
reference's work-stealing scenario, ``src/unbounded_queue.c:101-128``,
transposed to a 10^9-turn conversation) collapses the plain form to one
task; time-bucket salting bounds every partition and merges carry-in
facts across buckets in a second, tiny phase (the two-phase merge of
``skew.py``).

Plans are built as SQL text: each Dataset step (the two union sides,
the fill, the projection) is one ``selectExpr``/``where`` whose
expressions the JVM parses, instead of a tree of Python ``Column``
calls that each cross Py4J. The build runs serially on the driver
while every core waits for the plan, so this is the one place a
per-call cost multiplies: ~30 Py4J calls per plain build where
Columns took ~400. Every column name enters the text through
``skew._q`` (backtick-quoted, an inner backtick doubled), so names with
spaces, dots or backticks resolve as the same plain column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from turboxsl_spark.operators.skew import _check_chunk, _q, _running, _two_phase


def _union_sides(
    spine: DataFrame,
    facts: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    strict: bool,
    fact_seq_col: str | None,
    direction: str,
) -> tuple[DataFrame, list[str], int]:
    """Tag + union both sides; the matched fact rides ONE struct column.

    Returns (unioned, spine_cols, spine_rank).
    """
    spine_cols = spine.columns
    # side rank: smaller sorts first at equal ts. Backward looks at the
    # frame (-inf, current]: an equal-ts fact is VISIBLE iff it sorts
    # before the spine row. Forward looks at [current, +inf): an
    # equal-ts fact is visible iff it sorts AFTER the spine row — so
    # the strictness→rank mapping flips with direction.
    if direction == "backward":
        fact_rank = 0 if not strict else 1
    else:
        fact_rank = 1 if not strict else 0
    spine_rank = 1 - fact_rank
    seq = _q(fact_seq_col) if fact_seq_col else "0"
    fields = ", ".join(
        [f"{_q(ts_col)} AS _fts"] + [f"{_q(c)} AS {_q('_v_' + c)}" for c in value_cols]
    )
    ts = f"{_q(ts_col)} AS _asof_ts"
    qkeys = list(map(_q, keys))
    f_side = facts.selectExpr(
        *qkeys, ts, f"{fact_rank} AS _side", f"CAST({seq} AS BIGINT) AS _seq",
        f"struct({fields}) AS _fact",
    )
    # each side's missing columns become typed NULLs: the spine side's
    # _fact, the fact side's _s_* copies of the spine row
    s_side = spine.selectExpr(
        *qkeys, ts, f"{spine_rank} AS _side", "CAST(0 AS BIGINT) AS _seq",
        *[f"{_q(c)} AS {_q('_s_' + c)}" for c in spine_cols],
    )
    return f_side.unionByName(s_side, allowMissingColumns=True), spine_cols, spine_rank


def _project_out(
    filled: DataFrame,
    spine_cols: Sequence[str],
    spine_rank: int,
    value_cols: Sequence[str],
    suffix: str,
    fact_ts_out: str | None,
    tolerance_s: float | None,
    direction: str,
) -> DataFrame:
    kept = lambda e: e
    if tolerance_s is not None:
        # freshness judged on the matched fact's own timestamp — the
        # same struct the values come from, so a stale fact nulls out
        # values AND timestamp together
        tol = int(tolerance_s * 1_000_000)
        spine_us = "unix_micros(CAST(_asof_ts AS TIMESTAMP))"
        fact_us = "unix_micros(CAST(_ff._fts AS TIMESTAMP))"
        if direction == "backward":
            fresh = f"{fact_us} >= {spine_us} - {tol}"
        else:
            fresh = f"{fact_us} <= {spine_us} + {tol}"
        kept = lambda e: f"CASE WHEN {fresh} THEN {e} END"
    return filled.where(f"_side = {spine_rank}").selectExpr(
        *[f"{_q('_s_' + c)} AS {_q(c)}" for c in spine_cols],
        *[f"{kept('_ff.' + _q('_v_' + c))} AS {_q(c + suffix)}" for c in value_cols],
        *([f"{kept('_ff._fts')} AS {_q(fact_ts_out)}"] if fact_ts_out else []),
    )


def asof_join(
    spine: DataFrame,
    facts: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    value_cols: Sequence[str] | None = None,
    strict: bool = False,
    suffix: str = "_asof",
    fact_ts_out: str | None = "ts_fact_asof",
    fact_seq_col: str | None = None,
    tolerance_s: float | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Attach the latest-preceding (or, with ``direction="forward"``,
    earliest-following) fact values to every spine row.

    ``backward`` is the ``preceding::`` axis (latest fact at/before the
    spine ts); ``forward`` is ``following::`` (reference
    ``src/xpath.c:409-428``): the EARLIEST fact at/after the spine ts —
    same single-sort union plan with the frame reversed
    (``first(ignorenulls) over [current, +inf)``). Forward features are
    non-PIT by nature (they look into the future); callers own the
    leakage discipline exactly as with ``lead``/``_future`` columns.

    Returns the spine with ``<value><suffix>`` columns (NULL when no
    fact matches — the analogue of ``key()`` returning an empty
    nodeset) and optionally the matched fact timestamp.

    ``fact_seq_col`` (e.g. an event id) breaks ties among facts with
    identical timestamps deterministically: backward picks the highest,
    forward the lowest.

    ``tolerance_s`` bounds the lookback/lookahead (pd.merge_asof-style):
    a fact farther than ``tolerance_s`` from the spine ts is treated as
    absent — stale features become NULL instead of silently ancient.
    A negative ``tolerance_s`` raises ``ValueError``, as in pd.merge_asof.
    """
    return _asof(
        spine, facts, on, ts_col, value_cols, strict, suffix, fact_ts_out,
        fact_seq_col, tolerance_s, direction, chunk_s=None,
    )


def asof_join_salted(
    spine: DataFrame,
    facts: DataFrame,
    on: str | Sequence[str] = "conv_id",
    ts_col: str = "ts",
    value_cols: Sequence[str] | None = None,
    strict: bool = False,
    suffix: str = "_asof",
    fact_ts_out: str | None = "ts_fact_asof",
    fact_seq_col: str | None = None,
    tolerance_s: float | None = None,
    chunk_s: float = 86400.0,
    direction: str = "backward",
) -> DataFrame:
    """Skew-safe ``asof_join``: the fact fill is the salted two-phase
    merge of ``skew.py`` (its docstring covers the phases, the NULL-safe
    join and salt invariance), salted by the time bucket
    ``floor(unix_micros(ts) / chunk_s)`` and carrying the last non-null
    ``_fact`` struct — the first one with ``direction="forward"``, whose
    carry comes from FOLLOWING buckets.

    Tie semantics stay exact: a carried fact comes from a strictly
    earlier (backward) / later (forward) bucket, and equal timestamps
    always share a bucket, where the local ``(ts, side, seq)`` order
    resolves strict vs inclusive as in the plain operator.

    ``chunk_s`` sets the skew bound: rows per task ≤ rows per
    ``(key, chunk_s)`` window. Pick it from the key's peak event rate
    (e.g. 1 day at 10^4 turns/day ≈ 10^4-row partitions).
    It must be positive and finite (at least 1 µs); anything else
    raises ``ValueError`` when the plan is built.
    """
    return _asof(
        spine, facts, on, ts_col, value_cols, strict, suffix, fact_ts_out,
        fact_seq_col, tolerance_s, direction, chunk_s=chunk_s,
    )


def _asof(
    spine: DataFrame,
    facts: DataFrame,
    on: str | Sequence[str],
    ts_col: str,
    value_cols: Sequence[str] | None,
    strict: bool,
    suffix: str,
    fact_ts_out: str | None,
    fact_seq_col: str | None,
    tolerance_s: float | None,
    direction: str,
    chunk_s: float | None,
) -> DataFrame:
    """Both public forms: one fill of ``_fact`` into ``_ff``, over the
    whole key (``chunk_s=None``) or salted by ``chunk_s`` time buckets."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if tolerance_s is not None and not tolerance_s >= 0:
        raise ValueError(f"tolerance_s must be >= 0, got {tolerance_s!r}")
    if chunk_s is not None:
        _check_chunk("chunk_s", chunk_s)
        width = int(chunk_s * 1_000_000)
        if width < 1:
            raise ValueError(f"chunk_s must be at least 1 µs, got {chunk_s!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in facts.columns if c not in keys and c != ts_col]

    unioned, spine_cols, spine_rank = _union_sides(
        spine, facts, keys, ts_col, value_cols, strict, fact_seq_col, direction
    )
    op = "last" if direction == "backward" else "first"
    order = ["_asof_ts", "_side", "_seq"]
    if chunk_s is None:
        filled = unioned.selectExpr("*", f"{_running(op, '_fact', keys, order)} AS _ff")
    else:
        bucket = f"CAST(FLOOR(unix_micros(CAST(_asof_ts AS TIMESTAMP)) / {width}) AS BIGINT)"
        filled = _two_phase(unioned, keys, bucket, order, "_fact", op, "_ff")
    return _project_out(
        filled, spine_cols, spine_rank, value_cols, suffix, fact_ts_out,
        tolerance_s, direction,
    )
