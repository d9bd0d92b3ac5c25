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
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from turboxsl_spark.operators.skew import _running, _two_phase


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
    seq = (
        F.col(fact_seq_col).cast("long") if fact_seq_col else F.lit(0).cast("long")
    )
    struct_type = T.StructType(
        [T.StructField("_fts", facts.schema[ts_col].dataType)]
        + [T.StructField(f"_v_{c}", facts.schema[c].dataType) for c in value_cols]
    )
    f_side = facts.select(
        *[F.col(k) for k in keys],
        F.col(ts_col).alias("_asof_ts"),
        F.lit(fact_rank).alias("_side"),
        seq.alias("_seq"),
        F.struct(
            F.col(ts_col).alias("_fts"),
            *[F.col(c).alias(f"_v_{c}") for c in value_cols],
        ).alias("_fact"),
        *[F.lit(None).cast(spine.schema[c].dataType).alias(f"_s_{c}") for c in spine_cols],
    )
    s_side = spine.select(
        *[F.col(k) for k in keys],
        F.col(ts_col).alias("_asof_ts"),
        F.lit(spine_rank).alias("_side"),
        F.lit(0).cast("long").alias("_seq"),
        F.lit(None).cast(struct_type).alias("_fact"),
        *[F.col(c).alias(f"_s_{c}") for c in spine_cols],
    )
    return f_side.unionByName(s_side), spine_cols, spine_rank


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
    ff_ts = F.col("_ff._fts")
    if tolerance_s is not None:
        # freshness judged on the matched fact's own timestamp — the
        # same struct the values come from, so a stale fact nulls out
        # values AND timestamp together
        tol = F.lit(int(tolerance_s * 1_000_000))
        spine_us = F.unix_micros(F.col("_asof_ts").cast("timestamp"))
        fact_us = F.unix_micros(ff_ts.cast("timestamp"))
        if direction == "backward":
            fresh = fact_us >= spine_us - tol
        else:
            fresh = fact_us <= spine_us + tol
        val = lambda c: F.when(fresh, F.col(f"_ff._v_{c}"))
        ts_val = F.when(fresh, ff_ts)
    else:
        val = lambda c: F.col(f"_ff._v_{c}")
        ts_val = ff_ts
    return filled.where(F.col("_side") == spine_rank).select(
        *[F.col(f"_s_{c}").alias(c) for c in spine_cols],
        *[val(c).alias(f"{c}{suffix}") for c in value_cols],
        *([ts_val.alias(fact_ts_out)] if fact_ts_out else []),
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
    keys = [on] if isinstance(on, str) else list(on)
    if value_cols is None:
        value_cols = [c for c in facts.columns if c not in keys and c != ts_col]

    unioned, spine_cols, spine_rank = _union_sides(
        spine, facts, keys, ts_col, value_cols, strict, fact_seq_col, direction
    )
    op = "last" if direction == "backward" else "first"
    order = ["_asof_ts", "_side", "_seq"]
    if chunk_s is None:
        w = Window.partitionBy(*keys).orderBy(*order)
        filled = unioned.select("*", _running(op, "_fact", w).alias("_ff"))
    else:
        micros = F.unix_micros(F.col("_asof_ts").cast("timestamp"))
        bucket = F.floor(micros / F.lit(int(chunk_s * 1_000_000))).cast("long")
        filled = _two_phase(unioned, keys, bucket, order, "_fact", op, "_ff")
    return _project_out(
        filled, spine_cols, spine_rank, value_cols, suffix, fact_ts_out,
        tolerance_s, direction,
    )
