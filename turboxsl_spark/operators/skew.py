"""Skew handling: the salted two-phase local/global window merge.

``Window.partitionBy(conv_id)`` places an entire conversation in one
task. A mega-conversation (10^4+ turns here; 10^9 at production scale)
then dominates the stage — the distributed analogue of the problem the
reference solves with work-stealing from a shared queue
(``/root/reference/src/unbounded_queue.c:101-128``). Work-stealing
doesn't exist across Spark tasks, so we split the *key* instead. Every
salted operator (the three below and ``asof.asof_join_salted``) is one
call of ``_two_phase``, the slice-local partials plus global merge of
Disco (EDBT 2020):

  chunk:   a salt Column splits each key into bounded chunks
           (``turn_idx // chunk`` here, a time bucket for the as-of)
  phase 1: the running op runs LOCALLY within (keys, chunk)
  edge:    one summary row per chunk (its total, or its last / first
           non-null value picked by ``max_by`` / ``min_by`` on the order)
  carry:   the op over the edges of all EARLIER chunks (LATER ones for
           "first") — a window along the tiny per-key chunk axis
  merge:   one NULL-safe equi-join hands each row its chunk's carry,
           which the local value absorbs

Ordering contract: the salt must be monotone in the order columns within
a key, so every row of an earlier chunk precedes every row of a later
one. ``turn_idx`` is a dense ordinal consistent with document order in
our data model (``ts`` is monotone within a conversation), and equal
``ts`` always share a time bucket.

NULL-safe join: the chunk join matches on ``<=>``. A plain inner join on
``[*keys, chunk]`` would drop NULL-key or NULL-salt rows, which the
plain window keeps (its partitioning groups NULLs).

Salt invariance: under that contract the output equals the plain
unsalted window for any chunk size — pinned by tests/test_skew.py and
tests/test_asof.py, down to one row per chunk.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

DEFAULT_CHUNK = 65536


def _running(op: str, col: str, w: WindowSpec, exclusive: bool = False) -> Column:
    """``op`` ("sum", "last" or "first" non-null) over the rows of ``w``
    before the current one ("first": after it), and the current row
    itself unless ``exclusive``."""
    near = 1 if exclusive else 0
    if op == "first":
        return F.first(col, ignorenulls=True).over(
            w.rowsBetween(near, Window.unboundedFollowing)
        )
    fold = F.sum(col) if op == "sum" else F.last(col, ignorenulls=True)
    return fold.over(w.rowsBetween(Window.unboundedPreceding, -near))


def _two_phase(
    df: DataFrame,
    keys: Sequence[str],
    salt: Column,
    order: Sequence[str],
    value: str,
    op: str,
    out: str,
    exclusive: bool = False,
) -> DataFrame:
    """``df`` plus ``out`` = ``_running(op, value)`` over each key's rows
    in ``order``, computed within the chunks ``salt`` cuts (module
    docstring). The chunk column is ``_bucket``."""
    keys = list(keys)
    df = df.withColumn("_bucket", salt)
    if op == "sum":
        edge = F.sum(value)
    else:
        # a lone order column stays a scalar, so a fixed-width value
        # aggregates by hash instead of by sort
        by = F.col(order[0]) if len(order) == 1 else F.struct(*order)
        pick = F.min_by if op == "first" else F.max_by
        edge = pick(value, F.when(F.col(value).isNotNull(), by))
    carry = (
        df.groupBy(*keys, "_bucket")
        .agg(edge.alias("_edge"))
        .select(
            *[F.col(k).alias(f"_ck_{k}") for k in keys],
            F.col("_bucket").alias("_ck_bucket"),
            _running(op, "_edge", Window.partitionBy(*keys).orderBy("_bucket"), True)
            .alias("_carry"),
        )
    )
    cond = F.col("_bucket").eqNullSafe(F.col("_ck_bucket"))
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_ck_{k}"))
    local = _running(
        op, value, Window.partitionBy(*keys, "_bucket").orderBy(*order), exclusive
    )
    df = df.withColumn("_local", local).join(carry, cond)
    if op == "sum":
        merged = F.when(F.col("_local").isNull(), F.col("_carry")).otherwise(
            F.col("_local") + F.coalesce(F.col("_carry"), F.lit(0))
        )
    else:
        merged = F.coalesce("_local", "_carry")
    return df.withColumn(out, merged).drop(
        "_bucket", "_local", "_carry", "_ck_bucket", *[f"_ck_{k}" for k in keys]
    )


def _chunk_of(ord_col: str, chunk: int) -> Column:
    return (F.col(ord_col) / chunk).cast("long")


def salted_cumsum(
    df: DataFrame,
    value: Column | str,
    out: str,
    key: str = "conv_id",
    ord_col: str = "turn_idx",
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Running sum over rows (-inf, 0] of the conv order, salt-split."""
    value = F.col(value) if isinstance(value, str) else value
    df = _two_phase(
        df.withColumn("_val", value),
        [key], _chunk_of(ord_col, chunk), [ord_col], "_val", "sum", out,
    )
    return df.drop("_val")


def salted_forward_fill(
    df: DataFrame,
    col: str,
    out: str | None = None,
    key: str = "conv_id",
    ord_col: str = "turn_idx",
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Forward-fill (last non-null so far) with bounded partitions."""
    return _two_phase(
        df, [key], _chunk_of(ord_col, chunk), [ord_col], col, "last",
        out or f"{col}_ffill",
    )


def salted_session_id(
    df: DataFrame,
    timeout_s: int = 1800,
    key: str = "conv_id",
    ord_col: str = "turn_idx",
    ts_col: str = "ts",
    out: str = "session_id",
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Gap-sessionize with bounded partitions.

    The previous turn's ts is the last non-null ts over the rows before
    (ts is monotone in ``ord_col``), carried across chunks; the
    new-session flags are then cumsum'd with the same two-phase merge.
    """
    salt = _chunk_of(ord_col, chunk)
    df = df.withColumn("_us", F.unix_micros(F.col(ts_col).cast("timestamp")))
    df = _two_phase(df, [key], salt, [ord_col], "_us", "last", "_prev", exclusive=True)
    gap = (F.col("_us") - F.col("_prev")).cast("double") / F.lit(1e6)
    df = df.withColumn("_flag", F.when(gap > F.lit(float(timeout_s)), 1).otherwise(0))
    df = _two_phase(df, [key], salt, [ord_col], "_flag", "sum", out)
    df = df.withColumn(out, F.col(out).cast("int"))
    return df.drop("_us", "_prev", "_flag")
