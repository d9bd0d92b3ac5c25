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

  chunk:   a salt expression splits each key into bounded chunks
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

SQL text: ``_two_phase`` takes the salt as a SQL expression and builds
the chunk edge, the carry window, the ``<=>`` join condition and the
merge as SQL text (``_running`` returns a window frame as text), so
each Dataset step is one JVM-parsed ``selectExpr``/``expr`` call. The
build runs on the driver while every core waits, and a tree of Python
``Column`` calls costs one Py4J round trip per node. ``_q`` is the one
quoting rule: every column name enters the text backtick-quoted, with
an inner backtick doubled. A chunk must be positive and finite: a
negative one reverses the salt's order and zero divides by zero.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from numbers import Integral

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK = 65536


def _q(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, an inner backtick
    doubled."""
    return "`" + name.replace("`", "``") + "`"


def _check_chunk(name: str, value: float) -> None:
    if not (math.isfinite(value) and value > 0):
        raise ValueError(f"{name} must be positive and finite, got {value!r}")


def _running(
    op: str,
    value: str,
    partition: Sequence[str],
    order: Sequence[str],
    exclusive: bool = False,
) -> str:
    """SQL text: ``op`` ("sum", "last" or "first" non-null) of column
    ``value`` over the rows of ``partition`` in ``order`` before the
    current one ("first": after it), and the current row itself unless
    ``exclusive``."""
    over = (
        f"PARTITION BY {', '.join(map(_q, partition))} "
        f"ORDER BY {', '.join(map(_q, order))} ROWS BETWEEN"
    )
    if op == "first":
        near = "1 FOLLOWING" if exclusive else "CURRENT ROW"
        return f"first({_q(value)}, true) OVER ({over} {near} AND UNBOUNDED FOLLOWING)"
    near = "1 PRECEDING" if exclusive else "CURRENT ROW"
    fold = f"sum({_q(value)})" if op == "sum" else f"last({_q(value)}, true)"
    return f"{fold} OVER ({over} UNBOUNDED PRECEDING AND {near})"


def _two_phase(
    df: DataFrame,
    keys: Sequence[str],
    salt: str,
    order: Sequence[str],
    value: str,
    op: str,
    out: str,
    exclusive: bool = False,
) -> DataFrame:
    """``df`` plus ``out`` = ``_running(op, value)`` over each key's rows
    in ``order``, computed within the chunks the SQL expression ``salt``
    cuts (module docstring). The chunk column is ``_bucket``."""
    keys = list(keys)
    df = df.selectExpr("*", f"{salt} AS _bucket")
    v = _q(value)
    if op == "sum":
        edge = f"sum({v})"
    else:
        # a lone order column stays a scalar, so a fixed-width value
        # aggregates by hash instead of by sort
        by = _q(order[0]) if len(order) == 1 else f"struct({', '.join(map(_q, order))})"
        pick = "min_by" if op == "first" else "max_by"
        edge = f"{pick}({v}, CASE WHEN {v} IS NOT NULL THEN {by} END)"
    carry = (
        df.groupBy(*map(_q, keys), "_bucket")
        .agg(F.expr(f"{edge} AS _edge"))
        .selectExpr(
            *[f"{_q(k)} AS {_q('_ck_' + k)}" for k in keys],
            "_bucket AS _ck_bucket",
            f"{_running(op, '_edge', keys, ['_bucket'], True)} AS _carry",
        )
    )
    cond = " AND ".join(
        ["_bucket <=> _ck_bucket"] + [f"{_q(k)} <=> {_q('_ck_' + k)}" for k in keys]
    )
    local = _running(op, value, [*keys, "_bucket"], order, exclusive)
    df = df.selectExpr("*", f"{local} AS _local").join(carry, F.expr(cond))
    if op == "sum":
        merged = "CASE WHEN _local IS NULL THEN _carry ELSE _local + coalesce(_carry, 0) END"
    else:
        merged = "coalesce(_local, _carry)"
    return df.withColumn(out, F.expr(merged)).drop(
        "_bucket", "_local", "_carry", "_ck_bucket", *[f"_ck_{k}" for k in keys]
    )


def _chunk_of(ord_col: str, chunk: float) -> str:
    _check_chunk("chunk", chunk)
    lit = f"{chunk:d}" if isinstance(chunk, Integral) else f"{float(chunk)!r}D"
    return f"CAST({_q(ord_col)} / {lit} AS BIGINT)"


def salted_cumsum(
    df: DataFrame,
    value: Column | str,
    out: str,
    key: str = "conv_id",
    ord_col: str = "turn_idx",
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Running sum over rows (-inf, 0] of the conv order, salt-split."""
    value = F.col(_q(value)) if isinstance(value, str) else value
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
    df = df.withColumn("_us", F.unix_micros(F.col(_q(ts_col)).cast("timestamp")))
    df = _two_phase(df, [key], salt, [ord_col], "_us", "last", "_prev", exclusive=True)
    gap = (F.col("_us") - F.col("_prev")).cast("double") / F.lit(1e6)
    df = df.withColumn("_flag", F.when(gap > F.lit(float(timeout_s)), 1).otherwise(0))
    df = _two_phase(df, [key], salt, [ord_col], "_flag", "sum", out)
    df = df.withColumn(out, F.col(_q(out)).cast("int"))
    return df.drop("_us", "_prev", "_flag")
