"""Skew handling: salted two-phase local/global window merge.

``Window.partitionBy(conv_id)`` places an entire conversation in one
task. A mega-conversation (10^4+ turns here; 10^9 at production scale)
then dominates the stage — the distributed analogue of the problem the
reference solves with work-stealing from a shared queue
(``/root/reference/src/unbounded_queue.c:101-128``). Work-stealing
doesn't exist across Spark tasks, so we split the *key* instead:

  salt = turn_idx // chunk            (bounded partition size)
  phase 1: run the window LOCALLY within (conv_id, salt)
  phase 2: per-chunk summaries (tiny: one row per chunk) are combined
           per conversation, and each chunk receives the carry-in
           offset of all previous chunks via a broadcast-sized join.

Contract: ``ord_col`` must be a dense 0-based ordinal consistent with
document order — exactly what ``turn_idx`` is in our data model
(``ts`` is monotone within a conversation; ``turn_idx`` is the stable
tiebreaker). Correctness is salt-invariant and pinned by
tests/test_skew.py: salted output == plain-window output for any chunk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CHUNK = 65536


def _salted(df: DataFrame, ord_col: str, chunk: int) -> DataFrame:
    return df.withColumn("_salt", (F.col(ord_col) / chunk).cast("long"))


def _join_carry(df: DataFrame, carry: DataFrame, key: str, col: str) -> DataFrame:
    """Attach the per-(key, chunk) ``col`` of ``carry`` to every row.

    NULL-safe equi-join: a plain inner join on ``[key, _salt]`` would
    drop NULL-key rows, which the plain window keeps (its partitioning
    groups NULLs), breaking salt invariance.
    """
    carry = carry.select(F.col(key).alias("_ck"), F.col("_salt").alias("_cs"), col)
    cond = F.col(key).eqNullSafe(F.col("_ck")) & F.col("_salt").eqNullSafe(F.col("_cs"))
    return df.join(carry, cond).drop("_ck", "_cs")


def salted_cumsum(
    df: DataFrame,
    value: Column | str,
    out: str,
    key: str = "conv_id",
    ord_col: str = "turn_idx",
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Running sum over rows (-inf, 0] of the conv order, salt-split.

    phase 1: local running sum within each chunk;
    phase 2: chunk totals → exclusive prefix sum over chunks → offset.
    """
    value = F.col(value) if isinstance(value, str) else value
    df = _salted(df.withColumn("_val", value), ord_col, chunk)
    wl = (
        Window.partitionBy(key, "_salt")
        .orderBy(ord_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    df = df.withColumn("_local", F.sum("_val").over(wl))
    totals = df.groupBy(key, "_salt").agg(F.sum("_val").alias("_total"))
    wo = (
        Window.partitionBy(key)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn("_offset", F.sum("_total").over(wo))
    df = _join_carry(df, offsets, key, "_offset")
    df = df.withColumn(
        out,
        F.when(F.col("_local").isNull(), F.col("_offset")).otherwise(
            F.col("_local") + F.coalesce(F.col("_offset"), F.lit(0))
        ),
    )
    return df.drop("_salt", "_val", "_local", "_offset", "_total")


def salted_forward_fill(
    df: DataFrame,
    col: str,
    out: str | None = None,
    key: str = "conv_id",
    ord_col: str = "turn_idx",
    chunk: int = DEFAULT_CHUNK,
) -> DataFrame:
    """Forward-fill with bounded partitions.

    phase 1: local ffill within each chunk; the chunk's overall last
    non-null value is a by-product (full-frame ``last(ignorenulls)``);
    phase 2: carry = last non-null among all PREVIOUS chunks, filled
    along the tiny per-conversation chunk axis.
    """
    out = out or f"{col}_ffill"
    df = _salted(df, ord_col, chunk)
    wl = (
        Window.partitionBy(key, "_salt")
        .orderBy(ord_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wfull = (
        Window.partitionBy(key, "_salt")
        .orderBy(ord_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    df = df.withColumn("_localff", F.last(col, ignorenulls=True).over(wl))
    df = df.withColumn("_chunk_lastnn", F.last(col, ignorenulls=True).over(wfull))
    bounds = df.groupBy(key, "_salt").agg(F.first("_chunk_lastnn").alias("_cl"))
    wb = (
        Window.partitionBy(key)
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bounds.withColumn("_carry", F.last("_cl", ignorenulls=True).over(wb))
    df = _join_carry(df, carry, key, "_carry")
    df = df.withColumn(out, F.coalesce("_localff", "_carry"))
    return df.drop("_salt", "_localff", "_chunk_lastnn", "_carry")


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

    The cross-chunk lag(ts) for each chunk's first row comes from the
    previous chunk's max ts (ts is monotone in ``ord_col``); then the
    new-session flags are cumsum'd with the same two-phase merge.
    """
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    df = _salted(df.withColumn("_us", micros), ord_col, chunk)
    wl = Window.partitionBy(key, "_salt").orderBy(ord_col)
    df = df.withColumn("_prev_local", F.lag("_us", 1).over(wl))
    bounds = df.groupBy(key, "_salt").agg(F.max("_us").alias("_chunk_max"))
    wb = Window.partitionBy(key).orderBy("_salt")
    bounds = bounds.withColumn("_prev_chunk_max", F.lag("_chunk_max", 1).over(wb))
    df = _join_carry(df, bounds, key, "_prev_chunk_max")
    prev = F.coalesce(F.col("_prev_local"), F.col("_prev_chunk_max"))
    gap = (F.col("_us") - prev).cast("double") / F.lit(1e6)
    df = df.withColumn("_flag", F.when(gap > F.lit(float(timeout_s)), 1).otherwise(0))
    df = salted_cumsum(df, "_flag", out, key=key, ord_col=ord_col, chunk=chunk)
    df = df.withColumn(out, F.col(out).cast("int"))
    return df.drop("_us", "_prev_local", "_prev_chunk_max", "_flag")
