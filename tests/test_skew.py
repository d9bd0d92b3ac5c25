"""Salt-invariance: the two-phase salted window merge must produce
exactly the plain-window result for any chunk size (the analogue of the
reference's pool-size-independent goldens). ``chunk=1`` puts every row
in a chunk of its own, so every carry crosses chunks and the
forward-fill carry must skip runs of chunks with no non-null ``tool``."""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F
from pyspark.sql import types as T

from tests.conftest import assert_frames_match
from turboxsl_spark.operators.asof import asof_join, asof_join_salted
from turboxsl_spark.operators.sessionize import with_session_id
from turboxsl_spark.operators.skew import (
    salted_cumsum,
    salted_forward_fill,
    salted_session_id,
)
from turboxsl_spark.operators.windows import conv_window
from turboxsl_spark.sources.transcripts import TRANSCRIPT_SCHEMA, gen_transcripts_pdf

KEYS = ["conv_id", "turn_idx"]


def skewed_transcripts(spark):
    # mega_frac high so several conversations are >> chunk size
    pdf = gen_transcripts_pdf(n_convs=25, seed=3, mega_frac=0.1)
    assert pdf.groupby("conv_id").size().max() >= 1000
    # a NULL-key copy of the largest conversation: the plain window
    # groups NULL keys into one partition, so the salted merge must too
    largest = pdf["conv_id"].value_counts().idxmax()
    null_key = pdf[pdf["conv_id"] == largest].assign(conv_id=None)
    pdf = pd.concat([pdf, null_key], ignore_index=True)
    schema = T.StructType(
        [f if f.name != "conv_id" else T.StructField(f.name, f.dataType, True)
         for f in TRANSCRIPT_SCHEMA]
    )
    return spark.createDataFrame(pdf, schema=schema).cache()


@pytest.fixture(scope="module")
def df(spark):
    return skewed_transcripts(spark)


@pytest.mark.parametrize("chunk", [1, 64, 1000])
def test_salted_cumsum_matches_plain(spark, df, chunk):
    plain = df.withColumn(
        "run_len",
        F.sum(F.length("text")).over(
            conv_window().rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).select(*KEYS, "run_len")
    salted = salted_cumsum(
        df.withColumn("_len", F.length("text")), "_len", "run_len", chunk=chunk
    ).select(*KEYS, "run_len")
    assert_frames_match(salted.toPandas(), plain.toPandas(), KEYS)


@pytest.mark.parametrize("chunk", [1, 64, 1000])
def test_salted_ffill_matches_plain(spark, df, chunk):
    plain = df.withColumn(
        "tool_ffill",
        F.last("tool", ignorenulls=True).over(
            conv_window().rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).select(*KEYS, "tool_ffill")
    salted = salted_forward_fill(df, "tool", chunk=chunk).select(*KEYS, "tool_ffill")
    assert_frames_match(salted.toPandas(), plain.toPandas(), KEYS)


@pytest.mark.parametrize("chunk", [1, 64, 1000])
def test_salted_session_matches_plain(spark, df, chunk):
    plain = with_session_id(df, timeout_s=1800).select(*KEYS, "session_id")
    salted = salted_session_id(df, timeout_s=1800, chunk=chunk).select(
        *KEYS, "session_id"
    )
    assert_frames_match(salted.toPandas(), plain.toPandas(), KEYS)


# every identifier the salted and as-of operators take, renamed to one
# that needs quoting in SQL text: a space, a dot, a backtick
ODD_NAMES = {
    "conv_id": "conv. id`",
    "turn_idx": "turn`.idx",
    "ts": "t.s",
    "value": "v`al",
    "fact_id": "fact.id",
}
PLAIN_NAMES = {c: c for c in ODD_NAMES}


def _named(n):
    asof = dict(on=n["conv_id"], ts_col=n["ts"], value_cols=[n["value"]],
                fact_seq_col=n["fact_id"])
    return {
        "asof_backward": lambda s, f, d: asof_join(s, f, **asof),
        "asof_forward": lambda s, f, d: asof_join(s, f, direction="forward", **asof),
        "asof_tolerance": lambda s, f, d: asof_join(s, f, tolerance_s=1200.0, **asof),
        "salted_backward": lambda s, f, d: asof_join_salted(s, f, chunk_s=600.0, **asof),
        "salted_forward": lambda s, f, d: asof_join_salted(
            s, f, chunk_s=600.0, direction="forward", **asof
        ),
        "salted_tolerance": lambda s, f, d: asof_join_salted(
            s, f, chunk_s=600.0, tolerance_s=1200.0, **asof
        ),
        "salted_cumsum": lambda s, f, d: salted_cumsum(
            d, n["value"], "run", key=n["conv_id"], ord_col=n["turn_idx"], chunk=3
        ),
        "salted_forward_fill": lambda s, f, d: salted_forward_fill(
            d, n["value"], key=n["conv_id"], ord_col=n["turn_idx"], chunk=3
        ),
        "salted_session_id": lambda s, f, d: salted_session_id(
            d, key=n["conv_id"], ord_col=n["turn_idx"], ts_col=n["ts"], chunk=3
        ),
    }


def _frames(spark, n):
    """Three conversations (one NULL-keyed) of 12 turns, ts increasing
    by 1-3,999 s so some gaps split sessions; ``value`` is NULL on two
    turns in three, and the facts are the turns with a value. Columns
    are renamed by ``n``."""
    base = dt.datetime(2025, 3, 1)
    rows = []
    for k, key in enumerate(["a", "b", None]):
        t = 0
        for i in range(12):
            t += (i * 977 + k * 331) % 3999 + 1
            rows.append((key, i, base + dt.timedelta(seconds=t), None if i % 3 else i + k))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp, value long")
    spine = df.select("conv_id", "turn_idx", "ts")
    facts = df.where("value IS NOT NULL").selectExpr(
        "conv_id", "ts", "turn_idx AS fact_id", "value"
    )
    return [f.toDF(*[n[c] for c in f.columns]) for f in (spine, facts, df)]


@pytest.mark.parametrize("op", sorted(_named(ODD_NAMES)))
def test_identifiers_are_quoted(spark, op):
    """An operator on columns whose names need quoting equals the same
    call on plainly named columns, renamed back."""
    got = _named(ODD_NAMES)[op](*_frames(spark, ODD_NAMES))
    for plain, odd in ODD_NAMES.items():
        got = got.toDF(*[c.replace(odd, plain) for c in got.columns])
    want = _named(PLAIN_NAMES)[op](*_frames(spark, PLAIN_NAMES))
    assert got.columns == want.columns
    assert_frames_match(got.toPandas(), want.toPandas(), ["conv_id", "turn_idx"])


def _bad_calls():
    nan, inf = math.nan, math.inf
    # 1e-7 s is a bucket width of 0 µs
    calls = [("asof_join_salted", "chunk_s", v) for v in (0, -120.0, nan, inf, 1e-7)]
    for op in ("salted_cumsum", "salted_forward_fill", "salted_session_id"):
        calls += [(op, "chunk", v) for v in (0, -2, nan, inf)]
    calls += [(op, "tolerance_s", -10.0) for op in ("asof_join", "asof_join_salted")]
    return calls


@pytest.mark.parametrize("op,arg,value", _bad_calls())
def test_rejects_bad_chunk_and_tolerance(spark, op, arg, value):
    """A chunk must be positive and finite (a negative one breaks the
    monotone-salt contract, zero divides by zero at run time) and a
    tolerance non-negative; both fail when the plan is built."""
    spine, facts, df = _frames(spark, PLAIN_NAMES)
    call = {
        "asof_join": lambda: asof_join(spine, facts, **{arg: value}),
        "asof_join_salted": lambda: asof_join_salted(spine, facts, **{arg: value}),
        "salted_cumsum": lambda: salted_cumsum(df, "value", "run", **{arg: value}),
        "salted_forward_fill": lambda: salted_forward_fill(df, "value", **{arg: value}),
        "salted_session_id": lambda: salted_session_id(df, **{arg: value}),
    }[op]
    with pytest.raises(ValueError, match=arg):
        call()
