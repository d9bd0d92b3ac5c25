"""Salt-invariance: the two-phase salted window merge must produce
exactly the plain-window result for any chunk size (the analogue of the
reference's pool-size-independent goldens). ``chunk=1`` puts every row
in a chunk of its own, so every carry crosses chunks and the
forward-fill carry must skip runs of chunks with no non-null ``tool``."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F
from pyspark.sql import types as T

from tests.conftest import assert_frames_match
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
