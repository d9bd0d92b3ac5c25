"""Response latency (``sessionize.response_latency_stats``) vs the pandas
reference: counts exact, latencies allclose, on all six columns."""

from __future__ import annotations

import pandas as pd

from tests.conftest import assert_frames_match
from turboxsl_spark.operators.sessionize import response_latency_stats
from turboxsl_spark.reference_impl import reference_response_latency
from turboxsl_spark.sources.transcripts import TRANSCRIPT_SCHEMA, gen_transcripts_pdf

FLOATS = ["mean_response_s", "p50_response_s", "max_response_s"]
SCHEMA = (
    "struct<conv_id:string,n_turns:bigint,n_responses:bigint,"
    "mean_response_s:double,p50_response_s:double,max_response_s:double>"
)


def s(seconds: float) -> pd.Timestamp:
    return pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=seconds)


def _check(spark, pdf, schema):
    out = response_latency_stats(spark.createDataFrame(pdf, schema))
    assert out.schema.simpleString() == SCHEMA
    got = out.toPandas()
    assert_frames_match(got, reference_response_latency(pdf), ["conv_id"], FLOATS)
    return got.set_index("conv_id")


def test_response_latency_matches_pandas(spark):
    pdf = gen_transcripts_pdf(n_convs=40, seed=13, mega_frac=0.0)
    got = _check(spark, pdf, TRANSCRIPT_SCHEMA)
    assert len(got) == 40 and (got["n_responses"] > 0).any()


def test_response_latency_edge_cases(spark):
    """No user→assistant pair, a single turn, a NULL role, and a ``ts``
    tie that only ``turn_idx`` orders."""
    rows = [
        # no pair: one assistant turn opens, the other follows a tool turn
        ("none", 0, "assistant", s(0)),
        ("none", 1, "tool", s(5)),
        ("none", 2, "assistant", s(9)),
        ("none", 3, "user", s(20)),
        ("single", 0, "user", s(0)),
        # a NULL role neither opens nor answers a pair
        ("null", 0, "user", s(0)),
        ("null", 1, None, s(3)),
        ("null", 2, "assistant", s(4)),
        ("null", 3, "user", s(10)),
        ("null", 4, "assistant", s(12.5)),
        # turns 1 and 2 share a ts: turn_idx puts the user turn first,
        # so 1→2 is a pair with a 0 s gap; rows arrive out of order
        ("tie", 2, "assistant", s(10)),
        ("tie", 1, "user", s(10)),
        ("tie", 0, "assistant", s(0)),
        ("tie", 4, "assistant", s(27.5)),
        ("tie", 3, "user", s(20)),
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "ts"])
    got = _check(spark, pdf, "conv_id string, turn_idx int, role string, ts timestamp")
    assert got.loc["none", "n_turns"] == 4 and got.loc["none", "n_responses"] == 0
    assert got.loc["single", "n_turns"] == 1 and got.loc["single", "n_responses"] == 0
    assert got.loc[["none", "single"], FLOATS].isna().all().all()
    assert got.loc["null", "n_responses"] == 1
    assert got.loc["null", FLOATS].tolist() == [2.5, 2.5, 2.5]
    assert got.loc["tie", "n_responses"] == 2
    assert got.loc["tie", FLOATS].tolist() == [3.75, 3.75, 7.5]
