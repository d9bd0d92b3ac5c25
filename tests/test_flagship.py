"""Golden differential tests: Spark flagship features vs the pandas
single-node reference (the analogue of the reference repo's
``.xsl × .xml → .out`` byte-compare corpus)."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import assert_frames_match
from turboxsl_spark.plans.featurespec import FLAGSHIP_FEATURE_COLS, FeatureSpec, build_features
from turboxsl_spark.reference_impl import reference_features
from turboxsl_spark.sources.transcripts import TRANSCRIPT_SCHEMA, gen_transcripts_pdf

KEYS = ["conv_id", "turn_idx"]
FLOATS = ["gap_s"]


@pytest.fixture(scope="module")
def pdf():
    return gen_transcripts_pdf(n_convs=80, seed=7, mega_frac=0.0)


@pytest.fixture(scope="module")
def golden(pdf):
    return reference_features(pdf)


def _run_spark(spark, pdf, partitions=None):
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    if partitions:
        df = df.repartition(partitions, "conv_id")
    out = build_features(df, FeatureSpec())
    return out.select(*KEYS, *FLAGSHIP_FEATURE_COLS).toPandas()


def test_flagship_matches_reference(spark, pdf, golden):
    got = _run_spark(spark, pdf)
    assert_frames_match(got, golden, KEYS, float_cols=FLOATS)


def test_rendered_text_byte_equal(spark, pdf, golden):
    """Per-turn templated text byte-equal under stable ordering."""
    got = _run_spark(spark, pdf)
    a = got.sort_values(KEYS, kind="mergesort")["rendered"].tolist()
    b = golden.sort_values(KEYS, kind="mergesort")["rendered"].tolist()
    assert a == b


def test_parallelism_invariance(spark, pdf):
    """Same goldens at different parallelism — the analogue of
    turboxsltproc's pool-size argument having no effect on outputs."""
    a = _run_spark(spark, pdf, partitions=2)
    b = _run_spark(spark, pdf, partitions=13)
    assert_frames_match(a, b, KEYS, float_cols=FLOATS)


def test_prefix_consistency_no_leakage(spark, pdf):
    """Zero-temporal-leakage property: features on a prefix of each
    conversation equal the same rows of the full computation."""
    full = _run_spark(spark, pdf)
    # truncate every conversation to its first half (at least 1 turn)
    sizes = pdf.groupby("conv_id")["turn_idx"].transform("max") + 1
    cut = (sizes // 2).clip(lower=1)
    prefix_pdf = pdf[pdf["turn_idx"] < cut]
    prefix = _run_spark(spark, prefix_pdf)
    merged_keys = prefix_pdf[KEYS]
    full_cut = full.merge(merged_keys, on=KEYS, how="inner")
    assert_frames_match(prefix, full_cut, KEYS, float_cols=FLOATS)


def test_mega_conversation_skew(spark):
    """A heavy-tailed input (mega convs) still matches the reference."""
    pdf = gen_transcripts_pdf(n_convs=30, seed=11, mega_frac=0.07)
    assert pdf.groupby("conv_id").size().max() >= 1000
    golden = reference_features(pdf)
    got = _run_spark(spark, pdf, partitions=8)
    assert_frames_match(got, golden, KEYS, float_cols=FLOATS)


def test_n_tokens_whitespace_edge_cases(spark):
    """``n_tokens`` counts the spaces of the normalized text instead of
    splitting it; blank and oddly spaced texts must still match."""
    texts = [
        "",
        "   ",
        "\t\r\n",
        "word",
        "  lead and trail  ",
        "a\t\tb\r\n\nc",
        " \n one \t",
        "x  y   z",
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": "c0",
            "turn_idx": range(len(texts)),
            "role": "user",
            "text": texts,
            "tool": None,
            "ts": pd.date_range("2024-01-01", periods=len(texts), freq="min"),
        }
    )
    got = _run_spark(spark, pdf)
    want = reference_features(pdf)
    assert got.sort_values("turn_idx")["n_tokens"].tolist() == [0, 0, 0, 1, 3, 3, 1, 3]
    assert_frames_match(got, want, KEYS, float_cols=FLOATS)


@pytest.fixture(scope="module")
def small_pdf():
    return gen_transcripts_pdf(n_convs=20, seed=13, mega_frac=0.0)


def test_build_py4j_budget(spark, small_pdf, py4j_calls):
    """The feature plan is built on the driver while every core waits,
    so it is SQL text: one JVM-parsed ``selectExpr`` per level, about 50
    Py4J calls per build. Assembled from Python Columns (the previous
    form), the default build made 394."""
    df = spark.createDataFrame(small_pdf, schema=TRANSCRIPT_SCHEMA)
    py4j_calls[0] = 0
    build_features(df, FeatureSpec())
    assert py4j_calls[0] <= 60, f"{py4j_calls[0]} Py4J calls > 60"


@pytest.mark.parametrize("name", ["src.file", "x`y", "a b"])
def test_pass_through_column_names(spark, small_pdf, name):
    """An input column of any name is kept, in place, with its values."""
    pdf = small_pdf.copy()
    pdf.insert(2, name, [f"v{i}" for i in range(len(pdf))])
    df = spark.createDataFrame(pdf)
    out = build_features(df, FeatureSpec())
    kept = [c for c in pdf.columns if c != "text"]
    assert out.columns[: len(kept)] == kept
    assert out.columns[len(kept):] == FLAGSHIP_FEATURE_COLS
    got = out.toPandas().sort_values(KEYS).reset_index(drop=True)
    want = pdf.sort_values(KEYS).reset_index(drop=True)
    assert got[name].tolist() == want[name].tolist()


# templates whose literal text needs SQL string escaping
TEMPLATES = [
    "{{{role}}} #{position}: {text_norm}}}",
    "it's {role}'s turn '{position}'",
    r"C:\tmp\{role}\n\\{text_norm}\'",
    "100% {text_norm} %s %% → 日本語 ü {position}",
]


@pytest.mark.parametrize("timeout_s", [60, 1800])
@pytest.mark.parametrize("template", TEMPLATES)
def test_template_and_timeout_parity(spark, small_pdf, template, timeout_s):
    """``rendered``, ``digest`` and ``session_id`` equal the reference's
    for any template text and session timeout."""
    df = spark.createDataFrame(small_pdf, schema=TRANSCRIPT_SCHEMA)
    spec = FeatureSpec(session_timeout_s=timeout_s, template=template)
    cols = [*KEYS, "session_id", "rendered", "digest"]
    got = build_features(df, spec).select(*cols).toPandas()
    want = reference_features(small_pdf, timeout_s, template)[cols]
    assert_frames_match(got, want, KEYS)


def test_spec_variant_schema(spark, small_pdf):
    """Leads on, raw text kept, no digest, no extra running features:
    the same columns, order and types as the Column-built plan had."""
    df = spark.createDataFrame(small_pdf, schema=TRANSCRIPT_SCHEMA)
    spec = FeatureSpec(leads=True, keep_text=True, digest=False, extra_running=False)
    got = [(f.name, f.dataType.simpleString()) for f in build_features(df, spec).schema]
    assert got == [
        ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
        ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
        ("text_norm", "string"), ("text_len", "int"), ("n_tokens", "int"),
        ("position", "int"),
        ("role_lag1", "string"), ("role_lead1_future", "string"),
        ("role_lag2", "string"), ("role_lead2_future", "string"),
        ("text_len_lag1", "int"), ("text_len_lead1_future", "int"),
        ("text_len_lag2", "int"), ("text_len_lead2_future", "int"),
        ("gap_s", "double"), ("session_id", "int"), ("tool_ffill", "string"),
        ("rendered", "string"),
    ]
