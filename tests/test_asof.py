"""As-of join vs the O(n·m) pandas oracle — ties, strictness, missing
facts, facts-before-first-spine-row all exercised."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.conftest import assert_frames_match
from turboxsl_spark.operators.asof import asof_join, asof_join_salted
from turboxsl_spark.reference_impl import reference_asof


@pytest.fixture(scope="module")
def frames():
    rng = np.random.default_rng(5)
    n_keys = 12
    spine_rows, fact_rows = [], []
    base = pd.Timestamp("2025-03-01")
    for k in range(n_keys):
        key = f"k{k}"
        n_s = int(rng.integers(3, 30))
        n_f = int(rng.integers(0, 20))  # some keys have no facts at all
        s_ts = np.sort(rng.integers(0, 10_000, n_s))
        f_ts = np.sort(rng.integers(-100, 10_000, max(n_f, 0)))
        # force exact ties: copy a few spine timestamps into facts
        if n_f > 2 and n_s > 2:
            f_ts[: 2] = s_ts[:2]
            f_ts = np.sort(f_ts)
        for i, t in enumerate(s_ts):
            spine_rows.append((key, base + pd.Timedelta(seconds=int(t)), i))
        for i, t in enumerate(f_ts):
            fact_rows.append(
                (key, base + pd.Timedelta(seconds=int(t)), i, float(rng.normal()), f"s{i%3}")
            )
    spine = pd.DataFrame(spine_rows, columns=["conv_id", "ts", "turn_idx"])
    facts = pd.DataFrame(fact_rows, columns=["conv_id", "ts", "fact_id", "value", "state"])
    return spine, facts


@pytest.mark.parametrize("strict", [False, True])
def test_asof_matches_oracle(spark, frames, strict):
    spine, facts = frames
    got = asof_join(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts),
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
        strict=strict,
        fact_seq_col="fact_id",
    ).toPandas()
    want = reference_asof(
        spine, facts, "conv_id", "ts", ["value", "state"], strict=strict, seq_col="fact_id"
    )
    got["value_asof"] = got["value_asof"].astype("float64")
    want["value_asof"] = want["value_asof"].astype("float64")
    assert_frames_match(
        got, want, keys=["conv_id", "turn_idx"], float_cols=["value_asof"]
    )


def test_asof_tolerance_nulls_stale_facts(spark, frames):
    spine, facts = frames
    got = asof_join(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts),
        on="conv_id",
        ts_col="ts",
        value_cols=["value"],
        fact_seq_col="fact_id",
        tolerance_s=500.0,
    ).toPandas()
    want = reference_asof(spine, facts, "conv_id", "ts", ["value"], seq_col="fact_id")
    age = (want["ts"] - want["ts_fact_asof"]).dt.total_seconds()
    want.loc[age > 500.0, "value_asof"] = None
    want.loc[age > 500.0, "ts_fact_asof"] = pd.NaT
    got["value_asof"] = got["value_asof"].astype("float64")
    want["value_asof"] = want["value_asof"].astype("float64")
    assert_frames_match(got, want, keys=["conv_id", "turn_idx"], float_cols=["value_asof"])
    # the tolerance actually bit somewhere
    assert want["value_asof"].isna().sum() > reference_asof(
        spine, facts, "conv_id", "ts", ["value"], seq_col="fact_id"
    )["value_asof"].isna().sum()


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("chunk_s", [500.0, 137.0])
def test_asof_salted_matches_plain(spark, frames, strict, chunk_s):
    """Salt-invariance: the time-bucketed two-phase as-of must equal the
    plain single-window form for ANY chunk size (fixture spans 10,000 s
    → 20-70 buckets per key, so carries genuinely cross chunks)."""
    spine, facts = frames
    kw = dict(
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
        strict=strict,
        fact_seq_col="fact_id",
    )
    plain = asof_join(
        spark.createDataFrame(spine), spark.createDataFrame(facts), **kw
    ).toPandas()
    salted = asof_join_salted(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts),
        chunk_s=chunk_s,
        **kw,
    ).toPandas()
    for d in (plain, salted):
        d["value_asof"] = d["value_asof"].astype("float64")
    assert_frames_match(
        salted, plain, keys=["conv_id", "turn_idx"], float_cols=["value_asof"]
    )


def test_asof_salted_with_nulls_and_tolerance(spark, frames):
    """Salted path honors atomic NULL fill + tolerance like the plain."""
    spine, facts = frames
    facts = facts.copy()
    rng = np.random.default_rng(13)
    facts.loc[rng.random(len(facts)) < 0.4, "value"] = None
    kw = dict(
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
        fact_seq_col="fact_id",
        tolerance_s=700.0,
    )
    plain = asof_join(
        spark.createDataFrame(spine), spark.createDataFrame(facts), **kw
    ).toPandas()
    salted = asof_join_salted(
        spark.createDataFrame(spine), spark.createDataFrame(facts), chunk_s=300.0, **kw
    ).toPandas()
    for d in (plain, salted):
        d["value_asof"] = d["value_asof"].astype("float64")
    assert_frames_match(
        salted, plain, keys=["conv_id", "turn_idx"], float_cols=["value_asof"]
    )


@pytest.mark.parametrize("strict", [False, True])
def test_null_fact_values_fill_atomically(spark, frames, strict):
    """A NULL in one value column of the LATEST fact must surface as
    NULL — not silently backfill from an OLDER fact (the matched fact
    row is attached whole). Regression for the per-column fill bug."""
    spine, facts = frames
    facts = facts.copy()
    # knock out ~40% of values / states independently so the latest
    # fact frequently has a NULL in exactly one of the two columns
    rng = np.random.default_rng(11)
    facts.loc[rng.random(len(facts)) < 0.4, "value"] = None
    facts.loc[rng.random(len(facts)) < 0.4, "state"] = None
    got = asof_join(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts),
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
        strict=strict,
        fact_seq_col="fact_id",
    ).toPandas()
    want = reference_asof(
        spine, facts, "conv_id", "ts", ["value", "state"], strict=strict, seq_col="fact_id"
    )
    got["value_asof"] = got["value_asof"].astype("float64")
    want["value_asof"] = want["value_asof"].astype("float64")
    assert_frames_match(
        got, want, keys=["conv_id", "turn_idx"], float_cols=["value_asof"]
    )
    # the fixture actually exercises the failure mode: some matched
    # fact has a NULL value while an older same-key fact has a non-NULL
    assert want["value_asof"].isna().sum() > 0


@pytest.mark.parametrize("strict", [False, True])
def test_asof_forward_matches_oracle(spark, frames, strict):
    """direction='forward' = following:: — earliest fact at/after each
    spine ts, ties resolved the mirror way (lowest seq wins)."""
    spine, facts = frames
    got = asof_join(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts),
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
        strict=strict,
        fact_seq_col="fact_id",
        direction="forward",
    ).toPandas()
    want = reference_asof(
        spine, facts, "conv_id", "ts", ["value", "state"],
        strict=strict, seq_col="fact_id", direction="forward",
    )
    got["value_asof"] = got["value_asof"].astype("float64")
    want["value_asof"] = want["value_asof"].astype("float64")
    assert_frames_match(
        got, want, keys=["conv_id", "turn_idx"], float_cols=["value_asof"]
    )


def test_asof_forward_tolerance(spark, frames):
    spine, facts = frames
    got = asof_join(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts),
        on="conv_id",
        ts_col="ts",
        value_cols=["value"],
        fact_seq_col="fact_id",
        tolerance_s=500.0,
        direction="forward",
    ).toPandas()
    want = reference_asof(
        spine, facts, "conv_id", "ts", ["value"],
        seq_col="fact_id", direction="forward",
    )
    ahead = (want["ts_fact_asof"] - want["ts"]).dt.total_seconds()
    want.loc[ahead > 500.0, "value_asof"] = None
    want.loc[ahead > 500.0, "ts_fact_asof"] = pd.NaT
    got["value_asof"] = got["value_asof"].astype("float64")
    want["value_asof"] = want["value_asof"].astype("float64")
    assert_frames_match(got, want, keys=["conv_id", "turn_idx"], float_cols=["value_asof"])


@pytest.mark.parametrize("salted", [False, True])
def test_asof_prefix_consistency_no_leakage(spark, frames, salted):
    """Zero temporal leakage, stated as prefix-consistency: truncating
    the FACT stream at any time T must not change the as-of output for
    spine rows at or before T (a strict as-of at ts<=T only ever reads
    facts with ts<T<=T). Holds for the plain and the salted operator."""
    spine, facts = frames
    T = spine["ts"].median()
    kw = dict(
        on="conv_id",
        ts_col="ts",
        value_cols=["value"],
        strict=True,
        fact_seq_col="fact_id",
    )
    op = asof_join_salted if salted else asof_join
    if salted:
        kw["chunk_s"] = 300.0
    full = (
        op(spark.createDataFrame(spine), spark.createDataFrame(facts), **kw)
        .toPandas()
    )
    full = full[full["ts"] <= T]
    trunc = op(
        spark.createDataFrame(spine[spine["ts"] <= T]),
        spark.createDataFrame(facts[facts["ts"] <= T]),
        **kw,
    ).toPandas()
    for d in (full, trunc):
        d["value_asof"] = d["value_asof"].astype("float64")
    assert_frames_match(
        full.reset_index(drop=True),
        trunc.reset_index(drop=True),
        keys=["conv_id", "turn_idx"],
        float_cols=["value_asof"],
    )


def test_asof_no_fact_is_null(spark, frames):
    spine, facts = frames
    facts_none = facts[facts["conv_id"] == "__nope__"]
    got = asof_join(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts_none, schema=spark.createDataFrame(facts).schema),
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
    ).toPandas()
    assert got["value_asof"].isna().all()
    assert got["state_asof"].isna().all()
    assert len(got) == len(spine)


@pytest.mark.parametrize("strict", [False, True])
@pytest.mark.parametrize("chunk_s", [500.0, 137.0])
def test_asof_salted_forward_matches_plain(spark, frames, strict, chunk_s):
    """Forward salt-invariance: the time-bucketed two-phase FORWARD
    as-of (carry = first fact of following buckets, back-filled) must
    equal the plain forward form for any chunk size."""
    spine, facts = frames
    kw = dict(
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
        strict=strict,
        fact_seq_col="fact_id",
        direction="forward",
    )
    plain = asof_join(
        spark.createDataFrame(spine), spark.createDataFrame(facts), **kw
    ).toPandas()
    salted = asof_join_salted(
        spark.createDataFrame(spine),
        spark.createDataFrame(facts),
        chunk_s=chunk_s,
        **kw,
    ).toPandas()
    for d in (plain, salted):
        d["value_asof"] = d["value_asof"].astype("float64")
    assert_frames_match(
        salted, plain, keys=["conv_id", "turn_idx"], float_cols=["value_asof"]
    )


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_salted_keeps_null_keys_and_null_ts(spark, frames, direction):
    """Salt invariance must hold on NULL-keyed and NULL-ts spine rows:
    phase 2's join is null-safe, so those rows survive with the same
    NULL-group window semantics as the plain operator (a plain inner
    equi-join would silently DROP them)."""
    spine, facts = frames
    spine = spine.copy()
    spine["conv_id"] = spine["conv_id"].astype(object)
    spine["ts"] = spine["ts"].astype("datetime64[us]")
    extra = pd.DataFrame(
        {
            "conv_id": [None, None, "k0", "k1"],
            "ts": pd.to_datetime(
                ["2025-03-01 00:10:00", "2025-03-01 01:00:00", pd.NaT, pd.NaT]
            ).astype("datetime64[us]"),
            "turn_idx": [900, 901, 902, 903],
        }
    )
    spine = pd.concat([spine, extra], ignore_index=True)
    kw = dict(
        on="conv_id",
        ts_col="ts",
        value_cols=["value", "state"],
        fact_seq_col="fact_id",
        direction=direction,
    )
    sdf = spark.createDataFrame(spine)
    fdf = spark.createDataFrame(facts)
    plain = asof_join(sdf, fdf, **kw).toPandas()
    salted = asof_join_salted(sdf, fdf, chunk_s=300.0, **kw).toPandas()
    assert len(plain) == len(spine)
    assert len(salted) == len(spine)
    for d in (plain, salted):
        d["value_asof"] = d["value_asof"].astype("float64")
    assert_frames_match(
        salted, plain, keys=["turn_idx"], float_cols=["value_asof"]
    )


def test_plan_build_py4j_budget(spark, frames, py4j_calls):
    """Each as-of build runs on the driver while every core waits, so
    its plan is SQL text parsed by the JVM: one Py4J call per Dataset
    step, not one per Column node. Built from Python Columns (the
    previous form), one build took 480 (plain) and 646 (salted) Py4J
    calls on the benchmark's asof_write inputs and 381 and 540 on these
    frames; as SQL text they take 32 and 59 here."""
    spine, facts = (spark.createDataFrame(f) for f in frames)
    kw = dict(
        on="conv_id", ts_col="ts", value_cols=["value", "state"], strict=True,
        fact_seq_col="fact_id",
    )
    for op, extra, budget in (
        (asof_join, {}, 150),
        (asof_join_salted, {"chunk_s": 300.0}, 200),
    ):
        py4j_calls[0] = 0
        op(spine, facts, **kw, **extra)
        n = py4j_calls[0]
        assert n <= budget, f"{op.__name__}: {n} Py4J calls > {budget}"
