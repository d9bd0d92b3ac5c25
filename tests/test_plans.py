"""Physical-plan quality gates — the .explain() audit, pinned.

These tests fail if a regression sneaks in an extra shuffle/sort into
the flagship pipeline, loses parquet pushdown, or turns a dimension
join into a shuffle join. At 100 TB each of those is the difference
between a job that runs and one that doesn't.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from turboxsl_spark.plans.featurespec import FeatureSpec, build_features
from turboxsl_spark.sources.transcripts import TRANSCRIPT_SCHEMA, gen_transcripts_pdf

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def tx(spark):
    pdf = gen_transcripts_pdf(n_convs=30, seed=5, mega_frac=0.0)
    return spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA)


def test_flagship_single_exchange_and_sort(spark, tx):
    """Every window feature (position, lags, session, ffill, running)
    must ride ONE hash exchange + ONE sort on (conv_id, ts, turn_idx),
    in two Window operators: everything else, then the session running
    sum that reads the gap."""
    out = build_features(tx, FeatureSpec())
    plan = plan_of(out)
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    n_sort = len(re.findall(r"\bSort \[", plan))
    n_window = len(re.findall(r"\bWindow \[", plan))
    assert n_exchange == 1, f"expected 1 exchange, got {n_exchange}:\n{plan[:4000]}"
    assert n_sort == 1, f"expected 1 sort, got {n_sort}:\n{plan[:4000]}"
    assert n_window == 2, f"expected 2 Window operators, got {n_window}:\n{plan[:6000]}"


@pytest.mark.parametrize("keep_gap", [False, True])
def test_session_id_two_windows(spark, tx, keep_gap):
    """The session running sum reads the gap column; the gap's lag must
    not be computed a second time in a Window of its own."""
    from turboxsl_spark.operators.sessionize import with_session_id

    plan = plan_of(with_session_id(tx, keep_gap=keep_gap))
    assert len(re.findall(r"\bWindow \[", plan)) == 2, plan[:4000]
    assert len(re.findall(r"\blag\(", plan)) == 1, plan[:4000]


def test_flagship_no_python_udf(spark, tx):
    """The flagship hot path stays JVM-side: no Python/Arrow eval nodes."""
    plan = plan_of(build_features(tx, FeatureSpec()))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_parquet_filter_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.where(F.col("l_quantity") >= 45).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)]" in plan
    # column pruning: scan schema carries only the two referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey",
        "l_quantity",
    }, plan[:3000]


def test_dimension_join_is_broadcast(spark):
    import __spark_entry__ as m

    df = m.q_join_revenue_by_nation(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    # nation is tiny: no sort-merge join anywhere in this query
    assert "SortMergeJoin" not in plan


def test_asof_single_sort_no_theta_join(spark):
    """The as-of join must be the union+window form: zero Join nodes,
    one exchange, one sort — not a theta-join blowup."""
    from turboxsl_spark.operators.asof import asof_join

    spine = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("conv_id"),
        F.current_timestamp().alias("ts"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    facts = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("conv_id"),
        F.current_timestamp().alias("ts"),
        F.col("id").alias("value"),
    )
    out = asof_join(spine, facts, on="conv_id", ts_col="ts", value_cols=["value"])
    plan = plan_of(out)
    assert "Join" not in plan, plan[:3000]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1


def test_memo_and_current_are_broadcast_no_python(spark):
    """memo_lookup (ltr:url_code/veristat) and with_current must plan as
    BroadcastHashJoin with zero Python eval nodes — the 'never per-row
    external calls' contract of the reference's hottest functions."""
    import __spark_entry__ as m

    for q in (m.q_memo_lookup, m.q_current_corr):
        plan = plan_of(q(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan[:3000]
        assert "SortMergeJoin" not in plan, plan[:3000]
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_url_escape_no_python(spark):
    """ltr:url_encode and ltr:str_escape('js') are JVM replace chains:
    the url_escape plan has no Python eval node and no Python UDF."""
    import __spark_entry__ as m

    df = m.q_url_escape(spark, SF_DIR)
    for plan in (plan_of(df), optimized_of(df)):
        assert not re.search(r"EvalPython|PythonUDF", plan), plan[:3000]


def test_rank_queries_have_no_single_partition_exchange(spark):
    """sort_multikey / explode_tokens must never funnel the full input
    through one task: no Exchange SinglePartition anywhere (the old
    no-partitionBy window form produced exactly that)."""
    import __spark_entry__ as m

    for q in (m.q_sort_multikey, m.q_explode_tokens):
        plan = plan_of(q(spark, SF_DIR))
        assert "Exchange SinglePartition" not in plan, plan[:4000]


def test_rank_plans_have_no_exchange_after_checkpoint(spark):
    """A global rank reads its numbered range checkpoint once: the rows
    carry their range partition and in-partition number, so the rank
    is a projection over the checkpoint — no hash exchange on the
    partition id, no Window, no broadcast offsets join."""
    import __spark_entry__ as m
    from turboxsl_spark.operators.rank import global_rank

    df = spark.range(0, 500).selectExpr("id", "id % 7 AS k")
    ranked = global_rank(df, [F.col("k").asc(), F.col("id").asc()], num_partitions=3)
    for out in (m.q_sort_multikey(spark, SF_DIR), m.q_sort_caseorder(spark, SF_DIR), ranked):
        plan = plan_of(out)
        assert "Exchange" not in plan, plan[:4000]
        assert "Window" not in plan, plan[:4000]


def test_explode_tokens_uses_distributed_limit(spark):
    """Top-k phase 1 rides TakeOrderedAndProject (per-partition top-k +
    driver merge of k·P rows), not a global sort. Phase 2 (r06)
    attaches ranks on the driver to the ≤k rows the limit already
    merged there, so the gate checks the phase-1 plan shape directly —
    orderBy+limit over an aggregate — and separately that the FINAL
    plan is just the bounded k-row local relation (no sort, no
    single-partition funnel, no re-ranking machinery downstream)."""
    import __spark_entry__ as m

    df = spark.range(0, 1000).selectExpr("id % 97 AS token", "id AS n")
    phase1 = df.orderBy(F.col("n").desc(), F.col("token").asc()).limit(50)
    assert "TakeOrderedAndProject" in plan_of(phase1), plan_of(phase1)[:3000]

    plan = plan_of(m.q_explode_tokens(spark, SF_DIR))
    # final plan starts from the k-row driver-ranked local relation:
    # no full-table sort, no single-partition funnel, no window
    assert "Exchange SinglePartition" not in plan, plan[:4000]
    assert "Window" not in plan, plan[:4000]
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan[:4000]


def test_bucketed_input_zero_exchange(spark, tx, tmp_path_factory):
    """The cluster-scale layout: input bucketed+sorted on the window key
    makes the ENTIRE flagship feature build shuffle-free (0 Exchange
    nodes) — scan-time partitioning satisfies the window's distribution
    requirement. Results must equal the plain path bit-for-bit."""
    from turboxsl_spark.sources.tables import read_bucketed, write_bucketed

    path = str(tmp_path_factory.mktemp("bucketed") / "tx")
    write_bucketed(
        tx, "tx_bucketed_gate", 8, ["conv_id"], ["conv_id", "ts", "turn_idx"], path=path
    )
    df = read_bucketed(spark, "tx_bucketed_gate")
    out = build_features(df, FeatureSpec())
    plan = plan_of(out)
    assert "Exchange" not in plan, plan[:4000]
    plain = build_features(tx, FeatureSpec())
    cols = ["conv_id", "turn_idx", "digest", "session_id", "chars_so_far"]
    a = out.select(*cols).exceptAll(plain.select(*cols))
    b = plain.select(*cols).exceptAll(out.select(*cols))
    assert a.isEmpty() and b.isEmpty()
    spark.sql("DROP TABLE IF EXISTS tx_bucketed_gate")


def test_asof_forward_single_sort_no_theta_join(spark):
    """The forward (following::) direction must keep the same shape:
    zero Join nodes, one exchange, one sort."""
    from turboxsl_spark.operators.asof import asof_join

    spine = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("conv_id"),
        F.current_timestamp().alias("ts"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    facts = spark.range(10).select(
        F.concat(F.lit("k"), F.col("id")).alias("conv_id"),
        F.current_timestamp().alias("ts"),
        F.col("id").alias("value"),
    )
    out = asof_join(
        spine, facts, on="conv_id", ts_col="ts", value_cols=["value"],
        direction="forward",
    )
    plan = plan_of(out)
    assert "Join" not in plan, plan[:3000]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1


def test_asof_salted_windows_are_bucket_bounded(spark):
    """The salted as-of's heavy window must partition on (key, bucket)
    — never on the bare key over the full union (that would be the
    mega-key single-task wall the salting exists to prevent)."""
    import __spark_entry__ as m

    plan = plan_of(m.q_asof_salted(spark, SF_DIR))
    # the full-union window carries the bucket in its partition spec
    assert re.search(r"windowspecdefinition\(user_id#\d+L?, _bucket#\d+L", plan), plan[:4000]


def test_exact_dedup_partial_aggregation(spark):
    """Hash-groupBy dedup keeps map-side partial aggregation (two
    HashAggregate levels around one exchange)."""
    import __spark_entry__ as m

    plan = plan_of(m.q_exact_dedup(spark, SF_DIR))
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_response_latency_single_exchange_no_python(spark, tx):
    """response_latency_stats is the conv window's gap and role lag,
    then a grouped aggregate on the window's partition key: one
    exchange, one Window, and no Python node."""
    from turboxsl_spark.operators.sessionize import response_latency_stats

    plan = plan_of(response_latency_stats(tx))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:4000]
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan[:4000]
    assert not re.search(r"EvalPython|InPandas|PythonUDF", plan), plan[:4000]


def test_pack_greedy_single_exchange(spark):
    """pack_greedy = ONE shuffle (the shard groupBy feeding
    applyInPandas); a second exchange would mean the sequential packer
    re-partitions its input and breaks the shard-locality contract."""
    from turboxsl_spark.operators.packing import pack_greedy

    docs = spark.createDataFrame(
        [(i, f"d{i}", (i % 7) + 1, i % 4) for i in range(100)],
        "doc_id long, key string, n_tok long, shard int",
    )
    out = pack_greedy(docs, "key", "n_tok", window=16, shard_col="shard")
    plan = plan_of(out)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:4000]
    assert "Exchange SinglePartition" not in plan


def test_embedding_near_dup_cap_has_no_window(spark):
    """The oversized-bucket cap must be the groupBy + broadcast
    anti-join form — a count() window over the 4x-exploded vector table
    (the round-3 shape) is a full shuffle+sort of the fat side."""
    import numpy as np

    from turboxsl_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(16).astype(float).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(df, threshold=0.9, nbits=8, bands=4, dim=16)
    plan = plan_of(out)
    assert "Window" not in plan, plan[:4000]
    assert "BroadcastExchange" in plan  # the oversized-key anti-join


# (exchanges incl. broadcast, sorts, windows) per salted operator on the
# tests/test_skew.py fixture. One two-phase merge (skew.py) plans three
# shuffles (local window, chunk-edge aggregate, carry window), the
# carry's broadcast and two Windows; a max_by chunk edge over a string or
# struct aggregates by sort, which adds two Sorts. salted_session_id
# nests two merges. salted_forward_fill planned a third, full-frame
# Window before its chunk edge became a max_by.
SALTED_SHAPES = {
    "cumsum": (4, 2, 2),
    "ffill": (4, 4, 2),
    "session": (13, 8, 6),
    "asof_backward": (4, 4, 2),
    "asof_forward": (4, 4, 2),
}


@pytest.fixture(scope="module")
def skewed(spark):
    from tests.test_skew import skewed_transcripts

    return skewed_transcripts(spark)


@pytest.mark.parametrize("op", sorted(SALTED_SHAPES))
def test_salted_operator_plan_shapes(spark, skewed, op):
    from turboxsl_spark.operators.asof import asof_join_salted
    from turboxsl_spark.operators.skew import (
        salted_cumsum,
        salted_forward_fill,
        salted_session_id,
    )

    if op == "cumsum":
        out = salted_cumsum(skewed, F.length("text"), "run_len", chunk=64)
    elif op == "ffill":
        out = salted_forward_fill(skewed, "tool", chunk=64)
    elif op == "session":
        out = salted_session_id(skewed, chunk=64)
    else:
        facts = skewed.where(F.col("tool").isNotNull()).select(
            "conv_id", "ts", F.col("turn_idx").alias("value")
        )
        out = asof_join_salted(
            skewed.select("conv_id", "ts", "turn_idx"), facts, chunk_s=300.0,
            direction=op.removeprefix("asof_"),
        )
    plan = plan_of(out)
    shape = tuple(
        len(re.findall(p, plan)) for p in (r"Exchange ", r"\bSort \[", r"\bWindow \[")
    )
    assert shape == SALTED_SHAPES[op], plan[:6000]
