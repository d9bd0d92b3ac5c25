"""KMV sketch vs a python hashlib reference + accuracy bounds."""

from __future__ import annotations

import hashlib

import pytest

from turboxsl_spark.operators.sketches import kmv_distinct


def _h(salt: str, key: str) -> int:
    return int(hashlib.md5(f"{salt}\x1f{key}".encode()).hexdigest()[:8], 16)


def _ref(keys, k, salt):
    hs = sorted({_h(salt, str(x)) for x in keys})[:k]
    n_kept = len(hs)
    if n_kept < k:
        return n_kept, (hs[-1] if hs else None), float(n_kept)
    return n_kept, hs[-1], float((k - 1) << 32) / hs[-1]


def test_kmv_matches_hashlib_reference_exactly(spark):
    rows = [(f"g{i % 3}", i) for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, id long")
    got = {
        r["g"]: (r["n_kept"], r["kth_hash"], r["distinct_est"])
        for r in kmv_distinct(df, "g", "id", k=64, salt="s").collect()
    }
    for g in ("g0", "g1", "g2"):
        keys = [i for i in range(5000) if f"g{i % 3}" == g]
        assert got[g] == _ref(keys, 64, "s"), g


def test_kmv_small_group_is_exact_and_duplicates_ignored(spark):
    # 10 distinct keys, each repeated 7x, k=64 → exact count
    rows = [("a", i % 10) for i in range(70)]
    df = spark.createDataFrame(rows, "g string, id long")
    r = kmv_distinct(df, "g", "id", k=64).collect()[0]
    assert (r["n_kept"], r["distinct_est"]) == (10, 10.0)


def test_kmv_estimate_within_error_bound(spark):
    # 20k distinct keys, k=256 → relative error ~1/sqrt(254) ≈ 6.3%;
    # assert a loose 4-sigma band
    df = spark.range(0, 20000).withColumnRenamed("id", "key")
    r = kmv_distinct(df.selectExpr("'x' AS g", "key"), "g", "key", k=256).collect()[0]
    assert abs(r["distinct_est"] - 20000) / 20000 < 0.25


def test_kmv_is_repartition_stable(spark):
    df = spark.range(0, 3000).selectExpr("CAST(id % 2 AS STRING) AS g", "id")
    a = {r["g"]: r["distinct_est"] for r in kmv_distinct(df, "g", "id", k=32).collect()}
    b = {
        r["g"]: r["distinct_est"]
        for r in kmv_distinct(df.repartition(17), "g", "id", k=32).collect()
    }
    assert a == b


def test_kmv_validation(spark):
    df = spark.range(3).selectExpr("'a' AS g", "id")
    with pytest.raises(ValueError):
        kmv_distinct(df, "g", "id", k=1)


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def _bloom_ref_positions(key: str, m: int, k: int, salt: str) -> list[int]:
    d = hashlib.md5(f"{salt}\x1f{key}".encode()).hexdigest()
    h1, h2 = int(d[:12], 16), int(d[12:24], 16)
    return [(h1 + j * h2) % m for j in range(k)]


def _bloom_ref_build(keys, m, k, salt):
    words = [0] * (m // 32)
    for key in keys:
        for p in _bloom_ref_positions(key, m, k, salt):
            words[p // 32] |= 1 << (p % 32)
    return words


def _bloom_ref_probe(key, words, m, k, salt):
    return all(
        words[p // 32] & (1 << (p % 32)) for p in _bloom_ref_positions(key, m, k, salt)
    )


def test_bloom_build_matches_hashlib_reference(spark):
    from turboxsl_spark.operators.sketches import bloom_build

    keys = [f"doc-{i}" for i in range(200)]
    df = spark.createDataFrame([(s,) for s in keys], "key string")
    got = bloom_build(df, "key", m=1024, k=4, salt="s1")
    assert got == _bloom_ref_build(keys, 1024, 4, "s1")


def test_bloom_probe_no_false_negatives_and_deterministic_fps(spark):
    from turboxsl_spark.operators.sketches import bloom_build, bloom_probe

    members = [f"in-{i}" for i in range(150)]
    probes = members + [f"out-{i}" for i in range(300)]
    df_m = spark.createDataFrame([(s,) for s in members], "key string")
    words = bloom_build(df_m, "key", m=1024, k=4)
    df_p = spark.createDataFrame([(s,) for s in probes], "key string")
    got = {
        r["key"]: r["bloom_hit"]
        for r in bloom_probe(df_p, words, "key", k=4).collect()
    }
    # no false negatives
    assert all(got[s] for s in members)
    # false positives exist at this load factor (150 keys * 4 bits in
    # 1024) AND match the reference bit-for-bit — portability is the
    # contract, not FP-freeness
    expect = {s: _bloom_ref_probe(s, words, 1024, 4, "") for s in probes}
    assert got == expect
    assert any(got[s] for s in probes if s.startswith("out-"))
    assert not all(got[s] for s in probes if s.startswith("out-"))


def test_bloom_merge_equals_union_build(spark):
    from turboxsl_spark.operators.sketches import bloom_build, bloom_merge

    a = [f"a-{i}" for i in range(80)]
    b = [f"b-{i}" for i in range(90)]
    df_a = spark.createDataFrame([(s,) for s in a], "key string")
    df_b = spark.createDataFrame([(s,) for s in b], "key string")
    df_ab = spark.createDataFrame([(s,) for s in a + b], "key string")
    merged = bloom_merge(
        bloom_build(df_a, "key", m=512, k=3), bloom_build(df_b, "key", m=512, k=3)
    )
    assert merged == bloom_build(df_ab, "key", m=512, k=3)


def test_bloom_probe_join_matches_literal_probe(spark):
    from turboxsl_spark.operators.sketches import (
        bloom_build,
        bloom_build_df,
        bloom_probe,
        bloom_probe_join,
    )

    members = [f"m-{i}" for i in range(100)]
    probes = [f"m-{i}" for i in range(50)] + [f"x-{i}" for i in range(200)]
    df_m = spark.createDataFrame([(s,) for s in members], "key string")
    df_p = spark.createDataFrame([(s,) for s in probes], "key string")
    words = bloom_build(df_m, "key", m=2048, k=5)
    sparse = bloom_build_df(df_m, "key", m=2048, k=5)
    lit = {
        r["key"]: r["bloom_hit"]
        for r in bloom_probe(df_p, words, "key", k=5).collect()
    }
    jn = {
        r["key"]: r["bloom_hit"]
        for r in bloom_probe_join(df_p, sparse, "key", m=2048, k=5).collect()
    }
    assert lit == jn


def test_bloom_probe_join_null_keys_match_literal_probe(spark):
    """NULL probe keys hash via the sentinel in BOTH probe paths: the
    join-back must be null-safe or NULL-key rows get a NULL membership
    instead of the computed boolean (ADVICE r05)."""
    from turboxsl_spark.operators.sketches import (
        bloom_build,
        bloom_build_df,
        bloom_probe,
        bloom_probe_join,
    )

    members = [(f"m-{i}",) for i in range(20)] + [(None,)]
    probes = [("m-3",), (None,), ("zz",)]
    df_m = spark.createDataFrame(members, "key string")
    df_p = spark.createDataFrame(probes, "key string")
    words = bloom_build(df_m, "key", m=1024, k=4)
    sparse = bloom_build_df(df_m, "key", m=1024, k=4)
    lit = {
        r["key"]: r["bloom_hit"]
        for r in bloom_probe(df_p, words, "key", k=4).collect()
    }
    jn = {
        r["key"]: r["bloom_hit"]
        for r in bloom_probe_join(df_p, sparse, "key", m=1024, k=4).collect()
    }
    assert lit == jn
    assert jn[None] is True  # NULL was a member → sentinel hash hits


def test_bloom_probe_join_is_broadcast_and_probe_is_map_only(spark):
    from turboxsl_spark.operators.sketches import (
        bloom_build,
        bloom_build_df,
        bloom_probe,
        bloom_probe_join,
    )

    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string")
    words = bloom_build(df, "key", m=512, k=3)
    plan_lit = bloom_probe(df, words, "key", k=3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_lit and "BatchEvalPython" not in plan_lit
    sparse = bloom_build_df(df, "key", m=512, k=3)
    plan_j = bloom_probe_join(df, sparse, "key", m=512, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_j and "BatchEvalPython" not in plan_j


def test_bloom_validation(spark):
    from turboxsl_spark.operators.sketches import bloom_build, bloom_merge

    df = spark.range(3).selectExpr("CAST(id AS STRING) AS key")
    with pytest.raises(ValueError):
        bloom_build(df, "key", m=100, k=3)  # not a multiple of 32
    with pytest.raises(ValueError):
        bloom_build(df, "key", m=512, k=0)
    with pytest.raises(ValueError):
        bloom_merge([0] * 4, [0] * 8)


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------

def _cm_ref_build(occurrences, w, d, salt):
    counters = [[0] * w for _ in range(d)]
    for key in occurrences:
        dg = hashlib.md5(f"{salt}\x1f{key}".encode()).hexdigest()
        h1, h2 = int(dg[:12], 16), int(dg[12:24], 16)
        for j in range(d):
            counters[j][(h1 + j * h2) % w] += 1
    return counters


def _cm_ref_est(key, counters, salt):
    d, w = len(counters), len(counters[0])
    dg = hashlib.md5(f"{salt}\x1f{key}".encode()).hexdigest()
    h1, h2 = int(dg[:12], 16), int(dg[12:24], 16)
    return min(counters[j][(h1 + j * h2) % w] for j in range(d))


def test_cm_build_matches_hashlib_reference(spark):
    from turboxsl_spark.operators.sketches import cm_build

    occ = [f"t{i % 37}" for i in range(500)]  # skewed multiplicities
    df = spark.createDataFrame([(s,) for s in occ], "key string")
    got = cm_build(df, "key", w=64, d=3, salt="cm1")
    assert got == _cm_ref_build(occ, 64, 3, "cm1")


def test_cm_estimate_never_undercounts_and_is_exact_at_width(spark):
    from collections import Counter

    from turboxsl_spark.operators.sketches import cm_build, cm_estimate

    occ = [f"w{i % 23}" for i in range(400)] + ["rare"] * 3
    truth = Counter(occ)
    df = spark.createDataFrame([(s,) for s in occ], "key string")
    probe = spark.createDataFrame([(k,) for k in truth], "key string")
    # tight width → collisions → overestimates allowed, under never
    tight = cm_build(df, "key", w=16, d=4)
    got = {r["key"]: r["cm_est"] for r in cm_estimate(probe, tight, "key").collect()}
    assert all(got[k] >= truth[k] for k in truth)
    assert got == {k: _cm_ref_est(k, tight, "") for k in truth}
    # generous width → exact for every key
    wide = cm_build(df, "key", w=4096, d=4)
    got_w = {r["key"]: r["cm_est"] for r in cm_estimate(probe, wide, "key").collect()}
    assert got_w == dict(truth)


def test_cm_merge_equals_union_build(spark):
    from turboxsl_spark.operators.sketches import cm_build, cm_merge

    a = [f"a{i % 7}" for i in range(60)]
    b = [f"b{i % 5}" for i in range(40)] + [f"a{i % 3}" for i in range(20)]
    df_a = spark.createDataFrame([(s,) for s in a], "key string")
    df_b = spark.createDataFrame([(s,) for s in b], "key string")
    df_ab = spark.createDataFrame([(s,) for s in a + b], "key string")
    assert cm_merge(
        cm_build(df_a, "key", w=32, d=3), cm_build(df_b, "key", w=32, d=3)
    ) == cm_build(df_ab, "key", w=32, d=3)


def test_cm_estimate_is_map_only(spark):
    from turboxsl_spark.operators.sketches import cm_build, cm_estimate

    df = spark.createDataFrame([(f"k{i % 5}",) for i in range(30)], "key string")
    sketch = cm_build(df, "key", w=32, d=3)
    plan = cm_estimate(df, sketch, "key")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_cm_validation(spark):
    from turboxsl_spark.operators.sketches import cm_build, cm_merge

    df = spark.range(3).selectExpr("CAST(id AS STRING) AS key")
    with pytest.raises(ValueError):
        cm_build(df, "key", w=0, d=3)
    with pytest.raises(ValueError):
        cm_build(df, "key", w=32, d=0)
    with pytest.raises(ValueError):
        cm_merge([[0] * 4], [[0] * 8])


def test_cm_weighted_build_equals_occurrence_build(spark):
    """Pre-aggregated (key, count) sketching must produce the IDENTICAL
    counter matrix as per-occurrence sketching — the weighted form is
    the scale path when the exact rollup exists anyway."""
    from pyspark.sql import functions as F

    from turboxsl_spark.operators.sketches import cm_build

    occ = [f"q{i % 13}" for i in range(300)] + ["solo"]
    df = spark.createDataFrame([(s,) for s in occ], "key string")
    agg = df.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    assert cm_build(df, "key", w=64, d=4, salt="wv") == cm_build(
        agg, "key", w=64, d=4, salt="wv", weight_col="n"
    )


@pytest.mark.parametrize(
    "values",
    [
        [-(2**31), 2**31 - 1, 0],
        [2**31],
        [1, -(2**31) - 1],
        [-(2**63), 2**63 - 1],
        [[1, 2], [3, 2**31]],
        [[-(2**63)], [0]],
        [[5], [-(2**31)]],
    ],
)
def test_int_array_literal_matches_lit(spark, values):
    """The one-string ``array(...)`` literal has ``F.lit``'s element
    types (int while every value fits int32, else bigint) and values."""
    from pyspark.sql import functions as F

    from turboxsl_spark.operators.sketches import _int_array

    a = spark.range(1).select(_int_array(values).alias("x"))
    b = spark.range(1).select(F.lit(values).alias("x"))
    assert a.schema == b.schema
    assert a.first()["x"] == b.first()["x"] == values


def test_cm_token_freq_py4j_budget(spark, py4j_calls):
    """The Count-Min counter matrix and the Bloom word list enter the
    plan as one SQL string each; as ``F.lit`` of a list they cost one
    Py4J call per element (4,236 of the 4,489 calls of this build)."""
    import __spark_entry__ as m
    from tests.test_plans import SF_DIR

    py4j_calls[0] = 0
    m.q_cm_token_freq(spark, SF_DIR)
    assert py4j_calls[0] < 300, f"{py4j_calls[0]} Py4J calls >= 300"
