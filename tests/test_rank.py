"""global_rank / global_topk vs a pandas total-order oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from turboxsl_spark.operators.rank import TOPK_MAX_K, global_rank, global_topk


def _fixture(n=5000, seed=9):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "id": np.arange(n),
            # low-cardinality text key → plenty of ties straddling
            # range-partition boundaries
            "grp": rng.choice(list("abcde"), n),
            "score": rng.integers(0, 50, n).astype("float64"),
        }
    )


def test_global_rank_matches_pandas_total_order(spark):
    pdf = _fixture()
    df = spark.createDataFrame(pdf)
    order = [F.col("grp").asc(), F.col("score").desc(), F.col("id").asc()]
    got = (
        global_rank(df, order, out="rk")
        .select("id", "rk")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    want = pdf.sort_values(
        ["grp", "score", "id"], ascending=[True, False, True], kind="mergesort"
    ).reset_index(drop=True)
    want["rk"] = np.arange(1, len(want) + 1)
    want = want[["id", "rk"]].sort_values("id").reset_index(drop=True)
    assert (got["rk"].to_numpy() == want["rk"].to_numpy()).all()
    # ranks are a permutation of 1..n (no gaps/dupes across partitions)
    assert sorted(got["rk"]) == list(range(1, len(pdf) + 1))


def test_global_rank_empty_input(spark):
    df = spark.createDataFrame([], "id long, v double")
    out = global_rank(df, [F.col("v").asc(), F.col("id").asc()], out="rk")
    assert out.count() == 0
    assert "rk" in out.columns


def test_global_topk_matches_full_rank(spark):
    pdf = _fixture(n=2000, seed=4)
    df = spark.createDataFrame(pdf)
    order = [F.col("score").desc(), F.col("id").asc()]
    got = global_topk(df, order, k=25, out="rk").toPandas().sort_values("rk")
    want = pdf.sort_values(["score", "id"], ascending=[False, True]).head(25)
    assert got["id"].tolist() == want["id"].tolist()
    assert got["rk"].tolist() == list(range(1, 26))


@pytest.mark.parametrize("k", [0, -1, TOPK_MAX_K + 1])
def test_global_topk_rejects_k_out_of_range(spark, k):
    df = spark.createDataFrame([(1, 1.0)], "id long, score double")
    with pytest.raises(ValueError, match="global_topk k"):
        global_topk(df, [F.col("score").desc(), F.col("id").asc()], k=k)


def test_global_rank_empty_after_filter(spark):
    df = spark.createDataFrame([], "id long, score double").where("id > 0")
    out = global_rank(df, [F.col("score").desc(), F.col("id").asc()], out="rk")
    assert out.count() == 0
    assert "rk" in out.columns


def test_exact_quantiles_match_numpy(spark):
    import numpy as np

    from turboxsl_spark.operators.rank import exact_quantiles

    rng = np.random.RandomState(3)
    vals = rng.lognormal(3.0, 1.5, 5007)  # odd n, skewed, with near-ties
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    qs = [0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = {
        r["q"]: r["value"]
        for r in exact_quantiles(df, "v", qs, tiebreak=["id"]).collect()
    }
    s = np.sort(vals)
    n = len(s)
    for q in qs:
        want = s[max(1, int(np.ceil(q * n))) - 1]  # percentile_disc
        assert got[q] == want, (q, got[q], want)


def test_exact_quantiles_validation_and_empty(spark):
    import pytest as _pytest

    from turboxsl_spark.operators.rank import exact_quantiles

    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    with _pytest.raises(ValueError):
        exact_quantiles(df, "v", [1.5])
    empty = df.where("id < 0")
    out = exact_quantiles(empty, "v", [0.5], tiebreak=["id"])
    assert out.count() == 0
    assert out.columns == ["q", "value"]


def test_default_scratch_cluster_safety():
    """Non-local master + no scratch_dir/conf must RAISE at plan-build
    time (a driver-local default silently drops partitions on a real
    cluster); the spark.turboxsl.scratchDir conf resolves to a unique
    subdir of the configured base."""
    import pytest

    from turboxsl_spark.operators.rank import _default_scratch

    class _Conf:
        def __init__(self, values):
            self._v = values

        def get(self, key, default=None):
            return self._v.get(key, default)

    class _Spark:
        def __init__(self, values):
            self.conf = _Conf(values)

    with pytest.raises(ValueError, match="cluster-visible"):
        _default_scratch(_Spark({"spark.master": "yarn"}), "t_")
    with pytest.raises(ValueError, match="cluster-visible"):
        _default_scratch(_Spark({"spark.master": "spark://host:7077"}), "t_")
    got = _default_scratch(
        _Spark({"spark.master": "yarn", "spark.turboxsl.scratchDir": "s3://bkt/scratch/"}),
        "t_",
    )
    assert got.startswith("s3://bkt/scratch/t_") and len(got) > len("s3://bkt/scratch/t_")
    # two resolutions must not collide
    got2 = _default_scratch(
        _Spark({"spark.master": "yarn", "spark.turboxsl.scratchDir": "s3://bkt/scratch"}),
        "t_",
    )
    assert got != got2
    # local master with no conf still gets a usable local tempdir
    local = _default_scratch(_Spark({"spark.master": "local[4]"}), "t_")
    assert local.startswith("/")


def test_local_cluster_master_is_not_in_process():
    """``local-cluster[...]`` runs executors in separate JVMs: with no
    scratch conf, both the global-rank scratch and the dedup checkpoint
    raise there instead of using driver- or executor-local storage."""
    import pytest

    from turboxsl_spark.operators.dedup import _reliable_checkpoint
    from turboxsl_spark.operators.rank import _default_scratch

    class _Conf:
        def get(self, key, default=None):
            return {"spark.master": "local-cluster[2,1,1024]"}.get(key, default)

    class _SC:
        def getCheckpointDir(self):
            return None

    class _Spark:
        conf = _Conf()
        sparkContext = _SC()

    class _DF:
        sparkSession = _Spark()

    with pytest.raises(ValueError, match="cluster-visible"):
        _default_scratch(_Spark(), "t_")
    with pytest.raises(ValueError, match="cluster-visible"):
        _reliable_checkpoint(_DF())


def test_caseorder_keys_lower_and_upper_first(spark):
    """XSLT 1.0 case-order semantics (the reference parses the flag at
    transform.c:358-360 but its strcasecmp comparator drops it — we
    implement the documented behavior)."""
    from turboxsl_spark.operators.rank import caseorder_keys

    df = spark.createDataFrame(
        [("aB",), ("Ab",), ("ab",), ("AB",), ("b",), ("A",)], "k string"
    )
    def run(case_order, descending=False):
        keys = caseorder_keys("k", case_order, descending) + [F.col("k").asc()]
        return [r["k"] for r in df.orderBy(*keys).collect()]

    # case-insensitive primary: "a" < "ab" < "b"; within the "ab" tie
    # group, lower-first puts per-position lowercase first
    assert run("lower-first") == ["A", "ab", "aB", "Ab", "AB", "b"]
    # upper-first is the mirror within each tie group
    assert run("upper-first") == ["A", "AB", "Ab", "aB", "ab", "b"]
    # order="descending" reverses the WHOLE comparator, tiebreak included
    assert run("lower-first", descending=True) == ["b", "AB", "Ab", "aB", "ab", "A"]
    # no case_order → case-insensitive primary only (input order for ties
    # is fine; just check the primary grouping holds)
    got = run(None)
    assert [g.lower() for g in got] == ["a", "ab", "ab", "ab", "ab", "b"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="case-order"):
        caseorder_keys("k", "sideways-first")


def test_exact_quantiles_single_rank_scan(spark):
    """After the r05 refactor, exact_quantiles derives n from the
    rank's own per-partition counts — no separate count() pass. Guard
    the wiring: _global_rank_counted's total equals the row count."""
    from turboxsl_spark.operators.rank import _global_rank_counted

    df = spark.range(0, 1234).withColumn("v", (F.col("id") * 37) % 1000)
    ranked, n = _global_rank_counted(
        df, [F.col("v").asc(), F.col("id").asc()], out="r",
        materialize="memory",
    )
    assert n == 1234
    assert ranked.count() == 1234
    empty, n0 = _global_rank_counted(
        df.where(F.lit(False)), [F.col("v").asc()], out="r",
        materialize="memory",
    )
    assert n0 == 0 and empty.count() == 0
