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
    """Non-local master + no scratch conf must RAISE at plan-build time
    (a driver- or executor-local default silently drops partitions on a
    real cluster); the spark.turboxsl.scratchDir conf resolves to a
    subdir of the configured base, and a local master needs no conf."""
    import pytest

    from turboxsl_spark.operators.rank import SCRATCH_CONF, _reliable_checkpoint

    class _Conf:
        def __init__(self, values):
            self._v = values

        def get(self, key, default=None):
            return self._v.get(key, default)

    class _SC:
        def __init__(self):
            self.dir = None

        def getCheckpointDir(self):
            return self.dir

        def setCheckpointDir(self, d):
            self.dir = d

    class _Spark:
        def __init__(self, values):
            self.conf = _Conf(values)
            self.sparkContext = _SC()

    class _DF:
        def __init__(self, values):
            self.sparkSession = _Spark(values)
            self.calls = []

        def localCheckpoint(self):
            self.calls.append("local")
            return self

        def checkpoint(self):
            self.calls.append("reliable")
            return self

    for master in ("yarn", "spark://host:7077"):
        df = _DF({"spark.master": master})
        with pytest.raises(ValueError, match="cluster-visible"):
            _reliable_checkpoint(df)
        assert df.calls == [] and df.sparkSession.sparkContext.dir is None
    for base in ("s3://bkt/scratch/", "s3://bkt/scratch"):
        df = _DF({"spark.master": "yarn", SCRATCH_CONF: base})
        assert _reliable_checkpoint(df) is df and df.calls == ["reliable"]
        got = df.sparkSession.sparkContext.dir
        assert got.startswith("s3://bkt/scratch/") and len(got) > len("s3://bkt/scratch/")
    # local master with no conf still materializes, in process
    df = _DF({"spark.master": "local[4]"})
    assert _reliable_checkpoint(df) is df and df.calls == ["local"]


def test_local_cluster_master_is_not_in_process():
    """``local-cluster[...]`` runs executors in separate JVMs: with no
    scratch conf, the checkpoint raises there instead of using
    executor-local storage."""
    import pytest

    from turboxsl_spark.operators.rank import _reliable_checkpoint

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
        _reliable_checkpoint(_DF())


def test_rank_queries_neither_clobber_nor_leak(spark, tmp_path, monkeypatch):
    """Two builds of one rank query must not share an intermediate: the
    second build may not delete what the first frame still reads. And
    no rank query may leave anything in the temp dir."""
    import tempfile

    import __spark_entry__ as m

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = m.SF_SMOKE
    first = m.q_sort_multikey(spark, sf)
    second = m.q_sort_multikey(spark, sf)
    assert first.count() == second.count() > 0
    assert m.q_sort_caseorder(spark, sf).count() > 0
    assert m.q_exact_quantiles(spark, sf).count() > 0
    assert list(tmp_path.iterdir()) == []


_LOCAL_CLUSTER_SCRIPT = r"""
import json, os, sys
os.environ["SPARK_MASTER"] = "local-cluster[2,1,1024]"
os.environ["SPARK_DRIVER_MEM"] = "1g"
import numpy as np
from pyspark.sql import functions as F
from turboxsl_spark.session import get_spark
from turboxsl_spark.operators.dedup import duplicate_components
from turboxsl_spark.operators.rank import SCRATCH_CONF, exact_quantiles, global_rank

scratch, n = sys.argv[1], 5000
spark = get_spark("local-cluster-checkpoint", cores=2, shuffle_partitions=4)
rng = np.random.default_rng(9)
rows = [
    (i, str(g), float(s))
    for i, g, s in zip(range(n), rng.choice(list("abcde"), n), rng.integers(0, 50, n))
]
df = spark.createDataFrame(rows, "id long, grp string, score double")
order = [F.col("grp").asc(), F.col("score").desc(), F.col("id").asc()]
out = {"rows": rows}
try:
    global_rank(df, order, out="rk")
    out["raised"] = None
except ValueError as e:
    out["raised"] = str(e)
spark.conf.set(SCRATCH_CONF, scratch)
ranked = global_rank(df, order, out="rk").select("id", "rk")
out["ranks"] = [tuple(r) for r in ranked.collect()]
qs = [0.0, 0.01, 0.25, 0.5, 0.9, 0.99, 1.0]
out["quantiles"] = {
    str(r["q"]): r["value"]
    for r in exact_quantiles(df, "score", qs, tiebreak=["id"]).collect()
}
edges = spark.createDataFrame([(5, 3), (3, 8), (8, 1)], "id_a long, id_b long")
out["components"] = [tuple(r) for r in duplicate_components(edges).collect()]
spark.stop()
print(json.dumps(out))
"""


def test_reliable_checkpoint_on_local_cluster(tmp_path):
    """The reliable branch of ``_reliable_checkpoint``, run for real:
    executors in separate JVMs. Without the scratch conf the rank
    raises at build time; with it, the rank, the quantiles and the
    connected components are correct and checkpoint files land under
    ``<scratch>/cc_checkpoints``. A subprocess, because the session's
    ``local[4]`` context cannot coexist with a second master."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    proc = subprocess.run(
        [sys.executable, "-c", _LOCAL_CLUSTER_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, timeout=120,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    assert out["raised"] is not None and "cluster-visible" in out["raised"]

    pdf = pd.DataFrame(out["rows"], columns=["id", "grp", "score"])
    want = pdf.sort_values(
        ["grp", "score", "id"], ascending=[True, False, True], kind="mergesort"
    )
    want_rk = dict(zip(want["id"], range(1, len(want) + 1)))
    assert dict(out["ranks"]) == want_rk

    s = np.sort(pdf["score"].to_numpy())
    assert len(out["quantiles"]) == 7
    for q, got in out["quantiles"].items():
        assert got == s[max(1, int(np.ceil(float(q) * len(s)))) - 1], q

    assert sorted(map(tuple, out["components"])) == [(1, 1), (3, 1), (5, 1), (8, 1)]
    assert any(p.name.startswith("part-") for p in (tmp_path / "cc_checkpoints").rglob("*"))


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
    """exact_quantiles derives n from the per-partition counts of the
    numbered range stage — no separate count() pass. Guard the wiring:
    ``_numbered``'s total equals the row count."""
    from turboxsl_spark.operators.rank import _numbered

    df = spark.range(0, 1234).withColumn("v", (F.col("id") * 37) % 1000)
    part, offsets = _numbered(df, [F.col("v").asc(), F.col("id").asc()])
    assert offsets[-1] == 1234
    assert part.count() == 1234
    empty, offsets0 = _numbered(df.where(F.lit(False)), [F.col("v").asc()])
    assert offsets0[-1] == 0 and empty.count() == 0


def _want_ranks(pdf):
    want = pdf.sort_values(
        ["grp", "score", "id"], ascending=[True, False, True], kind="mergesort"
    )
    return dict(zip(want["id"], range(1, len(want) + 1)))


@pytest.mark.parametrize(
    "n, num_partitions", [(20, 50), (1, None), (1, 4), (1234, 37)]
)
def test_global_rank_partition_boundaries(spark, n, num_partitions):
    """The id arithmetic at its edges: more range partitions asked for
    than rows, a single row, and many small partitions. The frozen
    in-partition numbers of each partition must be 1..count, so the
    ranks match the pandas total order."""
    pdf = _fixture(n=n, seed=n)
    df = spark.createDataFrame(pdf)
    order = [F.col("grp").asc(), F.col("score").desc(), F.col("id").asc()]
    got = global_rank(df, order, out="rk", num_partitions=num_partitions)
    assert dict(got.select("id", "rk").collect()) == _want_ranks(pdf)


def test_rank_sql_skips_empty_partitions(spark):
    """A partition id with no rows holds the running offset, so the
    ranks of the partitions after it do not shift."""
    from turboxsl_spark.operators.rank import _rank_sql

    rows = [(0, 1), (0, 2), (2, 1), (2, 2), (3, 1)]
    df = spark.createDataFrame(rows, "_gr_pid int, _gr_lrn long")
    # counts {0: 2, 1: 0, 2: 2, 3: 1}
    got = df.selectExpr(f"{_rank_sql([0, 2, 2, 4, 5])} AS r").collect()
    assert [r["r"] for r in got] == [1, 2, 3, 4, 5]


def test_exact_quantiles_partition_boundaries(spark):
    """q = 0, q = 1, a repeated q, and targets on the first and the last
    row of every range partition (read off the collected counts), on
    values with many ties. AQE coalescing is off so the range stage
    keeps its 8 partitions."""
    from turboxsl_spark.operators.rank import _numbered, exact_quantiles

    rng = np.random.default_rng(11)
    vals = rng.integers(0, 60, 1234).astype("float64")
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    n = len(vals)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        slim = df.select(F.col("v").alias("_q_v"), "id")
        _, offsets = _numbered(slim, [F.col("_q_v").asc(), F.col("id").asc()])
        assert len(offsets) > 2  # more than one range partition
        edges = sorted({o + 1 for o in offsets[:-1]} | set(offsets[1:]))
        # ceil(q*n) == r for q = (r - 0.5) / n
        qs = [0.0, 1.0, 0.5, 0.5] + [(r - 0.5) / n for r in edges]
        got = exact_quantiles(df, "v", qs, tiebreak=["id"]).collect()
    finally:
        spark.conf.set(key, prev)
    s = np.sort(vals)
    assert [r["q"] for r in got] == sorted(qs)
    for r in got:
        assert r["value"] == s[max(1, int(np.ceil(r["q"] * n))) - 1], r["q"]
