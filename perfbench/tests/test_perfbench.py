"""Self-tests of the benchmark: the gates catch wrong answers, the
flagship layer split mirrors the real plan, and every workload runs
end to end at a tiny size and prints the metrics BENCHMARK.json names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

import gates
from data import GIANT_CONV, make_table, plant_giant
from report import fmt, render

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


@pytest.fixture(scope="module")
def table():
    return make_table("plain", seed=5, n_turns=2000)


def test_flagship_gate_flags_shifted_lag(table):
    from turboxsl_spark.reference_impl import reference_features

    ref = reference_features(table)
    want = gates.row_hashes(ref, gates.FLAGSHIP_STR, gates.FLAGSHIP_NUM)
    assert gates.mismatched_rows(want.copy(), want) == 0

    shifted = ref.copy()
    row = shifted.index[shifted["text_len_lag1"].notna()][3]
    shifted.loc[row, "text_len_lag1"] += 1
    got = gates.row_hashes(shifted, gates.FLAGSHIP_STR, gates.FLAGSHIP_NUM)
    assert gates.mismatched_rows(got, want) == 2


def test_asof_gate_flags_dropped_spine_row(table):
    oracle = gates.asof_oracle(table)
    assert len(oracle) == len(table)
    want = gates.row_hashes(oracle, gates.ASOF_STR, gates.ASOF_NUM)
    got = gates.row_hashes(oracle.iloc[1:], gates.ASOF_STR, gates.ASOF_NUM)
    assert gates.mismatched_rows(got, want) == 1


def test_duplicated_row_is_a_mismatch(table):
    oracle = gates.asof_oracle(table)
    want = gates.row_hashes(oracle, gates.ASOF_STR, gates.ASOF_NUM)
    doubled = oracle.iloc[[*range(len(oracle)), 0]]
    got = gates.row_hashes(doubled, gates.ASOF_STR, gates.ASOF_NUM)
    assert gates.mismatched_rows(got, want) == 1


def test_plant_giant_keeps_row_keys_unique(table):
    skewed = plant_giant(table, seed=5)
    assert len(skewed) == len(table)
    assert not skewed.duplicated(["conv_id", "turn_idx"]).any()
    share = (skewed["conv_id"] == GIANT_CONV).mean()
    assert 0.15 < share < 0.35


def test_prefix_mirror_equals_build_features(table):
    from turboxsl_spark.session import get_spark
    from turboxsl_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    from run import stop_processes
    from workloads import flagship_output, flagship_prefixes

    spark = get_spark("perfbench-tests", cores=2, shuffle_partitions=4)
    try:
        df = spark.createDataFrame(table, schema=TRANSCRIPT_SCHEMA)
        names = [n for n, _ in flagship_prefixes(df)]
        assert names == ["scan", "text", "window", "template"]
        mirror = flagship_prefixes(df)[-1][1]
        real = flagship_output(df)
        assert mirror.columns == real.columns
        assert mirror.exceptAll(real).count() == 0
        assert real.exceptAll(mirror).count() == 0
    finally:
        spark.stop()
        stop_processes()


def test_fmt_rounds_half_up():
    assert fmt(0.8355, 3) == "0.836"
    assert fmt(0.8345, 3) == "0.835"
    assert fmt(147250.0) == "147300"
    assert fmt(0.0) == "0"


def test_report_renders_only_recorded_values():
    rec = {
        "workload": "flagship", "trace": 0, "seed": 1, "attempted": 5, "failed": 0,
        "host": {"nproc": 4, "mem_total_mb": 15000, "driver_mem_mb": 3000,
                 "python": "3.11", "pyspark": "4.1.2", "java": "17"},
        "input": {"table": "plain", "turns": 2400, "cached": True, "gen_s": 1.0},
        "metrics": {"turns_per_s": {"value": 12345.65, "unit": "turns/s"}},
    }
    text = render([rec, rec | {"seed": 2}])
    assert "| turns_per_s | turns/s | 12350 | 12350 | 12350 |" in text
    assert "Operations attempted 10, failed 0." in text


def _bench_names(section: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[section]}


@pytest.mark.parametrize(
    "workload,trace", [("flagship", 0), ("asof_write", 0), ("asof_write", 1)]
)
def test_tiny_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--turns", "2000"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    record, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    # ended and waited for: not even a zombie is left
    assert not os.path.exists(f"/proc/{record['jvm_pid']}"), "the Spark driver JVM outlived the run"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _bench_names("per_layer" if trace else "end_to_end")
    assert set(result["metrics"]) == want
    assert all(np.isfinite(m["value"]) for m in result["metrics"].values())
