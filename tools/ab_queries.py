"""Paired, alternating A/B of ``queries()`` entries between two checkouts.

Each pair starts one fresh driver per checkout (``local[4]``, 8 shuffle
partitions), the order alternating from pair to pair. A driver builds
and collects each query once to warm up, then times ``--reps`` builds
plus collects and reports their median. The JSON holds every sample,
the per-query medians, the ratio of medians and the pairs won.

Usage:
    python tools/ab_queries.py BASE_DIR CHANGE_DIR --queries a,b \
        --sf sf0.01,sf0.1 --pairs 6 --out AB.json
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time


def _worker(repo: str, sf: str, names: list[str], reps: int) -> None:
    sys.path.insert(0, repo)
    import __spark_entry__ as entry
    from turboxsl_spark.session import get_spark

    spark = get_spark("ab-queries", cores=4, shuffle_partitions=8)
    # the scale-factor dirs sit next to the smoke-test one
    sf_dir = os.path.join(os.path.dirname(entry.SF_SMOKE), sf)
    qs, out = entry.queries(), {}
    for name in names:
        qs[name](spark, sf_dir).collect()
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    spark.stop()
    print(json.dumps(out))


def _run(repo: str, sf: str, names: list[str], reps: int) -> dict[str, float]:
    env = dict(os.environ, PYTHONPATH=repo)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", repo, sf,
         ",".join(names), str(reps)],
        cwd=repo, env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        repo, sf, names, reps = sys.argv[2:6]
        _worker(repo, sf, names.split(","), int(reps))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf", default="sf0.01,sf0.1")
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    names = args.queries.split(",")
    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    samples = {
        sf: {side: {n: [] for n in names} for side in sides} for sf in args.sf.split(",")
    }
    for sf, by_side in samples.items():
        for i in range(args.pairs):
            for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
                for n, t in _run(sides[side], sf, names, args.reps).items():
                    by_side[side][n].append(round(t, 4))
            print(sf, i, {s: {n: v[n][-1] for n in names} for s, v in by_side.items()},
                  flush=True)
    summary = {}
    for sf, by_side in samples.items():
        for n in names:
            b, c = by_side["base"][n], by_side["change"][n]
            summary[f"{sf}/{n}"] = {
                "base_median_s": round(statistics.median(b), 3),
                "change_median_s": round(statistics.median(c), 3),
                "speedup": round(statistics.median(b) / statistics.median(c), 2),
                "pairs_won": sum(x > y for x, y in zip(b, c)),
                "pairs": len(b),
            }
    host = {"cpus": os.cpu_count(), "python": platform.python_version(),
            "machine": platform.machine()}
    record = {"setup": {"master": "local[4]", "shuffle_partitions": 8,
                        "timed": "build + collect", "reps_per_sample": args.reps,
                        "order": "alternating per pair", **host},
              "summary": summary, "samples": samples}
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
