"""Render benchmark records as Markdown; every number comes from them.

    python3 perfbench/report.py .perfbench_out/*.json > report.md

Each record is one run's JSON as written by ``run.py``. Runs of one
workload and trace mode are grouped; a metric is shown as the median
and quartiles over the runs, with the run count, rounded half-up to
four significant digits, so the same value always prints the same way.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal


def fmt(x: float, digits: int = 4) -> str:
    """Round half-up to ``digits`` significant digits."""
    d = Decimal(repr(float(x)))
    if d == 0:
        return "0"
    exp = d.adjusted() - digits + 1
    q = d.quantize(Decimal(1).scaleb(exp), rounding=ROUND_HALF_UP)
    return f"{q:f}" if exp < 0 else f"{q.to_integral_value():f}"


def summarize(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def render(records: list[dict]) -> str:
    groups: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for r in records:
        groups[(r["workload"], r["trace"])].append(r)
    out = ["# turboxsl_spark benchmark report", ""]
    for (workload, trace), runs in sorted(groups.items()):
        host = runs[0]["host"]
        seeds = ", ".join(str(r["seed"]) for r in runs)
        out += [
            f"## {workload} ({'traced' if trace else 'untraced'}, {len(runs)} runs)",
            "",
            f"Host: {host['nproc']} cores, {host['mem_total_mb']} MB, driver "
            f"{host['driver_mem_mb']} MB, pyspark {host.get('pyspark')}, java "
            f"{host.get('java')}, python {host['python']}. Seeds: {seeds}. "
            f"Input: {runs[0]['input']['table']} table, {runs[0]['input']['turns']} turns. "
            f"Operations attempted {sum(r['attempted'] for r in runs)}, "
            f"failed {sum(r['failed'] for r in runs)}.",
            "",
            "| metric | unit | median | q1 | q3 |",
            "|---|---|---|---|---|",
        ]
        for name, m in runs[0]["metrics"].items():
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3 = summarize(vals)
            out.append(f"| {name} | {m['unit']} | {fmt(med)} | {fmt(q1)} | {fmt(q3)} |")
        gen = [r["input"]["gen_s"] for r in runs if not r["input"]["cached"]]
        if gen:
            out += ["", f"Input generation (not in setup_s): median {fmt(statistics.median(gen))} s "
                        f"over {len(gen)} uncached runs."]
        out.append("")
    return "\n".join(out)


def main(paths: list[str]) -> int:
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    print(render(records))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
