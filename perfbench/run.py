"""turboxsl_spark benchmark: closed-loop, back-to-back passes of one
workload on ``local[<cores>]``, one client, one Spark driver process.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` the last stdout
line carries the end-to-end metrics of an untraced run; with
``--trace 1`` it carries the per-layer metrics of a traced run (spans
around the benchmark's calls into each layer, plus Spark task metrics
from an uncompressed event log, attributed through job groups). The
line before it is the full record, also written to
``.perfbench_out/``; ``perfbench/report.py`` renders records as
Markdown.

Every run is checked: untimed passes compare the workload's output
with an independent oracle, and every operation that raises or
disagrees counts as failed.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from statistics import median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Table per workload and its size in turns. Sized so that set-up, input
# generation, the checked passes and run_seconds of timed passes fit one
# run in about a minute on a 4-core host.
WORKLOADS = {
    "flagship": ("plain", 120_000),
    "asof_write": ("skewed", 100_000),
}
MIN_PASSES = 3
# Seconds from the first pass to the first timed pass, and the fewest
# passes after the correctness gate. Passes keep getting faster while
# the JIT compiles: on a 4-core host a pass's compile time falls from
# several seconds to a few tenths over about 25 s of passes, and the
# pass time with it.
WARM_S = 25.0
MIN_WARM = 2
LAYER_REPS = 3
WARMUP_SQL = "SELECT sum(id * 7 % 13) FROM range(100000)"
# The full-size flagship table (60,000 conversations at seed 42), and
# the AQE partition sizes a session uses (the program's advisory size,
# Spark's minimum coalesced size). Both are scaled down with the table,
# so that a shuffle is split into as many partitions as at full size
# instead of being coalesced into one or two tasks.
FULL_TURNS = 3_778_562
ADVISORY_BYTES = 8 * 2**20
MIN_PARTITION_BYTES = 2**20


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=None,
                   help="override the workload's table size (tests use a tiny one)")
    return p.parse_args(argv)


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_mb = mem_kb // 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_mb,
        # an eighth of the host, within [1, 4] GB: room for the driver's
        # heap at these sizes while leaving the host to its neighbours
        "driver_mem_mb": max(1024, min(4096, mem_mb // 8)),
        "python": sys.version.split()[0],
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024


def vm_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmRSS")).split()[1])
    return kb / 1024


def reset_hwm(pid: int | str = "self") -> None:
    """Restart the kernel's resident-set high-water mark at the current RSS."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def stat_cpu_s(path: str) -> tuple[str, float]:
    """(name, user plus system CPU seconds) from a /proc stat file."""
    with open(path) as f:
        head, tail = f.read().rsplit(")", 1)
    fields = tail.split()
    return head.split("(", 1)[1], (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """CPU seconds of a process, all its threads, live and ended."""
    return stat_cpu_s(f"/proc/{pid}/stat")[1]


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of a JVM's JIT compiler threads (kept alive by
    ``-XX:-UseDynamicNumberOfCompilerThreads``, so none of their time
    is lost with an ended thread)."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, cpu = stat_cpu_s(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # the thread ended meanwhile
            continue
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            total += cpu
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def descendants(pid: int) -> list[int]:
    """Every process under ``pid``: children, grandchildren and so on."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # ended meanwhile
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def become_subreaper() -> None:
    """Adopt every process orphaned under this one (PR_SET_CHILD_SUBREAPER),
    so that the JVM's Python workers can be waited for once it has ended."""
    ctypes.CDLL("libc.so.6").prctl(36, 1, 0, 0, 0)


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark driver JVM and every process under this one (the
    JVM's Python workers), and wait until each has ended.

    PySpark leaves the JVM to exit by itself once this process's end
    closes its stdin, so without this it outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on end of input
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    # what is left was orphaned under this process and adopted by it
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(os.getpid()) if sig else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s / 3
        while time.monotonic() < deadline:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    time.sleep(0.05)
            except ChildProcessError:  # none left
                return
    raise RuntimeError(f"processes {descendants(os.getpid())} did not end")


def release_python_heap() -> None:
    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)


class Bench:
    """One benchmark run: owns its run directory, session and counters."""

    def __init__(self, args, host: dict):
        self.args = args
        self.host = host
        self.workload = args.workload
        self.kind, n_turns = WORKLOADS[args.workload]
        self.n_turns = args.turns or n_turns
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.run_dir = os.path.join(ROOT, ".perfbench_run", self.run_id)
        self.cache_dir = os.path.join(ROOT, ".perfbench_cache")
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, int] = {}
        self.op_times: dict[str, list[float]] = {}
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
        }
        self.spark = None
        self.jvm = None

    # ---- environment --------------------------------------------------

    def isolate(self) -> None:
        """Private TMPDIR, Spark local dir and JVM temp dir for this run."""
        for sub in ("tmp", "local", "events", "manifest"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        os.makedirs(self.cache_dir, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def spark_conf(self, traced: bool) -> dict[str, str]:
        scale = min(1.0, self.n_turns / FULL_TURNS)
        conf = {
            "spark.driver.memory": f"{self.host['driver_mem_mb']}m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(int(ADVISORY_BYTES * scale)),
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": str(int(MIN_PARTITION_BYTES * scale)),
            "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
        }
        if traced:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "events"),
            }
        return conf

    def start_session(self, traced: bool):
        from turboxsl_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark(
            f"perfbench-{self.run_id}", cores=self.host["nproc"],
            extra_conf=self.spark_conf(traced),
        )
        t1 = time.monotonic()
        self.spark.sql(WARMUP_SQL).collect()
        t2 = time.monotonic()
        self.jvm = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.record["jvm_pid"] = self.jvm
        return t1 - t0, t2 - t1

    # ---- operations ---------------------------------------------------

    def attempt(self, name: str, fn, tracer=None) -> tuple[bool, object]:
        """Run one operation, in a span of its own when traced; count it,
        and count it failed if it raises. Returns (ok, result)."""
        self.attempted += 1
        try:
            if tracer is None:
                return True, fn()
            with tracer.span(name):
                return True, fn()
        except Exception:
            self.failed += 1
            print(f"operation {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            return False, None

    def check(self, name: str, bad_rows: int | None) -> None:
        """Record one checked operation; ``None`` means it raised."""
        self.checks[name] = -1 if bad_rows is None else bad_rows
        if bad_rows:
            self.failed += 1
            print(f"correctness gate {name}: {bad_rows} rows differ", file=sys.stderr)

    def workload_ops(self, df) -> list[tuple[str, callable]]:
        from workloads import flagship_output, asof_plain, asof_salted, noop

        if self.workload == "flagship":
            return [("flagship", lambda: noop(flagship_output(df)))]
        return [
            ("asof.plain", lambda: noop(asof_plain(df))),
            ("asof.salted", lambda: noop(asof_salted(df))),
        ]

    @property
    def n_buckets(self) -> int:
        return self.host["nproc"]

    def run_pass(self, df, tracer=None) -> float | None:
        """One closed-loop pass; its wall time, or None if an op failed."""
        t0 = time.monotonic()
        ok = True
        for name, fn in self.workload_ops(df):
            t = time.monotonic()
            ok &= self.attempt(name, fn, tracer)[0]
            self.op_times.setdefault(name, []).append(time.monotonic() - t)
        return time.monotonic() - t0 if ok else None

    def cpu_s(self) -> tuple[float, float]:
        """(driver CPU seconds, JVM and Python, without the JIT's; the
        JIT's CPU seconds). The JIT keeps compiling through the timed
        passes at a rate set by wall time, not by work, so its share
        follows how much CPU the host steals."""
        jit = jit_cpu_s(self.jvm)
        return proc_cpu_s(self.jvm) - jit + time.process_time(), jit

    def warm_up(self, df, t_first: float) -> list[float]:
        """Untimed passes until WARM_S seconds after ``t_first``, at
        least MIN_WARM of them; returns each pass's JIT CPU seconds.
        A fixed warm-up time puts every run's timed passes at about the
        same point of the JIT's compile curve."""
        jit: list[float] = []
        while len(jit) < MIN_WARM or time.monotonic() - t_first < WARM_S:
            j = jit_cpu_s(self.jvm)
            self.run_pass(df)
            jit.append(jit_cpu_s(self.jvm) - j)
        self.op_times.clear()
        return jit

    def task_s(self) -> float:
        """Run time of every task finished so far, in seconds."""
        sc = self.spark._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        return sc.statusStore().executorSummary("driver").totalDuration() / 1e3

    def timed_passes(self, df, seconds: float, min_passes=MIN_PASSES):
        """Back-to-back passes for ``seconds`` (at least ``min_passes``);
        returns the wall seconds, the driver's CPU seconds without the
        JIT's, and the task run seconds of each pass."""
        times: list[float] = []
        cpus: list[float] = []
        jits: list[float] = []
        tasks: list[float] = []
        t_end = time.monotonic() + seconds
        while len(times) < min_passes or time.monotonic() < t_end:
            (cpu, jit), task = self.cpu_s(), self.task_s()
            dt = self.run_pass(df)
            if dt is None:
                if self.failed > 2 * min_passes:
                    break
                continue
            cpu1, jit1 = self.cpu_s()
            times.append(dt)
            cpus.append(cpu1 - cpu)
            jits.append(jit1 - jit)
            tasks.append(self.task_s() - task)
        self.record["pass_jit_cpu_s"] = jits
        return times, cpus, tasks

    def heap_pools(self) -> list:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    # ---- correctness gates (untimed) -----------------------------------

    def gate(self, df, table_path: str) -> None:
        import numpy as np

        import gates
        import workloads as wl
        import pandas as pd

        if self.workload == "flagship":
            _, got = self.attempt("flagship.checked", lambda: wl.flagship_checked(df))
            ref_path = os.path.join(
                self.cache_dir, f"flagship-ref-s{self.args.seed}-t{self.n_turns}.npy"
            )
            if os.path.exists(ref_path):
                want = np.load(ref_path)
            else:
                want = gates.flagship_reference_hashes(pd.read_parquet(table_path))
                np.save(ref_path, want)
            self.check("flagship_vs_reference", None if got is None else gates.mismatched_rows(
                gates.row_hashes(got, gates.FLAGSHIP_STR, gates.FLAGSHIP_NUM), want))
            return

        _, res = self.attempt("asof.checked", lambda: wl.asof_checked(df))
        pdf = pd.read_parquet(table_path)
        oracle = gates.row_hashes(gates.asof_oracle(pdf), gates.ASOF_STR, gates.ASOF_NUM)
        n_spine = len(pdf)
        del pdf
        if res is None:
            self.check("asof_plain_vs_duckdb", None)
            self.check("asof_salted_vs_plain", None)
        else:
            plain, salted = (gates.row_hashes(x, gates.ASOF_STR, gates.ASOF_NUM) for x in res)
            self.check("asof_plain_vs_duckdb", gates.mismatched_rows(plain, oracle))
            self.check("asof_salted_vs_plain", gates.mismatched_rows(salted, plain))
        out = os.path.join(self.run_dir, "manifest", "checked")
        _, read_back = self.attempt("manifest.checked", lambda: (
            wl.manifest_write(df, out, self.n_buckets),
            wl.manifest_rows_read_back(self.spark, out),
        )[1])
        self.check("manifest_rows_vs_spine",
                   None if read_back is None else abs(read_back - n_spine))

    # ---- the run --------------------------------------------------------

    def run(self) -> dict:
        import pyspark

        from data import dir_mb, ensure_table

        imports_s = time.monotonic() - T_START
        self.isolate()

        t = time.monotonic()
        table, cached = ensure_table(
            self.cache_dir, self.kind, self.args.seed, self.n_turns, n_files=2 * self.host["nproc"]
        )
        self.record["input"] = {
            "table": self.kind, "turns": self.n_turns, "cached": cached,
            "gen_s": time.monotonic() - t, "input_mb": dir_mb(table),
        }

        start_s, warmup_s = self.start_session(traced=False)
        setup = {"imports_s": imports_s, "session_s": start_s, "warmup_s": warmup_s}
        setup["setup_s"] = imports_s + start_s + warmup_s
        self.record["setup"] = setup
        self.record["host"] |= {
            "pyspark": pyspark.__version__,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
        }

        df = self.spark.read.parquet(table)

        t_first = time.monotonic()
        self.run_pass(df)
        self.record["first_pass_s"] = time.monotonic() - t_first
        t = time.monotonic()
        self.gate(df, table)
        self.record["gate_s"] = time.monotonic() - t
        self.record["warm_jit_cpu_s"] = self.warm_up(df, t_first)
        self.record["warm_s"] = time.monotonic() - t_first
        self.record["jit_cpu_at_timing_s"] = jit_cpu_s(self.jvm)

        release_python_heap()
        reset_hwm()
        reset_hwm(self.jvm)
        for pool in self.heap_pools():
            pool.resetPeakUsage()
        steal0 = host_cpu_ticks()
        if self.args.trace:  # half untraced, half traced; the layers come after
            passes, cpus, tasks = self.timed_passes(df, self.args.seconds / 2, min_passes=2)
        else:
            passes, cpus, tasks = self.timed_passes(df, self.args.seconds)
        if not passes:
            raise RuntimeError("no timed pass completed")
        steal1 = host_cpu_ticks()
        # high-water marks over the timed passes, then what stays after
        # a full collection: the JVM's live heap and non-heap (classes,
        # generated code) and the Python process's resident set
        mem = {
            "python_rss_peak_mb": vm_hwm_mb(),
            "jvm_rss_peak_mb": vm_hwm_mb(self.jvm),
            # peak used heap per pool (eden, survivor, old), summed
            "jvm_heap_peak_mb": sum(p.getPeakUsage().getUsed() for p in self.heap_pools()) / 2**20,
        }
        self.spark._jvm.java.lang.System.gc()
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem |= {
            "jvm_live_heap_mb": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_nonheap_mb": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
            "python_rss_mb": vm_rss_mb(),
        }
        mem["retained_mb"] = mem["jvm_live_heap_mb"] + mem["jvm_nonheap_mb"] + mem["python_rss_mb"]
        self.record["memory"] = mem
        self.record["passes_s"] = passes
        self.record["turns_per_s"] = self.n_turns / median(passes)
        self.record["pass_cpu_s"] = cpus
        self.record["pass_task_s"] = tasks
        self.record["op_s"] = dict(self.op_times)
        self.record["host_steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

        cores = self.host["nproc"]
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "retained_mb": (mem["retained_mb"], "MB"),
            "turns_per_cpu_s": (self.n_turns / median(cpus), "turns/cpu-s"),
            "core_busy_frac": (median([t / (w * cores) for t, w in zip(tasks, passes)]), "ratio"),
        }
        if self.args.trace:
            metrics = self.traced(table, setup, passes)
        else:
            self.spark.stop()
        self.record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        self.record["checks"] = self.checks
        return self.record

    def traced(self, table: str, setup: dict, untraced: list[float]) -> dict:
        """Per-layer metrics: restart the session with the event log on
        (same JVM), then run rounds of traced full passes and each
        layer's calls, each call in its own span and job group."""
        from data import dir_mb
        from spans import Tracer, merge, read_event_log
        import workloads as wl

        self.spark.stop()
        self.start_session(traced=True)
        tracer = Tracer(self.spark, self.run_id)
        df = self.spark.read.parquet(table)
        traced, builds, entries = [], [], []
        out = os.path.join(self.run_dir, "manifest", "layer")

        def full_pass(tr):
            with tracer.span("pass") if tr else nullcontext():
                dt = self.run_pass(df, tr)
            if tr and dt is not None:
                traced.append(dt)

        def flagship_layers(tr):
            t = time.monotonic()
            wl.flagship_output(df).schema
            if tr:
                builds.append(time.monotonic() - t)
            for name, prefix in wl.flagship_prefixes(df):
                self.attempt(f"flagship.{name}", lambda: wl.noop(prefix), tr)

        def asof_layers(tr):
            self.attempt("asof.plain", lambda: wl.noop(wl.asof_plain(df)), tr)
            self.attempt("asof.salted", lambda: wl.noop(wl.asof_salted(df)), tr)

        def manifest_layer(tr):
            _, committed = self.attempt(
                "manifest.write", lambda: wl.manifest_write(df, out, self.n_buckets), tr)
            if tr:
                entries.extend(committed or [])

        # The workload's own passes and layers run first, next to each
        # other: an op that follows a manifest commit runs slower, which
        # would set the full pass apart from the layers it is compared
        # with. Then the other workload's layers, to show they stay flat.
        # Each phase starts with an untraced round, so that no layer is
        # timed on plans the JIT has not seen yet.
        if self.workload == "flagship":
            phases = [[full_pass, flagship_layers], [asof_layers, manifest_layer]]
        else:  # the pass runs the as-of layers
            phases = [[full_pass], [flagship_layers, manifest_layer]]
        for phase in phases:
            for rnd in range(LAYER_REPS + 1):
                for step in phase:
                    step(tracer if rnd else None)
        if not traced:
            raise RuntimeError("no traced pass completed")
        files, size = wl.manifest_files(out)
        self.spark.stop()
        tracer.write(os.path.join(self.out_dir, f"spans-{self.run_id}.json"))
        groups = read_event_log(os.path.join(self.run_dir, "events"))

        def agg(span_id):
            return groups.get(tracer.group(span_id)) or merge([])

        def med_dur(name):
            return median(tracer.durations(name))

        def per_rep(name, fn):
            return median([fn(agg(i)) for i in tracer.ids(name)])

        prefix = {p: med_dur(f"flagship.{p}") for p in ("scan", "text", "window", "template")}
        plain_s, salted_s, write_s = (med_dur(n) for n in ("asof.plain", "asof.salted", "manifest.write"))
        build_s = median(builds)
        # the full pass builds its plan and runs it; the prefixes run
        # plans built beforehand, so the build is a layer of its own
        layer_sum = build_s + prefix["template"] if self.workload == "flagship" else plain_s + salted_s
        self.record["stages"] = {
            name: [s.summary() for s in agg(tracer.ids(name)[-1]).stages.values()]
            for name in ("flagship.window", "asof.plain", "asof.salted")
        }

        def pass_agg(sid):  # a pass's jobs run under its child spans
            return merge([agg(sid), *(agg(s["id"]) for s in tracer.spans if s["parent"] == sid)])

        pass_aggs = [(pass_agg(s["id"]), s["end"] - s["start"])
                     for s in tracer.spans if s["name"] == "pass"]
        cores = self.host["nproc"]
        bucket_s = [e["elapsed_sec"] for e in entries]

        def pm(fn):
            return median([fn(a, wall) for a, wall in pass_aggs])

        return {
            "session.start_s": (setup["imports_s"] + setup["session_s"], "s"),
            "session.warmup_s": (setup["warmup_s"], "s"),
            "jvm.heap_peak_mb": (self.record["memory"]["jvm_heap_peak_mb"], "MB"),
            "jvm.rss_peak_mb": (self.record["memory"]["jvm_rss_peak_mb"], "MB"),
            "sources.scan_s": (prefix["scan"], "s"),
            "sources.input_mb": (dir_mb(table), "MB"),
            "functions.text_s": (prefix["text"] - prefix["scan"], "s"),
            "functions.template_s": (prefix["template"] - prefix["window"], "s"),
            "operators.windows.window_s": (prefix["window"] - prefix["text"], "s"),
            "operators.windows.shuffle_mb": (per_rep("flagship.window", lambda a: a.shuffle_write_mb), "MB"),
            "operators.windows.spill_mb": (per_rep("flagship.window", lambda a: a.spill_mb), "MB"),
            "operators.windows.task_skew": (per_rep("flagship.window", lambda a: a.slowest_stage()[1]), "ratio"),
            "operators.asof.plain_s": (plain_s, "s"),
            "operators.asof.salted_s": (salted_s, "s"),
            "operators.asof.stages": (per_rep("asof.plain", lambda a: len(a.stages)), "count"),
            "operators.asof.shuffle_mb": (per_rep("asof.plain", lambda a: a.shuffle_write_mb), "MB"),
            "operators.asof.spill_mb": (per_rep("asof.plain", lambda a: a.spill_mb), "MB"),
            "operators.asof.max_task_s": (per_rep("asof.plain", lambda a: a.slowest_stage()[0]), "s"),
            "operators.asof.task_skew": (per_rep("asof.plain", lambda a: a.slowest_stage()[1]), "ratio"),
            "operators.asof.salted_max_task_s": (per_rep("asof.salted", lambda a: a.slowest_stage()[0]), "s"),
            "operators.asof.salted_task_skew": (per_rep("asof.salted", lambda a: a.slowest_stage()[1]), "ratio"),
            "plans.featurespec.build_s": (build_s, "s"),
            "plans.manifest.write_s": (write_s, "s"),
            "plans.manifest.jobs": (per_rep("manifest.write", lambda a: a.jobs), "count"),
            "plans.manifest.bucket_s_p50": (median(bucket_s) if bucket_s else 0.0, "s"),
            "plans.manifest.bucket_s_max": (max(bucket_s, default=0.0), "s"),
            "plans.manifest.bytes_mb": (size / 2**20, "MB"),
            "plans.manifest.files": (files, "count"),
            "spark.exec_cpu_s": (pm(lambda a, w: a.cpu_s), "s"),
            "spark.exec_run_s": (pm(lambda a, w: a.run_s), "s"),
            "spark.gc_s": (pm(lambda a, w: a.gc_s), "s"),
            "spark.core_busy_frac": (pm(lambda a, w: a.run_s / (w * cores)), "ratio"),
            "spark.jobs": (pm(lambda a, w: a.jobs), "count"),
            "spark.stages": (pm(lambda a, w: len(a.stages)), "count"),
            "spark.tasks": (pm(lambda a, w: a.tasks), "count"),
            "spark.shuffle_write_mb": (pm(lambda a, w: a.shuffle_write_mb), "MB"),
            "spark.spill_mb": (pm(lambda a, w: a.spill_mb), "MB"),
            "trace.full_pass_s": (median(traced), "s"),
            "trace.overhead_s": (median(traced) - median(untraced), "s"),
            "trace.layer_sum_s": (layer_sum, "s"),
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # the program under test; without it the benchmark fails here,
    # before printing any result
    import turboxsl_spark.plans.featurespec  # noqa: F401

    bench = Bench(args, host_info())
    try:
        record = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_processes()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    record["attempted"] = bench.attempted
    record["failed"] = bench.failed
    name = f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    with open(os.path.join(bench.out_dir, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
