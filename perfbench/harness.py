"""Shared machinery of the benchmark: host-fit session, process-tree
sampling from /proc, fresh engine-module state, status-store spans and
the result line.

Everything here drives the engine from outside: the session comes from
``session.get_spark``, timed actions are real writes or ``noop`` sinks,
and layer numbers come from Spark's own status store.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import sys
import tempfile
import threading
import time
from collections import defaultdict

PKG = "query_cost_feature_engineering_spark"
# The output checks' reference implementation holds no engine state, so
# the per-operation module reset leaves it alone.
_VERIFY_MODULES = {f"{PKG}.golden"}
_TICK = os.sysconf("SC_CLK_TCK")


def host_cpus() -> int:
    """Cores this process may run on — what `nproc` prints."""
    return len(os.sched_getaffinity(0))


def session_threads() -> int:
    """Spark task threads: half the cores ``nproc`` reports. A decode or
    as-of task keeps a Python worker busy beside its JVM thread, and the
    JVM compiles and collects garbage on threads of its own, so one task
    per core oversubscribes the cores and the host's scheduler, not the
    engine, sets the times. On 4 cores the job is no slower on 2 threads."""
    return max(1, host_cpus() // 2)


def host_driver_mem() -> str:
    """Driver heap that fits a shared host: 20% of MemTotal, whole GB."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, int(kb * 0.2 / 2**20))}g"


MIN_OPS = 3


def op_count(seconds: float, nominal_op_s: float) -> int:
    """Operations per run: ``seconds`` of work at the workload's nominal
    operation time, at least ``MIN_OPS``. A fixed count (not a clock)
    puts every run's samples at the same place on the JVM's warm-up
    curve, which is still falling after ten operations."""
    return max(MIN_OPS, round(seconds / nominal_op_s))


def since_process_start() -> float:
    """Seconds since this interpreter was exec'd (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / _TICK


# ---------------------------------------------------------------------------
# process tree (driver JVM, Python daemon and workers)
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, list[str]]]:
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(d)] = (int(fields[1]), fields)
    return table


def _descendants(table, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    """Resident bytes of every process started below this one, as the sum
    of proportional set sizes: Python workers forked from one daemon share
    most of their pages, which a plain RSS sum would count once per
    worker."""
    total = 0
    for pid in _descendants(_proc_table(), os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


def tree_cpu_s() -> float:
    """User+system CPU seconds of the processes below this one, including
    reaped children of those processes."""
    table = _proc_table()
    ticks = 0
    for pid in _descendants(table, os.getpid()):
        f = table[pid][1]
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


class RssSampler:
    """Peak resident memory of the process tree, sampled every 0.5 s
    from a background thread while the context is open. One sample reads
    the JVM's page tables and costs ~40 ms of a core, so sampling faster
    would itself load the host."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(0.5)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


# ---------------------------------------------------------------------------
# session and driver state
# ---------------------------------------------------------------------------

def configure_env(work: str, cache: str) -> dict:
    """Keep every file Spark, the engine and its workers write inside the
    checkout, and size the session to the host. Must run before the
    first Spark import launches a JVM."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus = host_cpus()
    threads = session_threads()
    mem = host_driver_mem()
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(threads),
        SPARK_DRIVER_MEM=mem,
        PYTHONWARNINGS="ignore",
    )
    tempfile.tempdir = tmp
    return {"cpus": cpus, "threads": threads, "driver_memory": mem}


def start_session():
    """``session.get_spark`` on ``local[session_threads()]``; it ships the package
    zip, built here into the checkout's temp dir (default: /tmp)."""
    from query_cost_feature_engineering_spark import session

    session.package_zip(out=_zip_path())
    _pin_zip(session)
    return session.get_spark(
        app="perfbench",
        master=f"local[{session_threads()}]",
        extra={
            "spark.ui.showConsoleProgress": "false",
            # the whole heap is committed and touched at start, so the
            # JVM's share of peak memory does not depend on when G1 grows
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )


def fresh_engine_state() -> None:
    """Give the next operation the driver state a fresh process has:
    re-execute every loaded engine module, so each module-level cache or
    memo starts from its initial definition. No cache is named, so a new
    one is reset too. Rebinding happens in each module's own namespace,
    which function objects already created look their globals up in."""
    names = sorted(
        n
        for n in sys.modules
        if (n == PKG or n.startswith(PKG + ".")) and n not in _VERIFY_MODULES
    )
    for n in names:
        mod = sys.modules.get(n)
        if mod is not None:
            importlib.reload(mod)
    _pin_zip(sys.modules[f"{PKG}.session"])


def _zip_path() -> str:
    return os.path.join(tempfile.gettempdir(), "qcfe_spark_pkg.zip")


def _pin_zip(session_mod) -> None:
    """Hand every later ``get_spark`` call the package zip ``start_session``
    built. Spark refuses a shipped file whose bytes change under it, and
    after a reload the engine may be imported from the shipped zip
    itself, from which no zip can be rebuilt."""
    path = _zip_path()
    session_mod.package_zip = lambda out=None: path


def evaluate(df, out: str | None = None) -> int:
    """Fully evaluate ``df`` into a parquet write at ``out``, or into the
    ``noop`` sink; the row count rides the same job as an observation."""
    from query_cost_feature_engineering_spark.runtime.metrics import (
        observe_counts,
    )

    observed, obs = observe_counts(df, name="perfbench_rows")
    if out is None:
        observed.write.format("noop").mode("overwrite").save()
    else:
        observed.write.parquet(out)
    return int(obs.get["rows"])


def timed_plan(df):
    """The DataFrame whose plan the timed ``noop`` action executes."""
    from query_cost_feature_engineering_spark.runtime.metrics import (
        observe_counts,
    )

    return observe_counts(df, name="perfbench_plan")[0]


# ---------------------------------------------------------------------------
# spans over Spark's status store
# ---------------------------------------------------------------------------

_IDLE_GROUP = "perfbench"


class Tracer:
    """Spans around calls into each layer. Each span tags its Spark jobs
    with ``setJobGroup(layer)``; per-layer job, stage and task figures
    are read back from the application status store (live with the UI
    off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._jvm
        self.wall: dict[str, float] = defaultdict(float)
        self.cpu: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(layer, layer)
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall[layer] += time.perf_counter() - t0
            self.cpu[layer] += tree_cpu_s() - cpu0
            self.sc.setJobGroup(_IDLE_GROUP, _IDLE_GROUP)

    @staticmethod
    def _seq(seq) -> list:
        it = seq.iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    def jobs(self, layer: str) -> list:
        out = []
        for j in self._seq(self.store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined() and g.get() == layer:
                out.append(j)
        return out

    def _stages(self, layer: str) -> list:
        ids = sorted({int(s) for j in self.jobs(layer) for s in self._seq(j.stageIds())})
        empty = self.jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self.jvm.double, 0)
        out = []
        for sid in ids:
            for st in self._seq(self.store.stageData(sid, False, empty, False, no_q)):
                if st.status().toString() != "SKIPPED":
                    out.append(st)
        return out

    def stage_totals(self, layer: str) -> dict:
        t = defaultdict(int)
        for st in self._stages(layer):
            t["shuffle_write_bytes"] += st.shuffleWriteBytes()
            t["spill_bytes"] += st.diskBytesSpilled()
            t["failed_tasks"] += st.numFailedTasks()
        return dict(t)

    def task_skew(self, layer: str) -> float:
        """Slowest task over the median task of the layer's widest stage
        (the cogroup stage for the as-of merge)."""
        stages = self._stages(layer)
        if not stages:
            return 0.0
        st = max(stages, key=lambda s: (s.numTasks(), s.stageId()))
        durs = []
        for t in self._seq(self.store.taskList(st.stageId(), st.attemptId(), 1 << 20)):
            d = t.duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = statistics.median(durs) if durs else 0.0
        return max(durs) / med if med > 0 else 0.0


def asof_layer_metrics(tracer: Tracer) -> dict:
    """The as-of layer: eager detection inside the call, then the merge
    (the action that writes the join's output)."""
    detect = tracer.stage_totals("operators.asof_detect")
    merge = tracer.stage_totals("operators.asof_merge")
    return {
        "operators.asof_detect_s": tracer.wall["operators.asof_detect"],
        "operators.asof_detect_jobs": float(len(tracer.jobs("operators.asof_detect"))),
        "operators.asof_merge_s": tracer.wall["operators.asof_merge"],
        "operators.asof_shuffle_bytes": float(
            detect.get("shuffle_write_bytes", 0) + merge.get("shuffle_write_bytes", 0)
        ),
        "operators.asof_spill_bytes": float(
            detect.get("spill_bytes", 0) + merge.get("spill_bytes", 0)
        ),
        "operators.asof_task_skew": tracer.task_skew("operators.asof_merge"),
        "operators.asof_failed_tasks": float(
            detect.get("failed_tasks", 0) + merge.get("failed_tasks", 0)
        ),
    }


# ---------------------------------------------------------------------------
# result
# ---------------------------------------------------------------------------

# Every per-layer metric, in BENCHMARK.json order. A workload reports 0
# for a layer it does not reach.
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("sources.scan_s", "s"), ("sources.scan_bytes", "bytes"),
    ("functions.jvm_features_s", "s"), ("functions.decode_s", "s"),
    ("functions.decode_cpu_s", "s"), ("functions.decode_images_per_s", "1/s"),
    ("operators.windows_s", "s"), ("operators.windows_shuffle_bytes", "bytes"),
    ("operators.windows_spill_bytes", "bytes"), ("plans.assemble_s", "s"),
    ("operators.asof_detect_s", "s"), ("operators.asof_detect_jobs", "count"),
    ("operators.asof_merge_s", "s"), ("operators.asof_shuffle_bytes", "bytes"),
    ("operators.asof_spill_bytes", "bytes"), ("operators.asof_task_skew", "ratio"),
    ("operators.asof_failed_tasks", "count"),
    ("runtime.checkpoint_s", "s"), ("runtime.checkpoint_jobs", "count"),
    ("runtime.checkpoint_bytes", "bytes"), ("runtime.checkpoint_resume_s", "s"),
    ("tracing_overhead_s", "s"),
]


def result_metrics(trace: int, layer: dict, setup_s: float, op_s: float, peak_bytes: int) -> dict:
    """The end-to-end metrics, or with ``trace`` every per-layer one."""
    if not trace:
        return {"setup_s": (setup_s, "s"), "op_s": (op_s, "s"), "peak_rss_mb": (peak_bytes / 2**20, "MB")}
    unknown = set(layer) - {n for n, _ in PER_LAYER}
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {n: (float(layer.get(n, 0.0)), u) for n, u in PER_LAYER}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def emit(report: dict, attempted: int, failed: int, correct: bool, metrics: dict) -> None:
    """Detail line, then the one-object result line (always last)."""
    sys.stdout.flush()
    print(json.dumps(report, sort_keys=True, default=str))
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    sys.stdout.flush()
