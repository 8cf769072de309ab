"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipeline_job,asof_hot_entity}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` into ``.perfbench_work/`` (emptied at start and exit);
Spark's and Python's temporary files go under ``.perfbench_cache/``. One client drives the
engine in a closed loop on ``local[nproc / 2]``. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it is a detail report that also names
each workload's own figures (images_per_s, probes_per_s, write_amp,
ops_failed_ratio) with units.
"""

from __future__ import annotations

import argparse
import contextlib
import logging
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pipeline_job", "asof_hot_entity")


class Ctx:
    """Per-run state: paths, arguments and the time excluded from set-up
    (input generation and output-check preparation)."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.cache = os.path.join(root, ".perfbench_cache")
        self.work = os.path.join(root, ".perfbench_work")
        self.excluded_s = 0.0
        self.host: dict = {}

    @contextlib.contextmanager
    def excluded(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    def setup_s(self) -> float:
        """Process start to now, minus excluded generation/check time."""
        from harness import since_process_start

        return since_process_start() - self.excluded_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "query_cost_feature_engineering_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root; the engine package "
            "query_cost_feature_engineering_spark/ is not here",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    import harness

    ctx = Ctx(args, root)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    ctx.host = harness.configure_env(ctx.work, ctx.cache)
    try:
        if args.workload == "pipeline_job":
            import wl_pipeline as wl
        else:
            import wl_asof as wl
        wl.run(ctx)
    finally:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
        # py4j objects finalized after the JVM is gone log a connection
        # error each; the JVM is being shut down on purpose
        logging.disable(logging.CRITICAL)
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the driver JVM exits when its stdin (our pipe) closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(ctx.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
