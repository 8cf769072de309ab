"""asof_hot_entity: a probe spine joined by ``asof_join_pandas_merge`` onto
a generated feature table with the job's schema and global skew, so the
operator's hot-entity path (skew detection, time slicing, carry-forward,
cogroup merge) does nearly all the work and no decode runs.

One operation is the call (its eager detection jobs included) plus a
parquet write of the join's output. Output checks on every operation:
output rows equal the probe count, and a fixed probe sample — every
probe planted around a slice cut plus random ones — equals
single-process ``pandas.merge_asof``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

import harness
import inputs

N_ROWS = 55_000
N_ENTITIES = 400
N_PROBES = 20_000
N_FILES = 8
NOMINAL_OP_S = 4.0  # one warm operation on a 4-CPU host
N_RANDOM_SAMPLE = 1500
NUM_BUCKETS = 32  # the operator's default
VALUE_COLS = ["image_id", "session_id", "features"]


def auto_hot_threshold(rows: int) -> int:
    """The operator's documented auto threshold at its default buckets."""
    return max(10_000, rows // NUM_BUCKETS * 2)


def _expected(right: pd.DataFrame, spine: pd.DataFrame, sample: np.ndarray) -> pd.DataFrame:
    probes = spine[spine["probe_id"].isin(sample)].sort_values("ts", kind="mergesort")
    r = right.sort_values(["ts", "image_id"], kind="mergesort")
    want = pd.merge_asof(probes, r, on="ts", by="entity_id", direction="backward")
    return want.set_index("probe_id").sort_index()


def _join(spark, in_dir: str):
    from query_cost_feature_engineering_spark.operators.asof import (
        asof_join_pandas_merge,
    )

    spine = spark.read.parquet(os.path.join(in_dir, "spine"))
    feats = spark.read.parquet(os.path.join(in_dir, "features"))
    return asof_join_pandas_merge(
        spine, feats, on="ts", by="entity_id", value_cols=VALUE_COLS, tiebreak="image_id"
    )


def _check(out: str, rows: int, n_probes: int, want: pd.DataFrame) -> list[str]:
    problems = [] if rows == n_probes else [f"output rows {rows} != probes {n_probes}"]
    got = (
        ds.dataset(out, format="parquet")
        .to_table(columns=["probe_id"] + VALUE_COLS, filter=pc.field("probe_id").isin(want.index.to_numpy()))
        .to_pandas()
        .set_index("probe_id")
        .sort_index()
    )
    if len(got) != len(want):
        return problems + [f"sample rows {len(got)} != {len(want)}"]
    for pid, w in want.iterrows():
        g = got.loc[pid]
        if pd.isna(w["image_id"]):
            ok = g["image_id"] is None and g["features"] is None
        else:
            ok = (
                g["image_id"] == w["image_id"]
                and int(g["session_id"]) == int(w["session_id"])
                and np.array_equal(np.asarray(g["features"]), w["features"])
            )
        if not ok:
            problems.append(f"probe {pid}: got {g['image_id']} want {w['image_id']}")
            if len(problems) > 5:
                break
    return problems


def run(ctx) -> None:
    a = ctx.args
    in_dir = os.path.join(ctx.work, "in")
    with ctx.excluded():
        right, spine, planted, in_bytes = inputs.write_hot_features(
            in_dir, N_ROWS, N_ENTITIES, N_PROBES, a.seed, N_FILES
        )
        hottest = int(right["entity_id"].value_counts().iloc[0])
        threshold = auto_hot_threshold(len(right))
        if hottest <= threshold:
            raise RuntimeError(
                f"hottest entity holds {hottest} rows, not above the auto "
                f"threshold {threshold}: the hot-entity path would not run"
            )
        rng = np.random.default_rng(a.seed + 7)
        sample = np.union1d(planted, rng.choice(spine["probe_id"].to_numpy(), N_RANDOM_SAMPLE, replace=False))
        want = _expected(right, spine, sample)
    n_probes = len(spine)

    t0 = time.perf_counter()
    spark = harness.start_session()
    start_s = time.perf_counter() - t0
    # warm-up: two operations on the run's own input; the first pays the
    # cold costs, the second moves the JIT past the steepest part of its
    # curve
    t0 = time.perf_counter()
    for i in range(2):
        harness.fresh_engine_state()
        harness.evaluate(_join(spark, in_dir), os.path.join(ctx.work, f"warm{i}"))
    warmup_s = time.perf_counter() - t0
    setup_s = ctx.setup_s()

    ops, results = [], []

    def op() -> None:
        harness.fresh_engine_state()
        out = os.path.join(ctx.work, f"out{len(results)}")
        t0 = time.perf_counter()
        rows = harness.evaluate(_join(spark, in_dir), out)
        ops.append(time.perf_counter() - t0)
        results.append((out, rows))

    with harness.RssSampler() as rss:
        for _ in range(1 if a.trace else harness.op_count(a.seconds, NOMINAL_OP_S)):
            op()

    layer = {}
    if a.trace:
        tracer = harness.Tracer(spark)
        with tracer.span("sources.scan"):
            harness.evaluate(spark.read.parquet(os.path.join(in_dir, "features")))
        harness.fresh_engine_state()
        out = os.path.join(ctx.work, "out_traced")
        t0 = time.perf_counter()
        with tracer.span("operators.asof_detect"):
            joined = _join(spark, in_dir)
        with tracer.span("operators.asof_merge"):
            rows = harness.evaluate(joined, out)
        traced_s = time.perf_counter() - t0
        results.append((out, rows))
        op()  # untraced operations on both sides of the traced one
        layer = harness.asof_layer_metrics(tracer)
        layer.update(
            {
                "sources.scan_s": tracer.wall["sources.scan"],
                "sources.scan_bytes": float(in_bytes),
                "tracing_overhead_s": traced_s - harness.median(ops),
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
            }
        )

    problems = {out: _check(out, rows, n_probes, want) for out, rows in results}
    failed = sum(1 for p in problems.values() if p)
    attempted = len(results)
    op_s = harness.median(ops)
    report = {
        "workload": "asof_hot_entity",
        "host": ctx.host,
        "inputs": {
            "feature_rows": N_ROWS, "probes": n_probes, "hottest_entity_rows": hottest,
            "auto_hot_threshold": threshold, "input_bytes": in_bytes,
        },
        "setup_s": {"value": setup_s, "unit": "s"},
        "probes_per_s": {"value": n_probes / op_s, "unit": "1/s"},
        "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        "ops_failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        "op_samples_s": ops,
        "problems": {os.path.basename(k): v for k, v in problems.items() if v},
    }
    metrics = harness.result_metrics(a.trace, layer, setup_s, op_s, rss.peak)
    harness.emit(report, attempted, failed, failed == 0, metrics)
