"""pipeline_job: one operation is exactly ``jobs/run_pipeline.py``:
``build_features(images, spine)`` then ``runtime.checkpoint.write_resumable``
into a fresh output directory.

Output checks on every operation: output rows equal the probe count, the
manifest row sum equals the output rows, and a fixed probe sample equals
the ``golden.py`` recompute. Once per run: re-running on the same input
writes no partitions.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

import harness
import inputs

N_IMAGES = 1500
N_PROBES = 1500
N_FILES = 8
WARM_IMAGES = 256
NOMINAL_OP_S = 5.0  # one warm operation on a 4-CPU host
SAMPLE_ENTITIES = 10


def _job(ctx, in_dir: str, out_dir: str) -> dict:
    """One run_pipeline invocation (its JSON line is captured)."""
    from query_cost_feature_engineering_spark.jobs import run_pipeline

    argv = [
        "--input", os.path.join(in_dir, "images"),
        "--spine", os.path.join(in_dir, "spine"),
        "--output", out_dir,
        "--master", f"local[{ctx.host['threads']}]",
    ]
    with contextlib.redirect_stdout(io.StringIO()):
        return run_pipeline.main(argv)


def _dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def _expected_sample(images: pd.DataFrame, spine: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Golden vectors for every probe of a fixed entity sample (the hot
    entity plus ``SAMPLE_ENTITIES`` others, plus absent-entity probes),
    as-of joined in one process."""
    from query_cost_feature_engineering_spark.golden import golden_features
    from query_cost_feature_engineering_spark.plans.pipeline import FEATURE_ORDER

    rng = np.random.default_rng(seed + 7)
    ents = np.unique(images["entity_id"])
    pick = set(rng.choice(ents[ents != 0], SAMPLE_ENTITIES, replace=False).tolist()) | {0}
    gold = golden_features(images[images["entity_id"].isin(pick)])
    gold["features"] = list(gold[FEATURE_ORDER].astype(float).fillna(0.0).to_numpy())
    gold = gold.sort_values(["ts", "image_id"], kind="mergesort")
    absent = ~spine["entity_id"].isin(ents)
    probes = spine[spine["entity_id"].isin(pick) | absent].sort_values("ts", kind="mergesort")
    want = pd.merge_asof(
        probes, gold[["entity_id", "ts", "image_id", "session_id", "features"]],
        on="ts", by="entity_id", direction="backward",
    )
    return want.set_index("probe_id").sort_index()


def _check_output(out_dir: str, n_probes: int, want: pd.DataFrame) -> list[str]:
    problems = []
    manifests = list(Path(out_dir, "_manifest").glob("part=*.json"))
    man_rows = sum(json.loads(m.read_text())["rows"] for m in manifests)
    data = ds.dataset(out_dir, format="parquet", partitioning="hive")
    rows = data.count_rows()
    if rows != n_probes:
        problems.append(f"output rows {rows} != probes {n_probes}")
    if man_rows != rows:
        problems.append(f"manifest rows {man_rows} != output rows {rows}")
    got = (
        data.to_table(
            columns=["probe_id", "image_id", "session_id", "features"],
            filter=pc.field("probe_id").isin(want.index.to_numpy()),
        )
        .to_pandas()
        .set_index("probe_id")
        .sort_index()
    )
    if len(got) != len(want):
        return problems + [f"sample rows {len(got)} != {len(want)}"]
    for pid, w in want.iterrows():
        g = got.loc[pid]
        if pd.isna(w["image_id"]):
            if g["image_id"] is not None or g["features"] is not None:
                problems.append(f"probe {pid}: expected no match")
        elif g["image_id"] != w["image_id"] or int(g["session_id"]) != int(w["session_id"]):
            problems.append(f"probe {pid}: matched {g['image_id']} want {w['image_id']}")
        elif not np.allclose(np.asarray(g["features"], float), w["features"], rtol=1e-5, atol=1e-9):
            problems.append(f"probe {pid}: feature vector differs from golden")
        if len(problems) > 5:
            break
    return problems


def _traced_job(ctx, spark, tracer: harness.Tracer, in_dir: str, out_dir: str):
    """The same run_pipeline call, with each layer's public function
    wrapped in a span that stages the layer's output as parquet at its
    boundary. Returns (wall seconds, path of the last staged output)."""
    import query_cost_feature_engineering_spark.operators.asof as asof
    import query_cost_feature_engineering_spark.operators.snapshot as snapshot
    import query_cost_feature_engineering_spark.plans.pipeline as pipeline
    import query_cost_feature_engineering_spark.runtime.checkpoint as checkpoint

    stage_root = os.path.join(ctx.work, "stages")
    n_stage = [0]

    def staged(layer, fn, merge_layer=None):
        def wrapper(*a, **kw):
            with tracer.span(layer):
                df = fn(*a, **kw)
            n_stage[0] += 1
            path = os.path.join(stage_root, f"{n_stage[0]:02d}")
            with tracer.span(merge_layer or layer):
                df.write.parquet(path)
            return spark.read.parquet(path)

        return wrapper

    def checkpoint_span(fn):
        def wrapper(*a, **kw):
            with tracer.span("runtime.checkpoint"):
                return fn(*a, **kw)

        return wrapper

    layers = {
        (pipeline, "with_basics"): "functions.jvm_features",
        (pipeline, "with_phash_bits"): "functions.jvm_features",
        (pipeline, "with_caption_features"): "functions.jvm_features",
        (pipeline, "with_image_features"): "functions.decode",
        (pipeline, "with_lag_lead"): "operators.windows",
        (pipeline, "with_backfill"): "operators.windows",
        (pipeline, "with_rolling_mean"): "operators.windows",
        (pipeline, "with_session_ids"): "operators.windows",
        (snapshot, "with_expanding_linear_fit"): "operators.windows",
        (pipeline, "assemble_vector"): "plans.assemble",
    }
    saved = {(m, n): getattr(m, n) for (m, n) in layers}
    saved[(asof, "asof_join_pandas_merge")] = asof.asof_join_pandas_merge
    saved[(checkpoint, "write_resumable")] = checkpoint.write_resumable
    try:
        for (m, n), layer in layers.items():
            setattr(m, n, staged(layer, getattr(m, n)))
        asof.asof_join_pandas_merge = staged(
            "operators.asof_detect", asof.asof_join_pandas_merge, "operators.asof_merge"
        )
        checkpoint.write_resumable = checkpoint_span(checkpoint.write_resumable)
        t0 = time.perf_counter()
        _job(ctx, in_dir, out_dir)
        return time.perf_counter() - t0, os.path.join(stage_root, f"{n_stage[0]:02d}")
    finally:
        for (m, n), fn in saved.items():
            setattr(m, n, fn)


def run(ctx) -> None:
    a = ctx.args
    in_dir = os.path.join(ctx.work, "in")
    warm_dir = os.path.join(ctx.work, "warm")
    with ctx.excluded():
        images, spine, in_bytes = inputs.write_job_inputs(in_dir, N_IMAGES, N_PROBES, a.seed, N_FILES)
        inputs.write_job_inputs(warm_dir, WARM_IMAGES, WARM_IMAGES, a.seed + 99, N_FILES)

    t0 = time.perf_counter()
    spark = harness.start_session()
    start_s = time.perf_counter() - t0
    # warm-up: a small job pays the cold costs (code generation, class
    # loading, one Python worker per file), then one job on the run's own
    # input moves the JIT past the steepest part of its curve
    t0 = time.perf_counter()
    _job(ctx, warm_dir, os.path.join(ctx.work, "warm_small"))
    harness.fresh_engine_state()
    _job(ctx, in_dir, os.path.join(ctx.work, "warm_full"))
    warmup_s = time.perf_counter() - t0
    setup_s = ctx.setup_s()

    ops, outs = [], []

    def op() -> None:
        harness.fresh_engine_state()
        out = os.path.join(ctx.work, f"out{len(outs)}")
        t0 = time.perf_counter()
        _job(ctx, in_dir, out)
        ops.append(time.perf_counter() - t0)
        outs.append(out)

    with harness.RssSampler() as rss:
        for _ in range(1 if a.trace else harness.op_count(a.seconds, NOMINAL_OP_S)):
            op()

    layer = {}
    if a.trace:
        tracer = harness.Tracer(spark)
        with tracer.span("sources.scan"):
            harness.evaluate(spark.read.parquet(os.path.join(in_dir, "images")))
        harness.fresh_engine_state()
        out = os.path.join(ctx.work, "out_traced")
        traced_s, joined = _traced_job(ctx, spark, tracer, in_dir, out)
        outs.append(out)
        from query_cost_feature_engineering_spark.runtime.checkpoint import write_resumable

        # the job's checkpoint call again: every partition is committed
        with tracer.span("runtime.checkpoint_resume"):
            write_resumable(
                spark.read.parquet(joined), out, bucket_col="entity_id", n_buckets=16,
                input_paths=[os.path.join(in_dir, "images"), os.path.join(in_dir, "spine")],
            )
        op()  # untraced operations on both sides of the traced one
        layer = _layer_metrics(tracer, traced_s - harness.median(ops), _dir_bytes(os.path.join(in_dir, "images")))
        layer["runtime.checkpoint_bytes"] = float(_dir_bytes(out))
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s

    # ---- output checks (outside all timing) ----------------------------
    want = _expected_sample(images, spine, a.seed)
    problems = {o: _check_output(o, len(spine), want) for o in outs}
    rerun = _job(ctx, in_dir, outs[-1])
    if rerun["written"]:
        problems[outs[-1]].append(f"re-run wrote partitions {rerun['written']}")
    failed = sum(1 for p in problems.values() if p)
    attempted = len(outs)
    write_amp = _dir_bytes(outs[0]) / in_bytes

    op_s = harness.median(ops)
    report = {
        "workload": "pipeline_job",
        "host": ctx.host,
        "inputs": {"images": N_IMAGES, "probes": N_PROBES, "input_bytes": in_bytes},
        "setup_s": {"value": setup_s, "unit": "s"},
        "images_per_s": {"value": N_IMAGES / op_s, "unit": "1/s"},
        "write_amp": {"value": write_amp, "unit": "ratio"},
        "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        "ops_failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        "op_samples_s": ops,
        "problems": {os.path.basename(k): v for k, v in problems.items() if v},
    }
    metrics = harness.result_metrics(a.trace, layer, setup_s, op_s, rss.peak)
    harness.emit(report, attempted, failed, failed == 0, metrics)


def _layer_metrics(tracer: harness.Tracer, overhead_s: float, scan_bytes: int) -> dict:
    win = tracer.stage_totals("operators.windows")
    decode_s = tracer.wall["functions.decode"]
    m = {
        "sources.scan_s": tracer.wall["sources.scan"],
        "sources.scan_bytes": float(scan_bytes),
        "functions.jvm_features_s": tracer.wall["functions.jvm_features"],
        "functions.decode_s": decode_s,
        "functions.decode_cpu_s": tracer.cpu["functions.decode"],
        "functions.decode_images_per_s": N_IMAGES / decode_s if decode_s else 0.0,
        "operators.windows_s": tracer.wall["operators.windows"],
        "operators.windows_shuffle_bytes": float(win.get("shuffle_write_bytes", 0)),
        "operators.windows_spill_bytes": float(win.get("spill_bytes", 0)),
        "plans.assemble_s": tracer.wall["plans.assemble"],
        "runtime.checkpoint_s": tracer.wall["runtime.checkpoint"],
        "runtime.checkpoint_jobs": float(len(tracer.jobs("runtime.checkpoint"))),
        "runtime.checkpoint_resume_s": tracer.wall["runtime.checkpoint_resume"],
        "tracing_overhead_s": overhead_s,
    }
    m.update(harness.asof_layer_metrics(tracer))
    return m
