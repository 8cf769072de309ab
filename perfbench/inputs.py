"""Seeded input generators. The same seed gives byte-identical tables;
the engine only ever sees the parquet files written here.

- ``write_job_inputs``: the FIXTURES F1 image table and F2 spine, from the
  engine's own single-process generators (one hot entity with ~20% of
  rows, which at job scale stays far below the as-of hot threshold).
- ``write_hot_features``: a feature table with the job's output schema
  and GLOBAL skew — one entity holds 20% of all rows — plus an F2-mix
  probe spine with probes planted on both sides of every time-slice cut.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_FEATURES = 160


def _write(df: pd.DataFrame, path: str, files: int) -> int:
    """Write ``df`` as ``files`` parquet files under ``path``, timestamps
    in UTC-adjusted microseconds like a Spark-written table. Returns bytes
    written."""
    os.makedirs(path, exist_ok=True)
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").dt.tz_localize("UTC")
    table = pa.Table.from_pandas(df, preserve_index=False)
    nbytes = 0
    bounds = np.linspace(0, len(df), files + 1).astype(int)
    for i in range(files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        nbytes += os.path.getsize(f)
    return nbytes


# ---------------------------------------------------------------------------
# pipeline_job
# ---------------------------------------------------------------------------

def write_job_inputs(root: str, n_images: int, n_probes: int, seed: int, files: int):
    """F1 images + F2 spine. Returns (images_pdf, spine_pdf, input_bytes)."""
    from query_cost_feature_engineering_spark.sources.images import (
        generate_images_pandas,
        generate_spine_pandas,
    )

    images = generate_images_pandas(n_images, n_entities=max(n_images // 40, 8), seed=seed)
    spine = generate_spine_pandas(images, n=n_probes, seed=seed + 1)
    nbytes = _write(images, os.path.join(root, "images"), files)
    nbytes += _write(spine, os.path.join(root, "spine"), max(files // 2, 1))
    return images, spine, nbytes


# ---------------------------------------------------------------------------
# asof_hot_entity
# ---------------------------------------------------------------------------

BASE_US = 1_577_836_800_000_000  # 2020-01-01T00:00:00Z
HOT_SHARE = 0.20
SLICES = 32  # the operator's default time slices for hot entities


def hot_features_pandas(n_rows: int, n_entities: int, seed: int) -> pd.DataFrame:
    """Feature table with the job's schema. Entity 0 holds exactly
    ``HOT_SHARE`` of the rows; the rest follow a Zipf-like law. Per-entity
    clocks step 5-300 s, with 5% duplicate timestamps and 10% >1 h gaps
    (new session); rows arrive shuffled."""
    rng = np.random.default_rng(seed)
    n_hot = int(round(n_rows * HOT_SHARE))
    w = 1.0 / np.arange(1, n_entities) ** 0.8
    cold = rng.choice(np.arange(1, n_entities), size=n_rows - n_hot, p=w / w.sum())
    ent = np.concatenate([np.zeros(n_hot, dtype=np.int64), cold.astype(np.int64)])
    kind = rng.random(n_rows)
    step = np.where(
        kind < 0.05, 0, np.where(kind < 0.15, rng.integers(3600, 7200, n_rows), rng.integers(5, 300, n_rows))
    ).astype(np.int64)
    order = np.argsort(ent, kind="stable")
    ent, step = ent[order], step[order]
    first = np.r_[True, ent[1:] != ent[:-1]]
    step[first] = rng.integers(0, 600, first.sum())
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n_rows), 0))
    csum = np.cumsum(step)
    clock = csum - csum[grp_start] + step[grp_start]
    ts_us = BASE_US + ent * 1_000_000 + clock * 1_000_000
    new_sess = first | (step >= 3600)
    scum = np.cumsum(new_sess)
    session = scum - scum[grp_start] + 1
    # features: identity bits, token counts and a few stats — the shape
    # (and repetitiveness) of the job's vectors
    feats = rng.integers(0, 4, size=(n_rows, N_FEATURES)).astype(np.float64)
    feats[:, :16] = np.round(rng.random((n_rows, 16)) * 255.0, 3)
    df = pd.DataFrame(
        {
            "image_id": [f"img{i:08d}" for i in range(n_rows)],
            "entity_id": ent,
            "ts": pd.to_datetime(ts_us, unit="us"),
            "session_id": session.astype(np.int64),
            "features": list(feats),
        }
    )
    perm = np.random.default_rng(seed + 1).permutation(n_rows)
    return df.iloc[perm].reset_index(drop=True)


def hot_spine_pandas(right: pd.DataFrame, n_probes: int, seed: int):
    """F2 probe mix (30% exact, 40% between rows, 15% before-first, 15%
    after-last, 5% absent entities), plus hot-entity probes planted on
    both sides of each of the 31 time-slice quantiles (the operator cuts
    at approximate quantiles, so a band of ranks around each exact one is
    covered). Returns (spine, planted probe ids)."""
    rng = np.random.default_rng(seed)
    ent = right["entity_id"].to_numpy()
    ts = right["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
    idx = rng.integers(0, len(right), size=n_probes)
    mode = rng.random(n_probes)
    e, t = ent[idx].copy(), ts[idx].copy()
    jitter = rng.integers(1, 240, size=n_probes) * 1_000_000
    t = np.where((mode >= 0.30) & (mode < 0.70), t + jitter, t)
    t = np.where((mode >= 0.70) & (mode < 0.85), t - 10_000 * 1_000_000, t)
    t = np.where(mode >= 0.85, t + 100_000 * 1_000_000, t)
    e = np.where(rng.random(n_probes) < 0.05, e + 1_000_000, e)

    hot_ts = np.sort(ts[ent == 0])
    n = len(hot_ts)
    band = max(int(0.002 * n), 2) + 2
    planted = []
    for k in range(1, SLICES):
        r = int(k * n / SLICES)
        for off in (-band, -band // 2, -1, 0, 1, band // 2, band):
            v = hot_ts[min(max(r + off, 0), n - 1)]
            planted += [v, v + 1]  # at a row, and just after it
    planted = np.asarray(planted, dtype=np.int64)
    e = np.concatenate([e, np.zeros(len(planted), dtype=np.int64)])
    t = np.concatenate([t, planted])
    spine = pd.DataFrame(
        {
            "entity_id": e.astype(np.int64),
            "ts": pd.to_datetime(t, unit="us"),
            "probe_id": np.arange(len(e), dtype=np.int64),
        }
    )
    return spine, spine["probe_id"].to_numpy()[n_probes:]


def write_hot_features(root: str, n_rows: int, n_entities: int, n_probes: int, seed: int, files: int):
    right = hot_features_pandas(n_rows, n_entities, seed)
    spine, planted = hot_spine_pandas(right, n_probes, seed + 1)
    nbytes = _write(right, os.path.join(root, "features"), files)
    nbytes += _write(spine, os.path.join(root, "spine"), max(files // 2, 1))
    return right, spine, planted, nbytes
