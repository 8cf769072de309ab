"""The generators: seeded determinism, and global skew that reaches the
as-of hot-entity path."""

from __future__ import annotations

import numpy as np
import pandas as pd

import inputs
import wl_asof


def test_hot_table_exceeds_auto_threshold_at_bench_scale():
    right = inputs.hot_features_pandas(wl_asof.N_ROWS, wl_asof.N_ENTITIES, seed=5)
    counts = right["entity_id"].value_counts()
    assert counts.index[0] == 0
    assert counts.iloc[0] > wl_asof.auto_hot_threshold(len(right))
    # duplicate timestamps per entity, for as-of ties
    assert right.duplicated(["entity_id", "ts"]).any()


def test_planted_probes_straddle_every_slice_cut():
    right = inputs.hot_features_pandas(20_000, 50, seed=6)
    spine, planted = inputs.hot_spine_pandas(right, 1000, seed=7)
    hot = np.sort(right.loc[right["entity_id"] == 0, "ts"].to_numpy())
    probe_ts = spine.set_index("probe_id").loc[planted, "ts"].to_numpy()
    assert (spine.set_index("probe_id").loc[planted, "entity_id"] == 0).all()
    band = int(0.002 * len(hot)) + 2  # wider than approxQuantile's rank error
    for k in range(1, inputs.SLICES):
        r = int(k * len(hot) / inputs.SLICES)
        cut, lo, hi = hot[r], hot[r - band], hot[r + band]
        assert ((probe_ts >= lo) & (probe_ts < cut)).sum() >= 2
        assert ((probe_ts > cut) & (probe_ts <= hi + np.timedelta64(1, "us"))).sum() >= 2


def test_generators_are_seeded():
    r1 = inputs.hot_features_pandas(2000, 20, seed=1)
    r2 = inputs.hot_features_pandas(2000, 20, seed=1)
    r3 = inputs.hot_features_pandas(2000, 20, seed=2)
    pd.testing.assert_frame_equal(r1, r2)
    assert not r1["ts"].equals(r3["ts"])
    s1, p1 = inputs.hot_spine_pandas(r1, 500, seed=4)
    s2, p2 = inputs.hot_spine_pandas(r2, 500, seed=4)
    pd.testing.assert_frame_equal(s1, s2)
    assert np.array_equal(p1, p2)
