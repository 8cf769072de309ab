"""As-of join: both strategies vs a pandas.merge_asof oracle, plus the
FIXTURES.md F5 boundary and skew probes."""

import numpy as np
import pandas as pd
import pytest

from query_cost_feature_engineering_spark.operators.asof import (
    asof_join_pandas_merge,
    asof_join_union_window,
)

VALUE_COLS = ["px", "image_id"]


def _prep(images_pdf):
    right = images_pdf[["entity_id", "ts", "image_id"]].copy()
    right["px"] = images_pdf["w"].astype(float) * images_pdf["h"].astype(float)
    return right


def _oracle(spine_pdf, right):
    lo = spine_pdf.sort_values("ts", kind="mergesort")
    ro = right.sort_values(["ts", "image_id"], kind="mergesort")
    out = pd.merge_asof(
        lo, ro[["entity_id", "ts"] + VALUE_COLS],
        on="ts", by="entity_id", direction="backward", allow_exact_matches=True,
    )
    return out.sort_values("probe_id").reset_index(drop=True)


def _check(got_pdf, want):
    got = got_pdf.sort_values("probe_id").reset_index(drop=True)
    assert len(got) == len(want)
    assert np.allclose(
        got["px"].to_numpy(float), want["px"].to_numpy(float), equal_nan=True
    )
    assert (
        got["image_id"].fillna("∅") == want["image_id"].fillna("∅")
    ).all()


@pytest.fixture(scope="module")
def frames(spark, images_pdf, spine_pdf):
    right = _prep(images_pdf)
    return (
        spark.createDataFrame(spine_pdf),
        spark.createDataFrame(right),
        _oracle(spine_pdf, right),
    )


def test_union_window_matches_merge_asof(frames):
    spine_sdf, right_sdf, want = frames
    got = asof_join_union_window(
        spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id"
    ).toPandas()
    _check(got, want)


def test_pandas_merge_matches_merge_asof(frames):
    spine_sdf, right_sdf, want = frames
    got = asof_join_pandas_merge(
        spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id",
        num_buckets=8,
    ).toPandas()
    _check(got, want)


def test_boundary_and_skew_probe(frames):
    """Force the hot path: tiny hot_threshold makes EVERY entity hot, so all
    probes go through time-slicing + carry-forward; few slices force probes
    to depend on carried rows across slice boundaries."""
    spine_sdf, right_sdf, want = frames
    got = asof_join_pandas_merge(
        spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id",
        num_buckets=4, hot_threshold=1, slices=5,
    ).toPandas()
    _check(got, want)


def test_strict_mode_excludes_exact_matches(spark, images_pdf, spine_pdf):
    right = _prep(images_pdf)
    lo = spine_pdf.sort_values("ts", kind="mergesort")
    ro = right.sort_values(["ts", "image_id"], kind="mergesort")
    want = (
        pd.merge_asof(
            lo, ro[["entity_id", "ts"] + VALUE_COLS],
            on="ts", by="entity_id", direction="backward",
            allow_exact_matches=False,
        )
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    spine_sdf = spark.createDataFrame(spine_pdf)
    right_sdf = spark.createDataFrame(right)
    for fn, kw in [
        (asof_join_union_window, {}),
        (asof_join_pandas_merge, {"num_buckets": 4, "hot_threshold": 1, "slices": 4}),
    ]:
        got = fn(
            spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id",
            allow_exact_matches=False, **kw,
        ).toPandas()
        _check(got, want)


def test_duplicate_ts_tie_takes_last_by_tiebreak(spark):
    right = pd.DataFrame(
        {
            "entity_id": [1, 1, 1],
            "ts": pd.to_datetime(["2020-01-01", "2020-01-01", "2020-01-02"]),
            "image_id": ["a", "b", "c"],
            "px": [1.0, 2.0, 3.0],
        }
    )
    spine = pd.DataFrame(
        {
            "entity_id": [1, 1],
            "ts": pd.to_datetime(["2020-01-01", "2020-01-03"]),
            "probe_id": [0, 1],
        }
    )
    for fn, kw in [
        (asof_join_union_window, {}),
        (asof_join_pandas_merge, {"num_buckets": 2}),
    ]:
        got = (
            fn(
                spark.createDataFrame(spine),
                spark.createDataFrame(right),
                value_cols=["px", "image_id"],
                tiebreak="image_id",
                **kw,
            )
            .toPandas()
            .sort_values("probe_id")
        )
        assert got["image_id"].tolist() == ["b", "c"], fn.__name__
        assert got["px"].tolist() == [2.0, 3.0], fn.__name__


def test_auto_threshold_slices_hot_entity(spark, monkeypatch):
    """No ``hot_threshold``: an entity above the 10,000-row floor of the
    auto threshold is detected and time-sliced (rows land in buckets at or
    above ``num_buckets``), and the result still equals merge_asof."""
    from query_cost_feature_engineering_spark.runtime.statcache import clear_all

    rng = np.random.default_rng(7)
    n_hot, n_buckets = 12_000, 8
    right_pdf = pd.DataFrame(  # one row per (entity, ts): no ties to break
        {
            "entity_id": [0] * n_hot + [e for e in range(1, 10) for _ in range(40)],
            "ts": np.concatenate(
                [np.arange(n_hot), np.tile(np.arange(40) * 300, 9)]
            ).astype(float),
        }
    )
    right_pdf["val"] = np.arange(len(right_pdf))
    left_pdf = pd.DataFrame(
        {
            "entity_id": rng.integers(0, 11, 600),
            "ts": rng.uniform(-50, n_hot + 50, 600),
        }
    )
    left_pdf["probe_id"] = np.arange(len(left_pdf))

    cogrouped = []
    df_cls = type(spark.range(1))
    group_by = df_cls.groupBy

    def spy(self, *cols):
        if cols == ("_bkt",):
            cogrouped.append(self)
        return group_by(self, *cols)

    monkeypatch.setattr(df_cls, "groupBy", spy)
    clear_all()
    got = asof_join_pandas_merge(
        spark.createDataFrame(left_pdf),
        spark.createDataFrame(right_pdf),
        value_cols=["val"],
        num_buckets=n_buckets,
        slices=6,
    ).toPandas()
    monkeypatch.undo()

    lb, rb = cogrouped
    for side in (lb, rb):
        assert side.filter(side["_bkt"] >= n_buckets).count() > 0
    want = pd.merge_asof(
        left_pdf.sort_values("ts", kind="mergesort"),
        right_pdf.sort_values(["ts", "val"], kind="mergesort"),
        on="ts", by="entity_id", direction="backward",
    ).sort_values("probe_id").reset_index(drop=True)
    got = got.sort_values("probe_id").reset_index(drop=True)
    assert len(got) == len(want)
    assert np.allclose(
        got["val"].to_numpy(float), want["val"].to_numpy(float), equal_nan=True
    )


def test_detection_without_hot_keys_runs_one_count_job(spark, frames, count_jobs):
    """Skew detection that finds no hot entity costs exactly the jobs of
    one per-entity ``groupBy(...).toPandas()`` (2 under AQE); nothing is
    persisted and no separate total is collected."""
    from query_cost_feature_engineering_spark.runtime.statcache import clear_all

    spine_sdf, right_sdf, _ = frames
    clear_all()
    detect = count_jobs(
        lambda: asof_join_pandas_merge(
            spine_sdf, right_sdf, value_cols=VALUE_COLS, tiebreak="image_id",
            num_buckets=8,
        )
    )
    one_count = count_jobs(
        lambda: right_sdf.groupBy("entity_id").count().toPandas()
    )
    assert detect == one_count


def test_hot_path_plan_has_no_python_fed_scan(spark):
    """The carry-forward lattice of the hot path is a JVM range: with
    JVM-only inputs, the physical plan scans no Python-fed RDD."""
    from pyspark.sql import functions as F

    right = spark.range(2000).select(
        (F.col("id") % 3).alias("entity_id"),
        F.col("id").cast("double").alias("ts"),
        F.col("id").alias("val"),
    )
    left = spark.range(300).select(
        (F.col("id") % 4).alias("entity_id"),
        (F.col("id") * 7.0).alias("ts"),
        F.col("id").alias("probe_id"),
    )
    out = asof_join_pandas_merge(
        left, right, value_cols=["val"], num_buckets=4, hot_threshold=1, slices=5,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "ExistingRDD" not in plan
