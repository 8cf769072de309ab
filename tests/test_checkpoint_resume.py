"""Resume contract (SURVEY.md §5): kill after k partitions, restart,
output identical to a one-shot run; completed partitions are not rewritten;
a changed input snapshot invalidates the checkpoint."""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest

from query_cost_feature_engineering_spark.runtime.checkpoint import (
    completed_partitions,
    write_resumable,
)

N_BUCKETS = 4


@pytest.fixture()
def events_df(spark, tmp_path):
    src = str(tmp_path / "src")
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df.write.mode("overwrite").parquet(src)
    return spark.read.parquet(src), src


def _read_sorted(spark, path) -> pd.DataFrame:
    pdf = spark.read.parquet(path).drop("part_id").toPandas()
    return pdf.sort_values("event_id").reset_index(drop=True)


def test_crash_resume_identical(spark, events_df, tmp_path):
    df, src = events_df
    out_crash = str(tmp_path / "out_crash")
    out_clean = str(tmp_path / "out_clean")

    write_resumable(df, out_clean, "user_id", N_BUCKETS, [src])

    with pytest.raises(RuntimeError, match="simulated crash"):
        write_resumable(df, out_crash, "user_id", N_BUCKETS, [src], fail_after=2)
    done_mid = completed_partitions(out_crash)
    assert len(done_mid) == 2

    # resume: only the remaining partitions run; survivors untouched
    mtimes_before = {
        p: p.stat().st_mtime
        for d in done_mid
        for p in (Path(out_crash) / f"part_id={d}").glob("*.parquet")
    }
    res = write_resumable(df, out_crash, "user_id", N_BUCKETS, [src])
    assert sorted(res["skipped"]) == sorted(done_mid)
    assert sorted(res["written"] + res["skipped"]) == list(range(N_BUCKETS))
    for p, m in mtimes_before.items():
        assert p.stat().st_mtime == m, f"completed partition rewritten: {p}"

    pd.testing.assert_frame_equal(
        _read_sorted(spark, out_crash), _read_sorted(spark, out_clean)
    )

    # idempotent: a third run is a full no-op
    res2 = write_resumable(df, out_crash, "user_id", N_BUCKETS, [src])
    assert res2["written"] == []


def test_manifest_lineage_and_metrics(spark, events_df, tmp_path):
    df, src = events_df
    out = str(tmp_path / "out")
    res = write_resumable(df, out, "user_id", N_BUCKETS, [src])
    read_back = {
        r["part_id"]: r["count"]
        for r in spark.read.parquet(out).groupBy("part_id").count().collect()
    }
    total_rows = 0
    for p in range(N_BUCKETS):
        rec = json.loads((Path(out) / "_manifest" / f"part={p}.json").read_text())
        assert rec["input_fingerprint"] == res["fingerprint"]
        assert rec["input_paths"] == [src]
        assert rec["rows"] > 0 and rec["bytes"] > 0
        assert rec["rows"] == read_back[p]
        total_rows += rec["rows"]
    assert total_rows == df.count()


def test_write_runs_only_its_write_job(spark, events_df, tmp_path, count_jobs):
    """Manifest row counts are observed on the write job: a shuffle-free
    input costs exactly one Spark job, with no read-back of the output."""
    df, src = events_df
    out = str(tmp_path / "out")
    assert count_jobs(lambda: write_resumable(df, out, "user_id", N_BUCKETS, [src])) == 1


def test_changed_input_invalidates(spark, events_df, tmp_path):
    df, src = events_df
    out = str(tmp_path / "out")
    write_resumable(df, out, "user_id", N_BUCKETS, [src])
    # touch the input → new fingerprint → full recompute
    f = next(Path(src).glob("*.parquet"))
    f.touch()
    import os
    import time
    os.utime(f, (time.time() + 10, time.time() + 10))
    res = write_resumable(df, out, "user_id", N_BUCKETS, [src])
    assert sorted(res["written"]) == list(range(N_BUCKETS))


def test_changed_bucketing_invalidates(spark, events_df, tmp_path):
    """A manifest committed under a different n_buckets or bucket_col is a
    different hash space — resuming over it must recompute, not skip."""
    df, src = events_df
    out = str(tmp_path / "out_bkt")
    write_resumable(df, out, "user_id", N_BUCKETS, [src])
    assert len(completed_partitions(out, bucket_col="user_id",
                                    n_buckets=N_BUCKETS)) == N_BUCKETS
    # different bucket count: nothing counts as done
    r = write_resumable(df, out, "user_id", N_BUCKETS * 2, [src])
    assert r["skipped"] == [] and len(r["written"]) == N_BUCKETS * 2
    # different bucket key over the new layout: again recomputed
    r2 = write_resumable(df, out, "event_id", N_BUCKETS * 2, [src])
    assert r2["skipped"] == [] and len(r2["written"]) == N_BUCKETS * 2
