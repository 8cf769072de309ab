"""Zero-extra-pass job metrics via Spark's Observation API.

The reference accounts workload timings by re-summing its sample
dicts after the fact (`utils/get_time.py:72-78`, ref A22/A23);
``df.observe`` attaches aggregate expressions to the SAME job that
produces the data, so counts/sums/null-rates arrive with the action —
no second scan, which at 100 TB is the difference between free
accounting and doubling the IO bill.

Two engine paths read their statistics this way: the as-of skew
detection observes the total row count on its per-entity count job
(``operators/asof.py``), and ``runtime/checkpoint.write_resumable``
observes each partition's row count on the write job itself, so its
manifests need no read-back pass. Pipeline health numbers (rows in/out,
decode failures, null fractions) attach the same way."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observe_counts(
    df: DataFrame, name: str | None = None, **exprs: Column
) -> tuple[DataFrame, Observation]:
    """Attach row count + caller aggregates to the next action on ``df``.
    Without ``name`` the observation gets a unique generated one: a plan
    may carry several observations, and two with one name fail analysis.

    Returns (df, observation); read ``observation.get`` AFTER an action
    has run. Example::

        df, obs = observe_counts(feats, null_px=F.sum(
            F.col("px_mean").isNull().cast("long")))
        df.write.parquet(out)
        obs.get  # {'rows': ..., 'null_px': ...}
    """
    obs = Observation(name)
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [c.alias(k) for k, c in exprs.items()]
    return df.observe(obs, *aggs), obs
