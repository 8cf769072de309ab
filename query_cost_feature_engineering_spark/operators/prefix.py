"""Distributed global running (prefix) aggregates.

``SUM(x) OVER (ORDER BY k)`` with no PARTITION BY is the classic
single-partition-window scale killer: Spark funnels every row through
one task to honor the global order. The distributed shape mirrors
``operators/rank.py``'s range-bucket rank:

1. approximate cut points over the bucketing column (pruned scan);
2. bucket id = a PURE FUNCTION of the row's value (count of cuts <=
   value) — unlike ``repartitionByRange``, whose sampled boundaries can
   differ between the totals job and the output job, value-bucketing is
   identical in every job that recomputes the lineage;
3. exact per-bucket totals (tiny) → driver → exclusive running offsets;
4. running value = per-bucket window cumsum + broadcast offset.

Cut placement only affects load balance, never correctness: rows with
equal bucket value stay together, per-bucket order + offsets reproduce
the exact global prefix. Offered for LONG values (counts, cents, token
counts): integer addition is associative bit-for-bit, so the result is
engine-exact regardless of per-bucket summation order — float prefix
sums are NOT (association order differs), quantize to ints first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.operators.rank import (
    _bucket_expr,
    adaptive_buckets,
)
from query_cost_feature_engineering_spark.runtime.statcache import (
    StatsCache,
    plan_fingerprint,
)

# (input fingerprint, bucket_col, value_cols, n_buckets, rel_err) ->
# (cuts, totals); same statistics-cache pattern as operators/rank.py.
_PREFIX_STATS_CACHE = StatsCache(maxsize=32)


def with_running_sums(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    bucket_col: str | None = None,
    n_buckets: int | None = None,
    min_buckets: int = 64,
    rel_err: float = 0.001,
) -> DataFrame:
    """Append ``run_<col>`` global running sums (and ``run_rows``) in
    ``order_cols`` order. ``order_cols`` must be a total order;
    ``value_cols`` must be integral (long). ``bucket_col`` is a numeric
    column to range-bucket on (default: the first order column; cast a
    timestamp with ``unix_micros`` first). ``n_buckets=None`` (default)
    sizes buckets from the input (``rank.adaptive_buckets`` — one
    window task per ~256 MB, floored at ``min_buckets``) so the stage's
    parallelism grows with the data instead of being a constant."""
    bucket_col = bucket_col or order_cols[0]
    if n_buckets is None:
        n_buckets = adaptive_buckets(df, floor=min_buckets)
    fp = plan_fingerprint(df)
    ckey = (
        (fp, bucket_col, tuple(value_cols), n_buckets, rel_err)
        if fp is not None
        else None
    )

    def stats():
        qs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = sorted(set(df.stat.approxQuantile(bucket_col, qs, rel_err)))
        b = df.withColumn("_rs_bkt", _bucket_expr(bucket_col, cuts))
        totals = {
            r["_rs_bkt"]: [r[f"t_{c}"] for c in value_cols] + [r["t_rows"]]
            for r in b.groupBy("_rs_bkt")
            .agg(
                *[F.sum(c).cast("long").alias(f"t_{c}") for c in value_cols],
                F.count(F.lit(1)).alias("t_rows"),
            )
            .collect()
        }
        return cuts, totals

    cuts, totals = _PREFIX_STATS_CACHE.get_or_compute(ckey, stats)
    b = df.withColumn("_rs_bkt", _bucket_expr(bucket_col, cuts))
    rows, acc = [], [0] * (len(value_cols) + 1)
    for k in sorted(totals):
        rows.append((k, *acc))
        acc = [a + t for a, t in zip(acc, totals[k])]
    off_df = df.sparkSession.createDataFrame(
        rows,
        "_rs_bkt int, "
        + ", ".join(f"_off_{c} long" for c in value_cols)
        + ", _off_rows long",
    )

    w = (
        Window.partitionBy("_rs_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = b.join(F.broadcast(off_df), "_rs_bkt")
    for c in value_cols:
        out = out.withColumn(
            f"run_{c}",
            (F.col(f"_off_{c}") + F.sum(F.col(c).cast("long")).over(w)).cast(
                "long"
            ),
        )
    out = out.withColumn(
        "run_rows",
        (F.col("_off_rows") + F.count(F.lit(1)).over(w)).cast("long"),
    )
    drop = ["_rs_bkt", "_off_rows"] + [f"_off_{c}" for c in value_cols]
    return out.drop(*drop)
