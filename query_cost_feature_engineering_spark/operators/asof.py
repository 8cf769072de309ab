"""Backward (point-in-time) as-of join — the engine's centerpiece operator.

Spark has no built-in as-of join (SURVEY.md §2.B), so two strategies:

1. ``asof_join_union_window`` — pure DataFrame plan: tag right rows 0 /
   left rows 1, union, and per entity take ``last(value, ignorenulls=True)``
   over ``orderBy(ts, side, tiebreak).rowsBetween(unboundedPreceding, 0)``.
   One shuffle on the entity key, whole-stage codegen, ANSI-SQL
   expressible (DuckDB ``ASOF JOIN`` verifies it). Per-entity work is
   single-partition, so a pathologically hot entity serializes — fine up
   to ~10^7 rows/entity.

2. ``asof_join_pandas_merge`` — the 100-TB path from BASELINE.json
   ``north_rule``: cogroup both sides on a hash bucket of the entity key
   and run a sorted ``pandas.merge_asof`` per bucket (Arrow batches, no
   per-row Python). Entities flagged *hot* (row count above the caller's
   ``hot_threshold``, or by default above ``max(10 000, 2·rows /
   num_buckets)``) are found by ONE job, per-entity counts whose total is
   observed on that same job, and are additionally range-sliced on time
   using global quantile cut points (``approxQuantile``), with the
   **last right row of each slice carried forward** across slice
   boundaries (ffill over the tiny entity×slice lattice) so no probe
   misses a match that lives in an earlier slice. This is the explicit
   salting/skew handling the north rule demands: a hot entity's probes
   parallelize across slices while cold entities stay on the cheap
   single-shuffle path. The skew profile (hot ids and cut points) is
   cached per input snapshot and parameters, the default threshold
   included (``runtime/statcache``).

Tie contract (matches the golden oracle and pandas.merge_asof): backward
join with exact-match allowed; among right rows sharing (entity, ts) the
last by ``tiebreak`` wins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from query_cost_feature_engineering_spark.runtime.metrics import observe_counts
from query_cost_feature_engineering_spark.runtime.statcache import (
    StatsCache,
    plan_fingerprint,
)

_SLICES = 32  # time slices for hot entities
# the auto hot threshold is max(_HOT_FLOOR, 2 * rows / num_buckets)
_HOT_FLOOR = 10_000
# beyond this many hot ids, membership tests use a broadcast join
# instead of `isin` literals (plan size stays O(1) in hot-key count)
_HOT_LITERAL_CAP = 1000

# (input fingerprint, keys, hot_threshold (None = auto), num_buckets,
# slices) -> (sorted hot ids, slice cuts); see asof_join_pandas_merge
_SKEW_PROFILE_CACHE = StatsCache(maxsize=64)


def _with_hot_flag(df, key, hot_sorted, key_type):
    """Add boolean ``_hot``: is ``key`` one of ``hot_sorted``? Few hot
    keys (the usual definition of skew) are embedded as ``isin`` literals,
    the cheapest plan. A heavy-tailed key space can push 10^4+ entities
    over threshold, and a literal list that size bloats the plan string
    linearly, so above ``_HOT_LITERAL_CAP`` membership is a broadcast
    join against a tiny hot-key frame: plan size stays O(1)."""
    if len(hot_sorted) <= _HOT_LITERAL_CAP:
        return df.withColumn("_hot", F.col(key).isin(hot_sorted))
    hot_df = df.sparkSession.createDataFrame(
        [(k, True) for k in hot_sorted],
        T.StructType(
            [
                T.StructField("_hot_key", key_type),
                T.StructField("_hot", T.BooleanType()),
            ]
        ),
    )
    return (
        df.join(F.broadcast(hot_df), F.col(key) == F.col("_hot_key"), "left")
        .withColumn("_hot", F.col("_hot").isNotNull())
        .drop("_hot_key")
    )


def _ts_double(df: DataFrame, col: str) -> F.Column:
    t = df.schema[col].dataType.typeName()
    c = F.col(col)
    return c.cast("timestamp").cast("double") if t.startswith("timestamp") else c.cast("double")


def asof_join_union_window(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity_id",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, by, tiebreak)
    ]
    lcols = left.columns
    tb = (
        F.col(tiebreak)
        if tiebreak and tiebreak in right.columns
        else F.lit(None).cast("string")
    )
    # exact-match control: with exact matches allowed, right rows sort
    # BEFORE left rows at equal ts (visible to them); strict mode flips the
    # order so equal-ts right rows are invisible to the probe
    r_side, l_side = (0, 1) if allow_exact_matches else (1, 0)
    r = right.select(
        F.col(by),
        F.col(on),
        F.lit(r_side).alias("_side"),
        tb.cast("string").alias("_tb"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
    )
    lt = left.select(
        F.col(by),
        F.col(on),
        F.lit(l_side).alias("_side"),
        F.lit(None).cast("string").alias("_tb"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_v_{c}")
            for c in value_cols
        ],
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
    )
    u = r.unionByName(lt)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on), F.col("_side"), F.col("_tb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in value_cols:
        u = u.withColumn(f"_v_{c}", F.last(f"_v_{c}", ignorenulls=True).over(w))
    out = u.filter(F.col("_side") == F.lit(l_side)).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col(f"_v_{c}").alias(c) for c in value_cols],
    )
    return out


def asof_join_pandas_merge(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity_id",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
    num_buckets: int = 32,
    hot_threshold: int | None = None,
    slices: int = _SLICES,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Cogrouped sorted-merge as-of with hot-entity time-slicing."""
    spark = left.sparkSession
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, by, tiebreak)
    ]
    rsel = list(dict.fromkeys([by, on] + value_cols + ([tiebreak] if tiebreak else [])))
    # Alias every right column: breaks attribute lineage shared with `left`
    # (a self-cogroup over the same scan otherwise dedups the right side's
    # key attribute and the pandas frame arrives without it) and guarantees
    # distinct names inside merge_asof.
    rpre = "__r_"
    right = right.select(*[F.col(c).alias(f"{rpre}{c}") for c in rsel])
    rby, ron = f"{rpre}{by}", f"{rpre}{on}"
    rtb = f"{rpre}{tiebreak}" if tiebreak else None

    # --- skew detection: entities above threshold get time-sliced ---------
    # Detection runs on a key-only projection: Catalyst column-prunes the
    # upstream plan, so expensive feature UDFs (image decode) are NOT
    # evaluated for these statistics passes — only the final merge pays.
    # The threshold needs ONE job: per-entity counts, with their total
    # observed on the same job (runtime/metrics), of which only the
    # candidates above hot_threshold (or, for the auto threshold, above
    # its _HOT_FLOOR) cross to the driver. The auto threshold
    # max(_HOT_FLOOR, 2·total/num_buckets) is never below that floor, so
    # filtering the candidates on the driver gives the hot set exactly.
    # Slice cut points come from the hot entities' timestamps only: they
    # are what the slicing balances, and cold keys would dilute the cuts.
    #
    # Skew-profile cache: the detection statistics are a pure function of
    # the right-side INPUT + parameters, so re-running the same join
    # (bench reps, a pipeline invoked repeatedly over an unchanged
    # snapshot) reuses the profile instead of paying the detection jobs
    # again — the statistics-cache pattern. Keyed by the content-aware
    # plan fingerprint (semanticHash + input-file listing hash, see
    # runtime/statcache.py) so rewriting data at the same path misses.
    rkeys = right.select(rby, ron)
    key_type = right.schema[rby].dataType
    fp = plan_fingerprint(right)
    cache_key = (
        (fp, by, on, hot_threshold, num_buckets, slices)
        if fp is not None
        else None
    )

    def detect() -> tuple[list, list]:
        floor = _HOT_FLOOR if hot_threshold is None else hot_threshold
        counts, obs = observe_counts(
            rkeys.groupBy(rby).agg(F.count(F.lit(1)).alias("_cnt")),
            total=F.sum("_cnt"),
        )
        cand = counts.filter(F.col("_cnt") > floor).toPandas()
        total = obs.get["total"] or 0
        threshold = (
            max(_HOT_FLOOR, total // max(num_buckets, 1) * 2)
            if hot_threshold is None
            else hot_threshold
        )
        hot_sorted = sorted(cand.loc[cand["_cnt"] > threshold, rby].tolist())
        cuts = []
        if hot_sorted:
            hkeys = _with_hot_flag(rkeys, rby, hot_sorted, key_type)
            hkeys = hkeys.filter(F.col("_hot")).withColumn(
                "_tsd", _ts_double(hkeys, ron)
            )
            q = [i / slices for i in range(1, slices)]
            cuts = hkeys.approxQuantile("_tsd", q, 0.001)
        return hot_sorted, cuts

    hot_sorted, cuts = _SKEW_PROFILE_CACHE.get_or_compute(cache_key, detect)

    def with_bucket(df: DataFrame, key: str, tscol: str) -> DataFrame:
        base = F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets))
        if not hot_sorted:
            return df.withColumn("_bkt", base.cast("int"))
        df = _with_hot_flag(df, key, hot_sorted, key_type)
        tsd = _ts_double(df, tscol)
        slice_id = F.lit(0)
        for i, c in enumerate(cuts):
            slice_id = F.when(tsd > F.lit(c), F.lit(i + 1)).otherwise(slice_id)
        return df.withColumn(
            "_bkt",
            F.when(F.col("_hot"), F.lit(num_buckets) + slice_id)
            .otherwise(base)
            .cast("int"),
        ).drop("_hot")

    lb = with_bucket(left, by, on)
    rb = with_bucket(right, rby, ron)

    # Carry-forward: last right row of each hot (entity, slice), replicated
    # into every later slice (keeping its true ts) so no probe in a later
    # slice misses a match that lives in an earlier one.
    if hot_sorted:
        last_per_slice = (
            _with_hot_flag(rb, rby, hot_sorted, key_type)
            .filter(F.col("_hot"))
            .drop("_hot")
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(rby, "_bkt").orderBy(
                        F.col(ron).desc(),
                        *([F.col(rtb).desc()] if rtb else []),
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # propagate each slice's closer into every later slice (slices is
        # small and hot entities are few, so this stays tiny); the slice
        # ids come from a JVM range, not a Python-fed RDD scan
        lattice = spark.range(num_buckets, num_buckets + slices).select(
            F.col("id").cast("int").alias("_tgt")
        )
        carries = (
            last_per_slice.crossJoin(F.broadcast(lattice))
            .filter(F.col("_tgt") > F.col("_bkt"))
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy(rby, "_tgt").orderBy(F.col("_bkt").desc())
                ),
            )
            .filter(F.col("_rk") == 1)
            .drop("_bkt", "_rk")
            .withColumnRenamed("_tgt", "_bkt")
        )
        rb = rb.unionByName(carries)

    out_schema = T.StructType(
        list(left.schema.fields)
        + [
            T.StructField(c, right.schema[f"{rpre}{c}"].dataType, True)
            for c in value_cols
        ]
    )
    lcols = left.columns
    rvals = [f"{rpre}{c}" for c in value_cols]
    sort_r = [ron] + ([rtb] if rtb else [])

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.drop(columns=["_bkt"]).sort_values(on, kind="mergesort")
        if lpdf.empty:
            return pd.DataFrame(columns=lcols + value_cols)
        rpdf = rpdf.drop(columns=["_bkt"]).sort_values(sort_r, kind="mergesort")
        if rpdf.empty:
            out = lpdf.copy()
            for c in value_cols:
                out[c] = None
            return out[lcols + value_cols]
        merged = pd.merge_asof(
            lpdf,
            rpdf[[rby, ron] + rvals],
            left_on=on,
            right_on=ron,
            left_by=by,
            right_by=rby,
            direction="backward",
            allow_exact_matches=allow_exact_matches,
        )
        merged = merged[lcols + rvals]
        merged.columns = lcols + value_cols
        # unmatched probes: merge_asof fills float NaN even for object
        # columns (arrays/strings) — Arrow needs real None there
        for c in value_cols:
            if merged[c].dtype == object:
                merged.loc[merged[c].isna(), c] = None
        return merged

    return (
        lb.groupBy("_bkt")
        .cogroup(rb.groupBy("_bkt"))
        .applyInPandas(merge, schema=out_schema)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "entity_id",
    value_cols: list[str] | None = None,
    tiebreak: str | None = None,
    strategy: str = "union_window",
    **kw,
) -> DataFrame:
    if strategy == "union_window":
        return asof_join_union_window(left, right, on, by, value_cols, tiebreak)
    if strategy == "pandas_merge":
        return asof_join_pandas_merge(left, right, on, by, value_cols, tiebreak, **kw)
    raise ValueError(strategy)
