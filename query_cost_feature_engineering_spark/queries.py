"""Driver-contract query registry: Spark implementations.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names/types match the DuckDB oracle in ``oracles.py`` exactly
(the driver compares row counts, schema, and order-insensitive value
hashes). Float aggregates are rounded on BOTH sides to absorb
partial-aggregation ordering differences.

Coverage map (SURVEY.md §2.B + training-data ops): scans/predicates,
joins (broadcast + sort-merge), aggregation, windows (lag/lead,
backfill, rolling, sessionize, top-k), set ops, as-of join (both
strategies), snapshot linear fits, normalization, hash split, exact /
minhash-LSH / simhash / n-gram-jaccard / embedding dedup, cosine top-k
similarity, text analysis, and the image feature pipeline (rows-only:
the synthetic image table is not visible to the SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.operators.asof import (
    asof_join_pandas_merge,
    asof_join_union_window,
)
from query_cost_feature_engineering_spark.operators.snapshot import (
    fit_linear_by_group,
    normalize_by_group,
)
from query_cost_feature_engineering_spark.operators.split import (
    hash_split,
    stratified_hash_sample,
)
from query_cost_feature_engineering_spark.operators.windows import (
    with_backfill,
    with_lag_lead,
    with_rolling_mean,
    with_rolling_time_aggs,
    with_session_ids,
)
from query_cost_feature_engineering_spark.runtime.statcache import (
    StatsCache,
    plan_fingerprint,
)

R = 4  # shared rounding for float aggregates

_WORKDIR: list[str] = []


def _workdir() -> str:
    """One per-process scratch dir (log fixtures, staged stream inputs),
    removed at interpreter exit — replaces the round-1 mktemp/mkdtemp
    leaks that accumulated across bench/harness runs."""
    if not _WORKDIR:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="qcfe_work_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _WORKDIR.append(d)
    return _WORKDIR[0]


def _rq(c, n: int = R):
    """Round for oracle comparison, nudged off half-way boundaries.

    Spark rounds HALF_UP, DuckDB HALF_EVEN; decimal-valued inputs make
    exact .5 boundaries common. Both engines apply the same +1e-(n+5)
    nudge so they always land in the same bucket."""
    if isinstance(c, str):
        c = F.col(c)
    return F.round(c + F.lit(10.0 ** -(n + 5)), n)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational layer (TPC-H-ish; ref §2.B scans/joins/aggs/sort)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _rq(F.sum("l_quantity")).alias("sum_qty"),
            _rq(F.sum("l_extendedprice")).alias("sum_base_price"),
            _rq(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price"),
            _rq(F.avg("l_quantity")).alias("avg_qty"),
            _rq(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    agg = j.groupBy("o_orderkey", "o_orderdate").agg(
        _rq(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        )
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey")).limit(10)


def q5_local_supplier_volume(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        _rq(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        )
    )


def predicate_scan_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_type").like("ECO%")
        & F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3", "Brand#17")
        & (F.col("p_retailprice") >= 500.0)
    ).select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")


def set_ops_nations(spark, sf_dir):
    cn = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sn = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = cn.intersect(sn).withColumn("tag", F.lit("both"))
    cust_only = cn.distinct().exceptAll(sn.distinct()).withColumn(
        "tag", F.lit("cust_only")
    )
    return both.unionByName(cust_only).select("tag", "nationkey")


def topk_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def deciles_orders(spark, sf_dir):
    """ntile decile assignment + per-decile stats over order totals.

    Value-identical to ``ntile(10) OVER (ORDER BY ...)`` but computed via
    the distributed range-bucket rank (operators/rank.py) — no global
    single-partition Window in the plan (the round-1 scale defect)."""
    from query_cost_feature_engineering_spark.operators.rank import with_ntile

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    return (
        with_ntile(o, 10, "o_totalprice", ["o_orderkey"], out_col="decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _rq(F.min("o_totalprice")).alias("lo"),
            _rq(F.max("o_totalprice")).alias("hi"),
            _rq(F.avg("o_totalprice")).alias("mean"),
        )
    )


def dedup_events_exact(spark, sf_dir):
    """Exact dedup on the stream table: one survivor (min event_id) per
    (user_id, ts, event_type) key."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "ts", "event_type")
        .agg(
            F.min("event_id").alias("keep_event_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") >= 1)
    )


def pivot_user_event_counts(spark, sf_dir):
    """Pivot: per-user event counts spread across event-type columns."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=types)
    )
    return out.select(
        "user_id", *[F.col(t).cast("long").alias(f"n_{t}") for t in types]
    )


def unpivot_user_event_counts(spark, sf_dir):
    """Unpivot (melt): the pivoted per-user counts back to long form —
    (user_id, event_type, n) rows, zero counts dropped."""
    wide = pivot_user_event_counts(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    out = wide.unpivot(
        "user_id",
        [f"n_{t}" for t in types],
        "event_key",
        "n",
    )
    return (
        out.withColumn(
            "event_type", F.regexp_replace(F.col("event_key"), "^n_", "")
        )
        .filter(F.col("n") > 0)
        .select("user_id", "event_type", F.col("n").cast("long").alias("n"))
    )


def agg_events_daily(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _rq(F.sum("value")).alias("sum_value"),
            _rq(F.avg("value")).alias("avg_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .drop("approx_users")  # approx differs per engine; keep exact cols only
    )


def q4_semi_orders(spark, sf_dir):
    """Left-semi join (EXISTS): orders having a high-discount lineitem."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def customers_no_orders(spark, sf_dir):
    """Left-anti join (NOT EXISTS): customers with no 1997 order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


def rollup_revenue(spark, sf_dir):
    """ROLLUP aggregation: revenue at (flag, status), (flag), and grand total."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.rollup("l_returnflag", "l_linestatus").agg(
        _rq(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )
    # subtotal rows carry NULL group keys; coalesce so the oracle compare
    # (string-typed) is engine-independent
    return out.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
        "revenue",
        "n_items",
    )


# ---------------------------------------------------------------------------
# Window layer over events (ref §2.B windows; engine ops A17 analog)
# ---------------------------------------------------------------------------

def window_lag_lead_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = with_lag_lead(
        e, "value", entity_col="user_id", ts_col="ts",
        offsets=(1,), tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", "value",
        F.col("lag1_value"), F.col("lead1_value"),
    )


def window_backfill_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    out = with_backfill(
        e, "purchase_value", "ffill_purchase_value",
        entity_col="user_id", ts_col="ts", tiebreak="event_id",
    )
    return out.select("event_id", "user_id", "ffill_purchase_value")


def sessionize_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = with_session_ids(
        e, entity_col="user_id", ts_col="ts", gap_s=1800, tiebreak="event_id"
    )
    return out.select("event_id", "user_id", "session_id")


def rolling_mean_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = with_rolling_mean(
        e, "value", 3, entity_col="user_id", ts_col="ts", tiebreak="event_id"
    )
    return out.select(
        "event_id", "user_id", _rq("roll3_value").alias("roll3_value")
    )


def json_props_events(spark, sf_dir):
    """JSON scalar extraction (ref A1's from_json surface, oracled): parse
    the props payload, bucket the extracted value, aggregate."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.withColumn("k", k)
        .withColumn("k_bucket", F.floor(F.col("k") / 10).cast("long"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            _rq(F.avg("k")).alias("k_avg"),
        )
    )


def rolling_time_events(spark, sf_dir):
    """Time-based trailing RANGE window: per-user stats over [ts-1h, ts]."""
    e = _t(spark, sf_dir, "events")
    out = with_rolling_time_aggs(
        e, "value", 3600, entity_col="user_id", ts_col="ts"
    )
    return out.select(
        "event_id",
        "user_id",
        _rq("r3600s_sum_value").alias("sum_1h"),
        F.col("r3600s_cnt_value").alias("cnt_1h"),
        _rq("r3600s_avg_value").alias("avg_1h"),
    )


# ---------------------------------------------------------------------------
# As-of join (both strategies, same oracle: DuckDB ASOF JOIN)
# ---------------------------------------------------------------------------

def _asof_frames(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    spine = (
        e.filter(F.col("event_id") % 5 == 0)
        .select(
            F.col("event_id").alias("probe_id"),
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 60 SECONDS")).alias("ts"),
        )
    )
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .withColumn("asof_ts", F.col("ts"))
    )
    return spine, right


def asof_purchases_window(spark, sf_dir):
    spine, right = _asof_frames(spark, sf_dir)
    out = asof_join_union_window(
        spine, right, on="ts", by="user_id",
        value_cols=["purchase_value", "asof_ts"],
    )
    return out.select("probe_id", "user_id", "purchase_value", "asof_ts")


def asof_purchases_pandas(spark, sf_dir):
    """Cogrouped merge_asof path. ``hot_threshold`` is caller-tuned (the
    production pattern: profile the key distribution once per snapshot);
    detection itself still runs, so a genuinely hot key would still get
    time-sliced."""
    spine, right = _asof_frames(spark, sf_dir)
    out = asof_join_pandas_merge(
        spine, right, on="ts", by="user_id",
        value_cols=["purchase_value", "asof_ts"], num_buckets=16,
        hot_threshold=10_000,
    )
    return out.select("probe_id", "user_id", "purchase_value", "asof_ts")


def asof_strict_purchases(spark, sf_dir):
    """Strict backward as-of (no exact-ts matches): union-window strategy
    with the side ordering flipped."""
    spine, right = _asof_frames(spark, sf_dir)
    out = asof_join_union_window(
        spine, right, on="ts", by="user_id",
        value_cols=["purchase_value", "asof_ts"], allow_exact_matches=False,
    )
    return out.select("probe_id", "user_id", "purchase_value", "asof_ts")


def stream_asof_purchases(spark, sf_dir):
    """STREAMING backward as-of join — the same probes and updates as
    asof_purchases_window, but arriving as two live tagged streams folded
    through ``applyInPandasWithState`` (streaming/asof.py): per-entity
    watermark-bounded buffers, each probe matched and emitted exactly
    once when the watermark passes it, append mode. The fully-drained
    result equals the batch as-of join, so the oracle is the SAME SQL as
    the batch query — the strongest cross-check a streaming operator can
    get (hash-exact against DuckDB's native ASOF JOIN)."""
    import os

    from query_cost_feature_engineering_spark.streaming.asof import (
        drain_bounded_asof,
    )

    spine, right = _asof_frames(spark, sf_dir)
    tagged = right.select(
        F.lit("u").alias("side"),
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("probe_id"),
        "purchase_value",
    ).unionByName(
        spine.select(
            F.lit("p").alias("side"),
            "user_id",
            "ts",
            "probe_id",
            F.lit(None).cast("double").alias("purchase_value"),
        )
    )
    d = os.path.join(
        _workdir(), "stream_asof_" + str(abs(hash(sf_dir)) % 10**8)
    )
    out = drain_bounded_asof(spark, tagged, d, state_partitions=8)
    return out.select("probe_id", "user_id", "purchase_value", "asof_ts")


def feature_store_export(spark, sf_dir):
    """Point-in-time training-set export — the feature-store workload the
    north rule describes, end to end in ONE query: a probe spine as-of
    joined against TWO independent feature tables (latest purchase value
    and latest view value at or before each probe time) plus a spine-side
    lag feature (the user's previous probe time), all leakage-free by
    construction (backward-only matches, lag excludes the current row).
    Five keyed exchanges total regardless of scale (plan-audited): one
    per feature-table latest-per-ts aggregation, one per as-of window,
    one for the spine lag — none global, and no join materializes more
    than one row per probe."""
    e = _t(spark, sf_dir, "events")
    spine = (
        e.filter(F.col("event_id") % 5 == 0)
        .select(
            F.col("event_id").alias("probe_id"),
            "user_id",
            (F.col("ts") + F.expr("INTERVAL 60 SECONDS")).alias("ts"),
        )
    )

    def latest_of(ev_type, out_col):
        return (
            e.filter(F.col("event_type") == ev_type)
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias(out_col))
        )

    purch = latest_of("purchase", "purchase_value")
    views = latest_of("view", "view_value")
    j1 = asof_join_union_window(
        spine, purch, on="ts", by="user_id", value_cols=["purchase_value"]
    )
    j2 = asof_join_union_window(
        j1, views, on="ts", by="user_id", value_cols=["view_value"]
    )
    w = Window.partitionBy("user_id").orderBy("ts", "probe_id")
    return j2.select(
        "probe_id",
        "user_id",
        _rq("purchase_value").alias("purchase_value"),
        _rq("view_value").alias("view_value"),
        F.lag("ts").over(w).alias("prev_probe_ts"),
    )


# ---------------------------------------------------------------------------
# Snapshot layer (ref A6/A7/A11)
# ---------------------------------------------------------------------------

def snapshot_linear_fit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    fit = fit_linear_by_group(li, "l_returnflag", "l_quantity", "l_extendedprice")
    return fit.select(
        "l_returnflag",
        _rq("slope").alias("slope"),
        _rq("intercept").alias("intercept"),
        "n_samples",
    )


def snapshot_template_sample(spark, sf_dir):
    """A8 analog (snapshot/snapshot.py:68-81): fit cost factors from a
    cheap deterministic ~20% subsample; groups with <3 sampled rows fall
    back to the workload-level fit. Hash-based sampling (md5) instead of
    seeded random so the DuckDB oracle reproduces the exact sample."""
    from query_cost_feature_engineering_spark.operators.snapshot import (
        fit_linear_by_group,
    )

    li = _t(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    samp = li.filter(F.substring(F.md5(key), 1, 8) < "33333333")
    per_group = fit_linear_by_group(samp, "l_partkey", "l_quantity", "l_extendedprice")
    wl = fit_linear_by_group(
        li.withColumn("_g", F.lit(1)), "_g", "l_quantity", "l_extendedprice"
    ).select(
        F.col("slope").alias("wl_slope"), F.col("intercept").alias("wl_intercept")
    )
    out = per_group.crossJoin(F.broadcast(wl))
    use_group = F.col("n_samples") >= 3
    return out.select(
        "l_partkey",
        _rq(F.when(use_group, F.col("slope")).otherwise(F.col("wl_slope"))).alias(
            "slope"
        ),
        _rq(
            F.when(use_group, F.col("intercept")).otherwise(F.col("wl_intercept"))
        ).alias("intercept"),
        F.when(use_group, F.lit("sample")).otherwise(F.lit("workload")).alias(
            "source"
        ),
        "n_samples",
    )


def normalize_quantity(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = normalize_by_group(li, "l_returnflag", ["l_quantity"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        _rq("l_quantity_norm", 6).alias("qty_norm"),
    )


def label_normalize_orders(spark, sf_dir):
    """A15 analog: log → min-max label transform over order totals."""
    from query_cost_feature_engineering_spark.operators.snapshot import (
        normalize_labels,
    )

    o = _t(spark, sf_dir, "orders")
    out = normalize_labels(o, "o_totalprice")
    return out.select("o_orderkey", _rq("label_norm", 6).alias("label_norm"))


def qerror_snapshot_fit(spark, sf_dir):
    """A18 analog: q-error percentiles of the snapshot linear fit's
    predictions (price from quantity, per return flag)."""
    from query_cost_feature_engineering_spark.operators.snapshot import (
        annotate_group_fit,
        qerror_metrics,
    )

    li = _t(spark, sf_dir, "lineitem")
    ann = annotate_group_fit(li, "l_returnflag", "l_quantity", "l_extendedprice")
    pred = ann.withColumn(
        "pred", F.col("slope") * F.col("l_quantity") + F.col("intercept")
    )
    m = qerror_metrics(pred, "pred", "l_extendedprice", group_col="l_returnflag")
    return m.select(
        "l_returnflag",
        _rq("q50").alias("q50"),
        _rq("q90").alias("q90"),
        _rq("q99").alias("q99"),
        _rq("q_mean").alias("q_mean"),
        _rq("q_max").alias("q_max"),
        "n",
    )


# Op-specific fit dispatch (A6 parity) + linear-SHAP reduction (A19):
# fixed-point integer regressors make the Gram sums exact on both engines,
# so the generated Cramer solve (operators/mls.py) yields identical
# coefficient doubles on Spark and the DuckDB oracle.

FIT_SPECS = {
    # l_returnflag -> (kind, regressor column names); mirrors the
    # reference's per-op dispatch table (snapshot_linear.py:174-193):
    # plain ops -> linear func2, Sort -> ceil(n·ln n) transform (:101-108),
    # NestedLoop -> bilinear func4 (:144-156).
    "A": ("linear", ["q100", "one"]),
    "N": ("nlogn", ["nlq", "one"]),
    "R": ("bilinear", ["qd", "q100", "d100", "one"]),
}


def _li_fixedpoint(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    return (
        li.withColumn("q100", F.round(F.col("l_quantity") * 100).cast("long"))
        .withColumn("d100", F.round(F.col("l_discount") * 100).cast("long"))
        .withColumn("t100", F.round(F.col("l_tax") * 100).cast("long"))
        .withColumn("y100", F.round(F.col("l_extendedprice") * 100).cast("long"))
        .withColumn(
            "nlq",
            F.ceil(F.col("l_quantity") * F.log(F.col("l_quantity"))).cast("long"),
        )
        .withColumn("qd", F.col("q100") * F.col("d100"))
        .withColumn("one", F.lit(1).cast("long"))
        .withColumn("is_train", F.substring(F.md5(key), 1, 8) < "cccccccc")
    )


def snapshot_fit_dispatch(spark, sf_dir):
    """A6 parity: per-group op-specific cost-curve fits with a relative-MSE
    holdout (ref getMSE, snapshot_linear.py:25-37). Each group dispatches
    to its own model shape (FIT_SPECS); the fit is one exact-integer Gram
    aggregation (collected: one tiny row per group, solved driver-side in
    the oracle's exact term order — operators/mls.solve_py), the holdout
    metric one aggregation over the test split with LITERAL coefficients
    (keeps the 24-term Cramer expansion out of codegen)."""
    from query_cost_feature_engineering_spark.operators.snapshot import (
        fit_gram_collect,
    )

    from query_cost_feature_engineering_spark.operators.mls import solve_sub_py

    li = _li_fixedpoint(spark, sf_dir)
    # ONE Gram aggregation over the regressor SUPERSET serves every
    # group's model shape (each kind's Gram is a submatrix); one more
    # aggregation scores all groups' holdouts. Two jobs total.
    superset = ["qd", "q100", "d100", "nlq", "one"]
    grams = fit_gram_collect(
        li.filter(F.col("is_train")),
        "l_returnflag",
        [F.col(r) for r in superset],
        F.col("y100"),
    )
    coeffs: dict[str, list[float]] = {}
    pred = None
    for flag, (kind, regs) in FIT_SPECS.items():
        cs = solve_sub_py(
            [superset.index(r) for r in regs], grams[flag]["gram"]
        )
        coeffs[flag] = list(cs) + [0.0] * (4 - len(regs))
        p = None
        for k, r in enumerate(regs):
            term = F.lit(cs[k]) * F.col(r).cast("double")
            p = term if p is None else p + term
        pred = (
            F.when(F.col("l_returnflag") == flag, p)
            if pred is None
            else pred.when(F.col("l_returnflag") == flag, p)
        )
    rel = (pred - F.col("y100")) / F.col("y100")
    res = (
        li.filter(
            F.col("l_returnflag").isin(list(FIT_SPECS)) & ~F.col("is_train")
        )
        .groupBy("l_returnflag")
        .agg(
            F.avg(rel * rel).alias("rel_mse"),
            F.count(F.lit(1)).alias("n_test"),
        )
    )
    kind_col = F.create_map(
        *[x for f, (k, _) in FIT_SPECS.items() for x in (F.lit(f), F.lit(k))]
    )[F.col("l_returnflag")]
    ntr_col = F.create_map(
        *[
            x
            for f in FIT_SPECS
            for x in (F.lit(f), F.lit(grams[f]["n"]).cast("long"))
        ]
    )[F.col("l_returnflag")]
    ccols = [
        F.create_map(
            *[
                x
                for f in FIT_SPECS
                for x in (F.lit(f), F.lit(coeffs[f][k]))
            ]
        )[F.col("l_returnflag")].alias(f"_c{k}")
        for k in range(4)
    ]
    return res.select(
        "l_returnflag",
        kind_col.alias("kind"),
        *[_rq(c, 6).alias(f"c{k}") for k, c in enumerate(ccols)],
        _rq("rel_mse").alias("rel_mse"),
        ntr_col.alias("n_train"),
        "n_test",
    )


SHAP_FEATURES = ["l_quantity", "l_discount", "l_tax"]


def shap_feature_reduction(spark, sf_dir):
    """A19 graft (models/QPPNet.py:433-533): SHAP-based feature filtering.
    The reference runs a Deep/Gradient explainer over a sampled batch and
    keeps features with Σ|shap| > 0; for the engine's linear probe the
    Shapley values have the exact closed form φ_j(x) = β_j·(x_j - E[x_j])
    (the public linear-SHAP result), so mean|φ_j| = |β_j|·mean|x_j - x̄_j|
    is computable distributively: one exact-Gram OLS fit on the train
    split + one deviation aggregation — no sampling, no explainer loop.
    Features carrying < 1% of total |φ| mass are dropped (the reference's
    zero-mass filter, :497-519, with a tolerance suited to floats).

    Two distributed passes (exact Gram + deviations with literal means),
    then O(features) driver arithmetic in the oracle's float-op order."""
    li = _li_fixedpoint(spark, sf_dir).withColumn("_g", F.lit(1))
    from query_cost_feature_engineering_spark.operators.snapshot import (
        fit_gram_collect,
    )

    regs = ["q100", "d100", "t100", "one"]
    tr = li.filter(F.col("is_train"))  # stats on train only (no leakage)
    fit = fit_gram_collect(
        tr, "_g", [F.col(r) for r in regs], F.col("y100")
    )[1]
    cs = fit["coeffs"]
    means = tr.groupBy().agg(
        *[F.avg(r).alias(f"m_{r}") for r in regs[:3]]
    ).collect()[0]
    devs_row = tr.groupBy().agg(
        *[
            F.avg(
                F.abs(F.col(r).cast("double") - F.lit(float(means[f"m_{r}"])))
            ).alias(f"dev_{k}")
            for k, r in enumerate(regs[:3])
        ]
    ).collect()[0]
    imps = [abs(cs[k]) * float(devs_row[f"dev_{k}"]) for k in range(3)]
    total = imps[0] + imps[1] + imps[2]
    rows = [
        (SHAP_FEATURES[k], cs[k], imps[k], imps[k] / total) for k in range(3)
    ]
    out = spark.createDataFrame(
        rows, "feature string, beta double, mean_abs_shap double, share double"
    )
    return out.select(
        "feature",
        _rq("beta", 6).alias("beta"),
        _rq("mean_abs_shap").alias("mean_abs_shap"),
        _rq("share").alias("share"),
        F.when(F.col("share") >= 0.01, F.lit("kept"))
        .otherwise(F.lit("dropped"))
        .alias("status"),
    )


ABLATION_SPECS = {
    # dropped-feature tag -> remaining regressors (A20 single-pass probe)
    "none": ["q100", "d100", "t100", "one"],
    "l_quantity": ["d100", "t100", "one"],
    "l_discount": ["q100", "t100", "one"],
    "l_tax": ["q100", "d100", "one"],
}


def ablation_leave_one_out(spark, sf_dir):
    """A20 analog with a driver-visible oracle: one-pass leave-one-out
    ablation of the linear probe (greedy/deepNN.py:92-136 evaluates each
    candidate drop by retraining; here each drop is a closed-form
    exact-Gram OLS fit + holdout relative MSE — all four candidate fits
    in one job). ``rel_mse_ratio`` vs the full model is the reference's
    keep/drop signal; the recursive greedy search over these one-pass
    scores is `greedy_ablation_lineitem` (rows-only, driver-side loop).
    Verdicts compare ROUNDED ratios so both engines decide identically.

    ONE Gram aggregation serves every candidate (each sub-fit solves a
    submatrix of the full Gram — operators/mls.solve_sub_py), and ONE
    test-split aggregation scores all candidates' predictions."""
    from query_cost_feature_engineering_spark.operators.mls import solve_sub_py
    from query_cost_feature_engineering_spark.operators.snapshot import (
        fit_gram_collect,
    )

    li = _li_fixedpoint(spark, sf_dir).withColumn("_g", F.lit(1))
    full_regs = ABLATION_SPECS["none"]
    fit = fit_gram_collect(
        li.filter(F.col("is_train")),
        "_g",
        [F.col(r) for r in full_regs],
        F.col("y100"),
    )[1]
    aggs = [F.count(F.lit(1)).alias("n_test")]
    tags = list(ABLATION_SPECS)
    for tag in tags:
        regs = ABLATION_SPECS[tag]
        cs = solve_sub_py([full_regs.index(r) for r in regs], fit["gram"])
        pred = None
        for k, r in enumerate(regs):
            term = F.lit(cs[k]) * F.col(r).cast("double")
            pred = term if pred is None else pred + term
        rel = (pred - F.col("y100")) / F.col("y100")
        aggs.append(F.avg(rel * rel).alias(f"mse_{tag}"))
    row = li.filter(~F.col("is_train")).groupBy().agg(*aggs).collect()[0]
    out = spark.createDataFrame(
        [(tag, float(row[f"mse_{tag}"]), fit["n"], int(row["n_test"]))
         for tag in tags],
        "dropped string, raw_mse double, n_train long, n_test long",
    )
    rel_mse = _rq("raw_mse")
    full_mse = _rq(F.lit(float(row["mse_none"])))
    ratio = _rq(rel_mse / full_mse)
    return out.select(
        "dropped",
        rel_mse.alias("rel_mse"),
        ratio.alias("rel_mse_ratio"),
        F.when(F.col("dropped") == "none", F.lit("baseline"))
        .when(ratio <= 1.001, F.lit("droppable"))
        .otherwise(F.lit("needed"))
        .alias("verdict"),
        "n_train",
        "n_test",
    )


def cube_revenue(spark, sf_dir):
    """CUBE aggregation: all four grouping sets over (flag, status) — the
    grouping-sets surface the rollup query doesn't reach."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.cube("l_returnflag", "l_linestatus").agg(
        _rq(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )
    return out.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
        "revenue",
        "n_items",
    )


def range_join_promos(spark, sf_dir):
    """Interval join WITHOUT a nested-loop plan: every 500th order opens a
    10-day "promo" window; count lineitems whose ship date falls inside
    each window. No equality key exists, so the naive plan is a
    BroadcastNestedLoopJoin (O(F*I) compares); operators/rangejoin.py
    bins time (7-day bins), explodes each interval to its covered bins,
    equi-joins on the bin id, then exact-verifies BETWEEN — one
    broadcast (or shuffle) equi-join that AQE can skew-split at scale."""
    from query_cost_feature_engineering_spark.operators.rangejoin import (
        range_join_binned,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    promos = o.filter(F.col("o_orderkey") % 500 == 0).select(
        F.col("o_orderkey").alias("promo_id"),
        F.col("o_orderdate").alias("promo_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAYS")).alias("promo_end"),
    )
    j = range_join_binned(
        li.select("l_shipdate", "l_quantity"),
        "l_shipdate",
        promos,
        "promo_start",
        "promo_end",
        bin_width_days=7,
    )
    return j.groupBy("promo_id", "promo_start").agg(
        F.count(F.lit(1)).alias("n_items"),
        _rq(F.sum("l_quantity")).alias("sum_qty"),
    )

def hash_split_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return hash_split(c, "c_custkey", 0.8).select("c_custkey", "split")


def stratified_sample_events(spark, sf_dir):
    """Per-stratum deterministic downsample (class rebalancing, the
    sampleBy twin): keep 10% of views, 50% of clicks, everything else.
    Seedless md5 thresholds => exact DuckDB mirror; single narrow filter,
    no shuffle (map-only at any scale)."""
    e = _t(spark, sf_dir, "events")
    out = stratified_hash_sample(
        e, "event_id", "event_type", {"view": 0.1, "click": 0.5}
    )
    return out.select("event_id", "user_id", "event_type")


# ---------------------------------------------------------------------------
# Dedup / similarity / text analysis (training-data pipeline ops)
# ---------------------------------------------------------------------------

def structural_grouping_users(spark, sf_dir):
    """A9 analog (tpch_utils_knob.py:443-478): group identical structures —
    here, each user's ordered event-type sequence — by an md5 structure
    key. The key itself IS the stable group id (the reference's enum was
    only an artifact of its dict representation); group sizes come from a
    hash-partitioned count over the key — no global dense_rank Window."""
    e = _t(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
            ).cast("binary")
        ).alias("structure_key")
    )
    sizes = seqs.groupBy("structure_key").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return seqs.join(sizes, "structure_key").select(
        "user_id", "structure_key", "group_size"
    )


def logscan_plans(spark, sf_dir):
    """A1+A2 analog: salvage EXPLAIN-JSON plans from BOTH noisy log
    formats — psql console transcripts and `' CST ['`-keyed serverlogs
    (deterministic synthetic logs; parsed JVM-side with from_json over the
    depth-4 recursive schema) — then the A5/A6 snapshot path: per-node
    samples from every tree level -> per-node-type linear fit of time vs
    rows. Rows-only (the log files are not DuckDB views); the parses are
    golden-tested in pytest."""
    import os

    from query_cost_feature_engineering_spark.operators.snapshot import (
        fit_linear_by_group,
    )
    from query_cost_feature_engineering_spark.sources.logs import (
        generate_console_log,
        generate_serverlog,
        per_node_samples,
        read_plans_from_log,
        read_plans_from_serverlog,
    )

    cpath = os.path.join(_workdir(), "qcfe_console_61.txt")
    spath = os.path.join(_workdir(), "qcfe_server_62.txt")
    generate_console_log(cpath, n_plans=300, seed=61)
    generate_serverlog(spath, n_plans=200, seed=62)
    samples = per_node_samples(read_plans_from_log(spark, cpath)).unionByName(
        per_node_samples(read_plans_from_serverlog(spark, spath))
    )
    fit = fit_linear_by_group(
        samples, "node_type", "actual_rows", "actual_total_time"
    )
    return fit.select(
        "node_type",
        _rq("slope", 6).alias("slope"),
        _rq("intercept", 4).alias("intercept"),
        "n_samples",
    )


def mscn_serialize_plans(spark, sf_dir):
    """A14: MSCN serialization of salvaged plan trees (plans/mscn.py):
    postorder child-before-parent flatten, identity one-hots OR-combined
    up the tree, zero-pad align to a fixed node budget. Round 5: hash-
    oracled via the both-sides-synthesize fixture (golden.
    ensure_mscn_fixture) — every vec digest, key, and L1 norm must be
    bit-identical to the single-process serializer's output over the
    same deterministic plan stream; the serialization CONTRACT itself
    stays pinned by the hand-built-tree golden test."""
    import os

    from query_cost_feature_engineering_spark.plans.mscn import (
        serialize_plans_mscn,
    )
    from query_cost_feature_engineering_spark.sources.logs import (
        generate_console_log,
        read_plans_from_log,
    )

    path = os.path.join(_workdir(), "qcfe_console_63.txt")
    generate_console_log(path, n_plans=200, seed=63)
    out = serialize_plans_mscn(read_plans_from_log(spark, path))
    digest = F.md5(
        F.concat_ws(
            ",", F.transform(F.col("vec"), lambda x: F.format_string("%.4f", x))
        ).cast("binary")
    )
    return out.select(
        F.md5(F.concat_ws(",", "n_nodes", digest)).alias("plan_key"),
        "n_nodes",
        "feat_len",
        digest.alias("vec_digest"),
        _rq(
            F.aggregate(F.col("vec"), F.lit(0.0), lambda a, v: a + F.abs(v)), 2
        ).alias("vec_l1"),
    )


def plan_featurize_nodes(spark, sf_dir):
    """A4 at reference fidelity (tpch_utils_knob.py:60-210): salvage the
    rich synthetic console log, explode EVERY tree level with the full
    field surface (per_node_rows), then featurize each node with its
    op-specific vector — predicate-substring-masked (min, med, max)
    attr statistics, sort-key rel.attr one-hots, join-type /
    parent-relationship / strategy one-hots, index one-hot + scan
    direction, hash buckets — all JVM column expressions (no UDF).

    Oracled end to end: the DuckDB side reads a pure-Python-flattened
    raw-node parquet of the SAME deterministic corpus and re-derives the
    vectors in SQL; the md5(%.4f-join) digest match checks parse +
    featurization bit-exactly."""
    import os

    from query_cost_feature_engineering_spark.functions.plan_features import (
        feat_digest,
        featurize_nodes,
    )
    from query_cost_feature_engineering_spark.sources.logs import (
        PLAN_FIXTURE_N,
        PLAN_FIXTURE_SEED,
        ensure_plan_nodes_fixture,
        generate_console_log,
        per_node_rows,
        read_plans_from_log,
    )

    path = os.path.join(_workdir(), "qcfe_console_64.txt")
    generate_console_log(path, n_plans=PLAN_FIXTURE_N, seed=PLAN_FIXTURE_SEED)
    ensure_plan_nodes_fixture()  # the oracle's raw-node mirror
    nodes = per_node_rows(read_plans_from_log(spark, path))
    return featurize_nodes(nodes).select(
        "node_id",
        "node_type",
        "is_subplan",
        F.size("feat").alias("feat_len"),
        feat_digest().alias("feat_digest"),
    )


def explain_json_featurize(spark, sf_dir):
    """plan_featurize_nodes fed by REAL ``EXPLAIN (ANALYZE, FORMAT
    JSON)`` output — PostgreSQL's one-element array wrapper with
    "Planning Time" / "Triggers" / "Execution Time" alongside the
    "Plan" root (sources/logs.read_plans_from_explain_json). The SAME
    deterministic plan stream as the console-format corpus, so it
    shares plan_featurize_nodes' DuckDB oracle verbatim: a green hash
    means the wrapped-format parse, the canonical re-serialization, and
    the featurizers are end-to-end identical to the bare-format path —
    the "point it at real EXPLAIN logs" contract."""
    import os

    from query_cost_feature_engineering_spark.functions.plan_features import (
        feat_digest,
        featurize_nodes,
    )
    from query_cost_feature_engineering_spark.sources.logs import (
        PLAN_FIXTURE_N,
        PLAN_FIXTURE_SEED,
        ensure_plan_nodes_fixture,
        generate_explain_json_log,
        per_node_rows,
        read_plans_from_explain_json,
    )

    path = os.path.join(_workdir(), "qcfe_explain_64.txt")
    generate_explain_json_log(
        path, n_plans=PLAN_FIXTURE_N, seed=PLAN_FIXTURE_SEED
    )
    ensure_plan_nodes_fixture()
    nodes = per_node_rows(read_plans_from_explain_json(spark, path))
    return featurize_nodes(nodes).select(
        "node_id",
        "node_type",
        "is_subplan",
        F.size("feat").alias("feat_len"),
        feat_digest().alias("feat_digest"),
    )


def plan_featurize_deep(spark, sf_dir):
    """plan_featurize_nodes over a DEPTH-10 corpus — trees the default
    depth-4 parse schema provably truncates. The reader's auto depth
    detection (sources/logs._resolve_depth: raw-text '"Node Type"'
    count vs the count in the to_json re-serialization of the parse,
    schema depth doubling until they match) must recover EVERY node for
    the digest to match the oracle's pure-Python arbitrary-depth
    flatten — the 'point it at real 5-15-level EXPLAIN logs' contract
    (the reference recurses arbitrarily, tpch_utils_knob.py:480-535)."""
    import os

    from query_cost_feature_engineering_spark.functions.plan_features import (
        feat_digest,
        featurize_nodes,
    )
    from query_cost_feature_engineering_spark.sources.logs import (
        PLAN_DEEP_DEPTH,
        PLAN_DEEP_N,
        PLAN_DEEP_SEED,
        ensure_plan_nodes_fixture,
        generate_console_log,
        per_node_rows,
        read_plans_from_log,
    )

    path = os.path.join(_workdir(), "qcfe_console_deep.txt")
    generate_console_log(
        path,
        n_plans=PLAN_DEEP_N,
        seed=PLAN_DEEP_SEED,
        max_depth=PLAN_DEEP_DEPTH,
    )
    ensure_plan_nodes_fixture(
        n_plans=PLAN_DEEP_N, seed=PLAN_DEEP_SEED, max_depth=PLAN_DEEP_DEPTH
    )
    nodes = per_node_rows(read_plans_from_log(spark, path))
    return featurize_nodes(nodes).select(
        "node_id",
        "node_type",
        "is_subplan",
        F.col("level").cast("int").alias("level"),
        F.size("feat").alias("feat_len"),
        feat_digest().alias("feat_digest"),
    )


def plan_featurize_job_vocab(spark, sf_dir):
    """plan_featurize_nodes under the JOB-style vocabulary
    (sources/logs.JOB_VOCAB: 23 node types adding LockRows / Result /
    Append / Unique / Gather / ... over the IMDB schema) — the
    reference swaps an entire schema dictionary per workload
    (job_dataset/attr_rel_dict.py:2-56); here the same corpus machinery
    and featurizers take the vocabulary as an argument. Oracled with
    the SQL generated from the SAME vocabulary, so the digest proves
    the whole parse → explode → featurize path is vocab-clean."""
    import os

    from query_cost_feature_engineering_spark.functions.plan_features import (
        feat_digest,
        featurize_nodes,
    )
    from query_cost_feature_engineering_spark.sources.logs import (
        JOB_VOCAB,
        PLAN_JOB_N,
        PLAN_JOB_SEED,
        ensure_plan_nodes_fixture,
        generate_console_log,
        per_node_rows,
        read_plans_from_log,
    )

    path = os.path.join(_workdir(), "qcfe_console_job.txt")
    generate_console_log(
        path, n_plans=PLAN_JOB_N, seed=PLAN_JOB_SEED, vocab=JOB_VOCAB
    )
    ensure_plan_nodes_fixture(
        n_plans=PLAN_JOB_N, seed=PLAN_JOB_SEED, vocab=JOB_VOCAB
    )
    nodes = per_node_rows(read_plans_from_log(spark, path))
    return featurize_nodes(nodes, vocab=JOB_VOCAB).select(
        "node_id",
        "node_type",
        "is_subplan",
        F.size("feat").alias("feat_len"),
        feat_digest().alias("feat_digest"),
    )


def subplan_rollup_plans(spark, sf_dir):
    """A17 subplan flow: sum each InitPlan/SubPlan child's actual time
    into its PARENT node — the reference's QPPNet adds subplan
    predicted times to the parent's input instead of passing them as
    data (models/QPPNet.py:191-198; the flag comes from 'Subplan Name',
    tpch_utils_knob.py:531-534). Spark-first: per_node_rows carries
    parent_node_id, so the rollup is one filtered groupBy + one
    broadcast-size join back to the parents — no tree walk, no UDF."""
    import os

    from query_cost_feature_engineering_spark.sources.logs import (
        PLAN_FIXTURE_N,
        PLAN_FIXTURE_SEED,
        ensure_plan_nodes_fixture,
        generate_console_log,
        per_node_rows,
        read_plans_from_log,
    )

    path = os.path.join(_workdir(), "qcfe_console_64.txt")
    generate_console_log(path, n_plans=PLAN_FIXTURE_N, seed=PLAN_FIXTURE_SEED)
    ensure_plan_nodes_fixture()
    nodes = per_node_rows(read_plans_from_log(spark, path)).select(
        "plan_id", "node_id", "parent_node_id", "is_subplan",
        "actual_total_time",
    )
    sub = (
        nodes.filter(F.col("is_subplan") & F.col("parent_node_id").isNotNull())
        .groupBy(F.col("parent_node_id").alias("p_id"))
        .agg(
            _rq(F.sum("actual_total_time"), 3).alias("subplan_time"),
            F.count(F.lit(1)).alias("n_subplans"),
        )
    )
    return (
        nodes.join(sub, F.col("node_id") == F.col("p_id"), "inner")
        .select(
            "node_id",
            "n_subplans",
            "subplan_time",
            _rq(F.col("actual_total_time") + F.col("subplan_time"), 3).alias(
                "time_with_subplans"
            ),
        )
    )


def dedup_exact_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("text_hash", F.md5(F.col("text").cast("binary")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


_N_MINHASH = 8


def _shingles(col):
    # distinct 3-char shingles, JVM-side
    n = F.greatest(F.length(col) - F.lit(2), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: col.substr(i, F.lit(3)))
    )


def minhash_signatures(spark, sf_dir):
    """One md5 base hash per shingle + k universal-hash permutations
    (functions/hashing.py) — engine-agnostic and 8× less hash work than
    per-permutation md5."""
    from query_cost_feature_engineering_spark.functions.hashing import (
        MH_A,
        MH_B,
        MH_P,
    )

    d = _t(spark, sf_dir, "documents")
    base = F.transform(
        _shingles(F.col("text")),
        lambda s: F.conv(F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10).cast(
            "long"
        ),
    )
    d = d.withColumn("_hb", base)
    cols = {
        f"sig_{k}": F.array_min(
            F.transform(
                F.col("_hb"),
                lambda h: (F.lit(MH_A[k]) * h + F.lit(MH_B[k])) % F.lit(MH_P),
            )
        )
        for k in range(_N_MINHASH)
    }
    return d.withColumns(cols).select(
        "doc_id", *[f"sig_{k}" for k in range(_N_MINHASH)]
    )


# LSH buckets larger than this never go through collect_list: a single
# adversarial bucket (mass-duplicated corpus) would otherwise
# materialize the whole bucket in ONE aggregation row and OOM the task.
_MINHASH_BUCKET_CAP = 1024


def band_pairs(banded: "DataFrame", cap: int = _MINHASH_BUCKET_CAP):
    """i<j candidate pairs from (band, key, doc_id) rows, bucket-size
    aware. Buckets ≤ cap use the one-row collect_list + JVM nested
    transform (cheapest; memory bounded by cap). Buckets > cap are
    routed through a streaming (band, key) self-join — no per-row
    bucket materialization, so an adversarial mass-duplication bucket
    degrades to a slow-but-bounded join instead of an OOM. Both paths
    emit the identical i<j pair set (pinned by test) — including for
    non-unique doc_ids within a bucket, where the sorted-slice path
    would otherwise emit a==b self-pairs the join path's a<b drops. The window count
    and both branches read the SAME exchange, so the upstream
    (signature) pipeline runs once (ReusedExchange). Pair OUTPUT is
    inherently O(bucket²) either way — corpora with giant duplicate
    classes should route through dedup_clusters' representative
    contraction instead of pair listing."""
    w = Window.partitionBy("band", "key")
    sized = banded.withColumn("_n", F.count(F.lit(1)).over(w))
    small = (
        sized.filter((F.col("_n") <= cap) & (F.col("_n") > 1))
        .groupBy("band", "key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    )
    small_pairs = (
        small.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda a, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                            lambda b: F.struct(
                                a.alias("doc_a"), b.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    big = sized.filter(F.col("_n") > cap)
    big_a = big.select("band", "key", F.col("doc_id").alias("doc_a"))
    big_b = big.select("band", "key", F.col("doc_id").alias("doc_b"))
    big_pairs = (
        big_a.join(big_b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return small_pairs.unionByName(big_pairs).distinct()


def minhash_band_pairs(spark, sf_dir):
    """LSH banding: 2 bands × 4 rows; candidate pairs share any band.

    Shape note (100-TB): the naive form is a self-join of the banded
    signature frame — which makes Spark recompute the md5-per-shingle
    signature pipeline on BOTH join branches (4× total with the band
    union). Instead each row emits its 2 band keys via ONE posexplode
    (signatures computed once per doc), then ONE (band, key) shuffle
    feeds the size-aware pair emission (``band_pairs``): buckets under
    the cap emit pairs JVM-side from a collect_list row, oversized
    buckets stream through a self-join — bounded memory for any bucket
    size."""
    sigs = minhash_signatures(spark, sf_dir)
    keys = F.array(
        *[
            F.concat_ws("_", *[F.col(f"sig_{4 * b + r}") for r in range(4)])
            for b in range(2)
        ]
    )
    banded = sigs.select("doc_id", F.posexplode(keys).alias("band", "key"))
    return band_pairs(banded)


def ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard ≥ 0.5 within a language block — computed via
    the prefix-filtered set-similarity join (operators/neardup.py): a
    shingle-key equi-join generates candidates, exact Jaccard verifies.
    Identical output to the round-1 all-pairs self-join (the oracle is
    still the exact O(N²) SQL), but the Spark plan is a hash join."""
    from query_cost_feature_engineering_spark.operators.neardup import (
        jaccard_pairs_prefix,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", _shingles(F.col("text")).alias("sh")
    )
    out = jaccard_pairs_prefix(d, "doc_id", "sh", 0.5, block_col="lang")
    return out.select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        _rq("jac").alias("jaccard"),
    )


def running_total_orders(spark, sf_dir):
    """Global running revenue + running order count in
    (o_orderdate, o_orderkey) order — the scalable form of
    ``SUM(x) OVER (ORDER BY ...)`` with no partition key: range-partition
    + per-partition totals + offset-carrying mapInPandas
    (operators/prefix.py), ONE range exchange instead of the
    single-partition global Window. Values are summed as integer CENTS
    so the prefix sums are bit-exact across engines (float prefix sums
    differ by association order)."""
    from query_cost_feature_engineering_spark.operators.prefix import (
        with_running_sums,
    )

    o = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .withColumn(
            "_ts_us", F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        )
    )
    out = with_running_sums(
        o,
        ["o_orderdate", "o_orderkey"],
        ["cents"],
        bucket_col="_ts_us",
        min_buckets=32,
    )
    return out.select("o_orderkey", "run_cents", "run_rows")


PACK_CONTEXT_LEN = 512


def pack_sequences_docs(spark, sf_dir):
    """Sequence packing — assign every document to its fixed-size
    training context (the standard LLM-pretraining step that
    concatenates docs in corpus order into L-token sequences). Each
    doc's context id and starting offset are pure functions of the
    EXCLUSIVE global prefix sum of token counts in doc_id order:
    seq_id = ⌊prefix/L⌋, seq_off = prefix mod L (docs spanning a
    boundary start in seq_id and spill into the next — the consumer
    splits at read time, so packing needs no per-token pass).

    The global ordered prefix sum goes through the distributed
    range-bucket operator (operators/prefix.with_running_sums — ONE
    range exchange, per-bucket offsets broadcast back), NOT a
    single-partition `SUM OVER (ORDER BY)` window: at 10^12 docs the
    naive window serializes the corpus through one task. Token counts
    are exact integers, so prefix sums are bit-identical across
    engines."""
    from query_cost_feature_engineering_spark.operators.prefix import (
        with_running_sums,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    out = with_running_sums(
        d, ["doc_id"], ["n_tokens"], bucket_col="doc_id", min_buckets=32
    )
    prefix = (F.col("run_n_tokens") - F.col("n_tokens")).alias("prefix")
    return out.select(
        "doc_id",
        "n_tokens",
        prefix,
        # integer DIV, not float '/': the global prefix sum exceeds
        # 2^53 at ~1e13 tokens, past which double division drifts
        F.expr(f"(run_n_tokens - n_tokens) DIV {PACK_CONTEXT_LEN}")
        .cast("long")
        .alias("seq_id"),
        ((F.col("run_n_tokens") - F.col("n_tokens")) % PACK_CONTEXT_LEN)
        .cast("long")
        .alias("seq_off"),
    )


def weighted_sample_docs(spark, sf_dir):
    """Quality-weighted corpus rebalancing: keep each document with
    probability p = min(len/400 + 0.1, 1) — longer (higher-signal) docs
    oversampled, every doc keeps a floor probability. Seedless and
    engine-exact: accept iff the md5 integer of doc_id < floor(p·16^8)
    (same scheme as hash_split, per-row threshold instead of global).
    Map-only — at 10^12 docs this is a scan, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    p = F.least(
        F.length("text") / F.lit(400.0) + F.lit(0.1), F.lit(1.0)
    )
    thr = F.floor(p * F.lit(16.0**8)).cast("long")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        d.withColumn("p_keep", _rq(p))
        .filter(h < thr)
        .select("doc_id", F.length("text").cast("long").alias("n_chars"), "p_keep")
    )


def mixture_rebalance_docs(spark, sf_dir):
    """Data-mixture rebalancing: resample every source to a UNIFORM
    token share (the pretraining mixture knob — over-represented
    sources down-sampled, under-represented ones duplicated). Each
    doc's copy count is deterministic: factor f = total/(n_src ·
    src_tokens) quantized to integer MICRO-units (floor(f·10⁶ + 0.5) —
    identical doubles then identical half-up rounding on both engines,
    and all later arithmetic is integer-exact), copies = ⌊f⌋ plus one
    extra iff md5int(doc_id) < fm%10⁶ scaled into the 16⁸ hash space
    with integer DIV (no float at 4e15 magnitude). Plan shape: one
    small per-source aggregate broadcast back onto the scan + a
    map-only explode — at 10^12 docs this is one shuffle-free pass
    after a tiny agg."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    s = d.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    tot = s.agg(
        F.sum("src_tokens").alias("total"), F.count(F.lit(1)).alias("n_src")
    )
    f = (
        s.crossJoin(F.broadcast(tot))
        .withColumn(
            "fm",
            F.floor(
                F.col("total").cast("double")
                / (
                    F.col("n_src").cast("double")
                    * F.col("src_tokens").cast("double")
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long"),
        )
        .select("source", "fm")
    )
    j = d.join(F.broadcast(f), "source")
    nfull = F.floor(F.col("fm") / F.lit(1000000.0)).cast("long")
    thr = F.expr("CAST((fm % 1000000) * 4294967296 DIV 1000000 AS BIGINT)")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    copies = (nfull + F.when(h < thr, F.lit(1)).otherwise(F.lit(0))).cast(
        "long"
    )
    return (
        j.withColumn("n_copies", copies)
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "n_copies",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies"))
            ).alias("copy_id"),
        )
    )


def contamination_docs(spark, sf_dir):
    """Benchmark-contamination check: exact 3-gram Jaccard ≥ 0.5 pairs
    BETWEEN the training corpus and a held-out benchmark set (a
    deterministic md5 ~10% of documents, mirroring hash_split). Runs the
    tested exact similarity join over the union and keeps cross-side
    pairs — one machine-verified path instead of a second join
    implementation; the within-side pairs it also finds are the dedup
    job's output, not waste, when both run. Output is (train, bench)
    oriented regardless of id order."""
    from query_cost_feature_engineering_spark.operators.neardup import (
        jaccard_pairs_prefix,
    )

    d = _t(spark, sf_dir, "documents")
    is_bench = F.substring(
        F.md5(F.col("doc_id").cast("string")), 1, 8
    ) < F.lit("19999999")
    d2 = d.select(
        "doc_id", is_bench.alias("is_bench"), _shingles(F.col("text")).alias("sh")
    )
    pairs = jaccard_pairs_prefix(
        d2.select("doc_id", "sh"), "doc_id", "sh", 0.5
    )
    tags = d2.select("doc_id", "is_bench")
    out = (
        pairs.join(
            tags.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("is_bench").alias("bench_a"),
            ),
            "doc_id_a",
        )
        .join(
            tags.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("is_bench").alias("bench_b"),
            ),
            "doc_id_b",
        )
        .filter(F.col("bench_a") != F.col("bench_b"))
    )
    train = F.when(F.col("bench_a"), F.col("doc_id_b")).otherwise(
        F.col("doc_id_a")
    )
    bench = F.when(F.col("bench_a"), F.col("doc_id_a")).otherwise(
        F.col("doc_id_b")
    )
    return out.select(
        train.alias("train_doc"),
        bench.alias("bench_doc"),
        _rq("jac").alias("jaccard"),
    )


CONTAM_NGRAM = 5


def contamination_ngram_docs(spark, sf_dir):
    """Exact token-n-gram collision decontamination — the GPT-3/PaLM
    method, complementing the Jaccard check above: a training document
    is contaminated if it shares ANY length-5 token n-gram with a
    benchmark document (same deterministic md5 ~10% bench split).

    Plan shape (10^12-doc safe): each side explodes its DISTINCT token
    5-grams (map-only; gram strings hash-compacted to xxhash64 so the
    shuffle carries 8-byte keys, not text), ONE equi-join on the gram
    key, then a (train, bench) pair aggregation counting shared grams.
    No similarity math, no candidate generation — collisions ARE the
    verdict. Zipf-hot grams are the classic skew source; the bench side
    is ~10% of the corpus, and AQE's skew-join split handles hot keys
    without a salting pass."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.lower(F.col("text")), " ").alias("toks"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
            < F.lit("19999999")
        ).alias("is_bench"),
    )
    grams = d.filter(F.size("toks") >= CONTAM_NGRAM).select(
        "doc_id",
        "is_bench",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(slice(toks, 1, size(toks) - {CONTAM_NGRAM - 1}),"
                    f" (w, i) -> xxhash64(concat_ws(' ',"
                    f" slice(toks, i + 1, {CONTAM_NGRAM}))))"
                )
            )
        ).alias("g"),
    )
    train = grams.filter(~F.col("is_bench")).select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    bench = grams.filter(F.col("is_bench")).select(
        F.col("doc_id").alias("bench_doc"), "g"
    )
    return (
        train.join(bench, "g")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )


SPAN_NGRAM = 5


def span_dedup_docs(spark, sf_dir):
    """Within-corpus passage-level exact-substring dedup — the dedup
    variant with the largest measured LM-quality effect in the public
    literature (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): find maximal token spans that occur
    verbatim in >=2 distinct documents and emit per-doc removal
    verdicts ``(doc_id, span_start, span_end)``. Complements
    ``contamination_ngram_docs`` (train-vs-bench only) by deduping
    *inside* the training corpus.

    Plan shape (10^12-doc safe, the contamination-ngram shape extended
    with positions): ONE map-only pass explodes length-5 token grams
    WITH their token offsets, gram strings hash-compacted to xxhash64
    so every shuffle carries 8-byte keys; one aggregation finds grams
    present in >=2 distinct docs; one semi-join keeps only duplicated
    positions; then a per-doc window (partitioned by doc_id — bounded
    by document length, never global) merges overlapping/adjacent gram
    intervals [pos, pos+4] into maximal spans via the lag-gap →
    cumulative-sum session-id idiom. Zipf-hot grams (boilerplate) are
    the skew source; AQE's skew-join split handles the semi-join's hot
    keys. Oracle: the identical formulation in DuckDB joining on the
    gram STRING (same hash-compaction contract as
    contamination_ngram_docs)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    )
    grams = d.filter(F.size("toks") >= SPAN_NGRAM).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(slice(toks, 1, size(toks) - {SPAN_NGRAM - 1}),"
                f" (w, i) -> xxhash64(concat_ws(' ',"
                f" slice(toks, i + 1, {SPAN_NGRAM}))))"
            )
        ).alias("pos", "g"),
    )
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    hits = grams.join(shared, "g", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    new_span = F.when(
        prev.isNull() | (F.col("pos") - prev > SPAN_NGRAM), 1
    ).otherwise(0)
    spans = (
        hits.withColumn("new_span", new_span)
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + SPAN_NGRAM - 1).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_shared_grams"),
        )
    )
    return spans.select(
        "doc_id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        "n_shared_grams",
    )


def dedup_clusters_docs(spark, sf_dir):
    """Dedup clustering: connected components over the minhash-LSH
    candidate pairs (operators/cluster.py iterative min-label
    propagation), singletons included, one survivor (min doc_id) per
    cluster — the verdict table a 100-TB dedup pipeline filters on.
    Oracle: DuckDB recursive CTE over the identical pair set."""
    from query_cost_feature_engineering_spark.operators.cluster import (
        dedup_clusters,
    )

    pairs = minhash_band_pairs(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = dedup_clusters(
        pairs, "doc_a", "doc_b", all_ids=docs, id_col="doc_id"
    )
    return out.select("doc_id", "cluster_id", "is_survivor")


def simhash_docs(spark, sf_dir):
    """16-bit simhash over whitespace tokens (md5-derived bit hashes)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    tok_h = F.transform(
        toks,
        lambda t: F.conv(
            F.substring(F.md5(t.cast("binary")), 1, 4), 16, 10
        ).cast("long"),
    )
    sim = F.lit(0).cast("long")
    for j in range(16):
        hits = F.size(
            F.filter(tok_h, lambda h: h.bitwiseAND(F.lit(1 << j)) != 0)
        )
        bit = F.when(hits * 2 >= n, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = sim + bit * F.lit(1 << j).cast("long")
    return d.select("doc_id", sim.alias("simhash16"))


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for the first 20 vectors."""
    em = _t(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("target_id"), F.col("embedding").alias("qv")
    )
    c = em.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    j = (
        q.crossJoin(c)
        .filter(F.col("target_id") != F.col("neighbor_id"))
        .withColumn("cos", _cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("target_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("target_id", "neighbor_id", _rq("cos").alias("cos"), "rnk")
    )


def quantized_cosine_topk(spark, sf_dir):
    """Top-3 neighbors by cosine in the INT8-quantized domain — 4× less
    vector storage/shuffle than float32 with near-identical ranking
    (recall vs the float brute force measured in tests/test_quant.py).
    All JVM-side; scores are engine-exact because quantized dots/norms
    are integers (< 2^53, order-independent in float64). Rank on the
    ROUNDED score + id tiebreak so both engines break ties alike."""
    from query_cost_feature_engineering_spark.operators.quant import (
        int_dot,
        with_quantized,
    )

    # norms are per-VECTOR, so compute them once before the join — per
    # pair only the single dot fold remains (3× fewer 64-element folds)
    em = with_quantized(_t(spark, sf_dir, "embeddings")).withColumn(
        "nq", int_dot(F.col("q"), F.col("q"))
    )
    q = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("target_id"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    c = em.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    )
    den = F.sqrt((F.col("na") * F.col("nb")).cast("double"))
    score = F.when(
        den > 0, int_dot(F.col("qa"), F.col("qb")).cast("double") / den
    )
    j = (
        q.crossJoin(c)
        .filter(F.col("target_id") != F.col("neighbor_id"))
        .withColumn("qcos", _rq(score))
    )
    w = Window.partitionBy("target_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("target_id", "neighbor_id", "qcos", "rnk")
    )


def embedding_neardup_pairs(spark, sf_dir):
    """Embedding near-dup (cosine ≥ 0.35, a<b) via SRP-LSH candidates +
    exact cosine verify — the round-1 crossJoin replaced by one bucket
    equi-join. LSH recall < 1 by construction, so the DuckDB oracle
    mirrors the identical candidate generation (as ann_lsh_topk does);
    recall vs brute force is measured in tests/test_multimodal_ann.py."""
    from query_cost_feature_engineering_spark.operators.neardup import (
        srp_candidate_pairs,
    )

    em = _t(spark, sf_dir, "embeddings")
    out = srp_candidate_pairs(em, "vec_id", "embedding", 0.35)
    return out.select(
        F.col("vec_id_a").alias("id_a"),
        F.col("vec_id_b").alias("id_b"),
        _rq("cos").alias("cos"),
    )


def stream_sessionize_events(spark, sf_dir):
    """Structured-Streaming gap sessionization (session_window + watermark,
    availableNow). Append mode emits exactly the sessions finalized by the
    final watermark (max event time - 2h), which the SQL oracle mirrors."""
    import os
    import shutil

    from query_cost_feature_engineering_spark.streaming.sessions import (
        read_events_stream,
        run_stream_to_memory,
        sessionize_stream,
    )

    d = os.path.join(_workdir(), "stream_" + str(abs(hash(sf_dir)) % 10**8))
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/part-000.parquet")
    stream = read_events_stream(spark, d)
    out = run_stream_to_memory(
        sessionize_stream(stream, gap_s=1800, watermark="7200 seconds"),
        state_partitions=8,
    )
    return out.select(
        "user_id",
        F.col("session_start"),
        F.col("n_events").cast("long").alias("n_events"),
        _rq("sum_value").alias("sum_value"),
        "last_ts",
    )


def stream_tumbling_events(spark, sf_dir):
    """Streaming tumbling-window counts (1 day, 2h watermark, availableNow);
    append mode emits exactly the windows finalized by the final watermark."""
    import os
    import shutil

    from query_cost_feature_engineering_spark.streaming.sessions import (
        read_events_stream,
        run_stream_to_memory,
        tumbling_counts_stream,
    )

    d = os.path.join(_workdir(), "stream_" + str(abs(hash(sf_dir)) % 10**8))
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/part-000.parquet")
    out = run_stream_to_memory(
        tumbling_counts_stream(read_events_stream(spark, d)),
        state_partitions=8,
    )
    return out.select(
        "day",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        _rq("sum_value").alias("sum_value"),
    )


def stream_enrich_events(spark, sf_dir):
    """Stream-static broadcast join: streaming purchases enriched with a
    per-user profile dimension computed in batch. Row-wise deterministic,
    so the batch SQL oracle matches exactly."""
    import os
    import shutil

    from query_cost_feature_engineering_spark.streaming.sessions import (
        enrich_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    d = os.path.join(_workdir(), "stream_" + str(abs(hash(sf_dir)) % 10**8))
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/part-000.parquet")
    dim = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_total"),
            F.min("ts").alias("first_seen"),
        )
    )
    stream = read_events_stream(spark, d).filter(
        F.col("event_type") == "purchase"
    )
    out = run_stream_to_memory(enrich_stream(stream, dim, on="user_id"))
    return out.select(
        "event_id",
        "user_id",
        _rq("value").alias("value"),
        F.col("n_events_total").cast("long").alias("n_events_total"),
        "first_seen",
    )


def stream_dedup_events(spark, sf_dir):
    """Streaming exact dedup via dropDuplicatesWithinWatermark — bounded
    state (watermark-evicted), unlike plain dropDuplicates. Emits the key
    set only (arrival order within a batch is scheduling-dependent, the
    key set is not), so the batch oracle is SELECT DISTINCT keys."""
    import os
    import shutil

    from query_cost_feature_engineering_spark.streaming.sessions import (
        dedup_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    d = os.path.join(_workdir(), "stream_" + str(abs(hash(sf_dir)) % 10**8))
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/part-000.parquet")
    out = run_stream_to_memory(
        dedup_stream(read_events_stream(spark, d)), state_partitions=8
    )
    return out.select("user_id", "ts", "event_type")


def stream_stateful_user_stats(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running (count, sum, last_ts) state folded across
    micro-batches — the API surface for stateful logic session_window
    can't express. Bounded availableNow run ⇒ final emission per user
    equals the batch aggregate, which the oracle checks."""
    import os
    import shutil

    from query_cost_feature_engineering_spark.streaming.sessions import (
        read_events_stream,
        run_stream_to_memory,
        stateful_user_stats_stream,
    )

    d = os.path.join(_workdir(), "stream_" + str(abs(hash(sf_dir)) % 10**8))
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/part-000.parquet")
    out = run_stream_to_memory(
        stateful_user_stats_stream(read_events_stream(spark, d)),
        mode="update",
        state_partitions=8,
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        _rq("sum_value").alias("sum_value"),
        "last_ts",
    )


# PII patterns shared by the Spark query and the DuckDB oracle. Both are
# deliberately dialect-neutral (character classes + bounded quantifiers
# only — no lookaround, no \b) so Java regex (Spark) and RE2 (DuckDB)
# agree on every match.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?\d[\d-]{7,}\d"


def pii_scrub_docs(spark, sf_dir):
    """PII scrubbing — the redaction pass a pretraining corpus runs
    before anything else ships. The synthetic corpus carries no natural
    PII, so the query first INJECTS deterministic email/phone spans
    (pure functions of doc_id, built identically in the oracle — the
    same both-engines-synthesize pattern as the plan corpora), then
    scrubs: emails → <EMAIL>, phone-like digit runs → <PHONE>, with
    per-doc match counts and a digest of the redacted text. Everything
    is JVM regexp (map-only, no shuffle, no UDF); at 10^12 rows this is
    a single scan."""
    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" now"),
        ).alias("text2"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text2"), F.lit(PII_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(PII_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return seeded.select(
        "doc_id",
        F.regexp_count(F.col("text2"), F.lit(PII_EMAIL_RE))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count(F.col("text2"), F.lit(PII_PHONE_RE))
        .cast("long")
        .alias("n_phones"),
        F.length(redacted).cast("long").alias("red_len"),
        F.md5(redacted.cast("binary")).alias("red_digest"),
    )


def repetition_docs(spark, sf_dir):
    """Gopher-style repetition quality signals per document — duplicate
    line fraction and duplicate word fraction, the standard "remove
    boilerplate/looping text" pretraining filters. All JVM-side array
    expressions (split / array_distinct / size); no UDF."""
    d = _t(spark, sf_dir, "documents")
    lines = F.filter(
        F.split(F.col("text"), "\n"), lambda s: F.length(s) > 0
    )
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-zà-ÿ]+"),
        lambda s: F.length(s) > 0,
    )
    n_lines = F.size(lines)
    n_words = F.size(words)
    return d.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        n_words.cast("long").alias("n_words"),
        _rq(
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double")
            / F.greatest(n_lines, F.lit(1)).cast("double")
        ).alias("dup_line_frac"),
        _rq(
            F.lit(1.0)
            - F.size(F.array_distinct(words)).cast("double")
            / F.greatest(n_words, F.lit(1)).cast("double")
        ).alias("dup_word_frac"),
    )


def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed cosine top-3 — the scale path for embedding_cosine_topk
    (operators/ann.py). Oracle runs the identical algorithm in DuckDB."""
    from query_cost_feature_engineering_spark.operators.ann import ann_topk

    em = _t(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("target_id"), F.col("embedding").alias("qv")
    )
    c = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    out = ann_topk(q, c, k=3)
    return out.select("target_id", "neighbor_id", _rq("cos").alias("cos"), "rnk")


def _ann_ivf_topk_raw(spark, sf_dir):
    """Raw trained-IVF top-3 (operators/ann.ivf_topk): driver-side
    seeded k-means on a deterministic sample, distributed cell
    assignment, one cell-id equi-join for candidates, exact rescoring.
    Used directly by the recall/determinism tests; the REGISTRY entry
    wraps it in invariant columns the SQL oracle can predict."""
    from query_cost_feature_engineering_spark.operators.ann import ivf_topk

    em = _t(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("target_id"), F.col("embedding").alias("qv")
    )
    c = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    out = ivf_topk(q, c, k=3)
    return out.select("target_id", "neighbor_id", _rq("cos").alias("cos"), "rnk")


# The trained path must recover at least this share of the exact top-3
# pairs (the pytest gate uses the same floor); well below the ~0.9
# observed so the oracle pins "recall did not collapse", not an epoch.
ANN_IVF_MIN_RECALL = 0.5


def ann_ivf_topk(spark, sf_dir):
    """Trained-IVF top-3 as an INVARIANT-oracled query (the
    approx_profile_orders pattern — round-4 verdict asked for harder
    checks on the rows-only queries): the k-means step itself is not
    SQL-expressible, so the registry emits per-row invariants the
    oracle CAN predict — ``(target_id, rnk, rank_ok, recall_ok)``
    where ``rank_ok`` says the target's result list has exactly k
    dense ranks with non-increasing cosine, and ``recall_ok`` says
    global recall vs the EXACT brute-force top-3
    (embedding_cosine_topk's plan, computed in the same job) clears
    ``ANN_IVF_MIN_RECALL``. A collapsed k-means, duplicate ranks, a
    missing result row, or an unsorted list each flip a value or the
    row count and fail the driver hash. The raw neighbor/cos surface
    stays pytest-pinned via _ann_ivf_topk_raw."""
    raw = _ann_ivf_topk_raw(spark, sf_dir)
    exact = embedding_cosine_topk(spark, sf_dir).select(
        "target_id", "neighbor_id"
    )
    j = raw.join(
        exact.withColumn("_hit", F.lit(1)),
        ["target_id", "neighbor_id"],
        "left",
    )
    arr = F.sort_array(
        F.collect_list(F.struct(F.col("rnk").alias("r"), F.col("cos").alias("c")))
    )
    per_t = j.groupBy("target_id").agg(
        arr.alias("_a"), F.sum(F.coalesce("_hit", F.lit(0))).alias("_hits")
    )
    n = F.size("_a")
    cs = F.transform("_a", lambda s: s["c"])
    rank_ok = (
        (n == 3)
        & (F.transform("_a", lambda s: s["r"].cast("long"))
           == F.sequence(F.lit(1).cast("long"), n.cast("long")))
        & F.forall(
            F.zip_with(
                F.slice(cs, 1, n - 1),
                F.slice(cs, 2, n - 1),
                lambda a, b: a >= b,
            ),
            lambda x: x,
        )
    )
    per_t = per_t.select("target_id", rank_ok.alias("rank_ok"), "_hits")
    tot = per_t.agg(
        (F.sum("_hits") / F.sum(F.lit(3))).alias("_recall")
    ).select((F.col("_recall") >= ANN_IVF_MIN_RECALL).alias("recall_ok"))
    return (
        per_t.crossJoin(F.broadcast(tot))
        .select(
            "target_id",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.lit(3).cast("long"))
            ).alias("rnk"),
            "rank_ok",
            "recall_ok",
        )
    )


def ann_ivf_fixed_topk(spark, sf_dir):
    """IVF cosine top-3 with deterministic md5-ranked anchors
    (operators/ann.ivf_fixed_topk) — the ORACLED IVF variant: anchor
    selection, quantized-argmax cell assignment, n_probe cell probing,
    and exact rescoring are all re-derived in DuckDB SQL, so the driver
    hash-checks the whole inverted-file pipeline (the trained-centroid
    ivf_topk stays the production path; only its k-means step is not
    SQL-expressible)."""
    from query_cost_feature_engineering_spark.operators.ann import (
        ivf_fixed_topk,
    )

    em = _t(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("target_id"), F.col("embedding").alias("qv")
    )
    c = em.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    out = ivf_fixed_topk(q, c, k=3)
    return out.select("target_id", "neighbor_id", _rq("cos").alias("cos"), "rnk")


def text_analysis_docs(spark, sf_dir):
    from query_cost_feature_engineering_spark.functions.text import (
        with_text_analysis,
    )

    d = _t(spark, sf_dir, "documents")
    out = with_text_analysis(d, "text")
    return out.select(
        "doc_id",
        "lang_pred",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("hits_en").cast("long").alias("hits_en"),
        _rq("punct_ratio").alias("punct_ratio"),
        _rq("quality_score").alias("quality_score"),
        "fingerprint",
    )


def lm_quality_docs(spark, sf_dir):
    """Bigram-LM perplexity-style quality scoring — the CCNet/KenLM
    filtering step of LLM-pretraining pipelines, Spark-first: documents
    are scored by the mean add-one-smoothed bigram log-probability under
    a language model trained on the corpus ITSELF (low scores = text
    unlike the corpus: boilerplate, noise, wrong-language shards).

    Plan shape (10^12-doc safe): ONE explode pass builds the corpus
    bigram and unigram count tables (map-side combine makes shuffle
    volume vocabulary-sized, not token-sized); the vocabulary size is a
    1-row aggregate cross-joined as a broadcast scalar; scoring is an
    equi-join of per-doc bigrams against the count tables (shuffle on
    bigram key — the model tables stay DISTRIBUTED, never collected) +
    one per-doc aggregation. score = avg over doc bigrams of
    ln((c(w1 w2)+1) / (c(w1)+V)).  No UDF, no driver-side model.

    Round-5 (round-4 verdict "what's wrong #3"): every shuffle/join key
    is xxhash64-compacted at explode time — 8-byte keys instead of raw
    (w1, w2) text — and the exploded bigram table is materialized ONCE
    (lazy ``localCheckpoint``, the repo's neardup/cluster idiom) instead
    of recomputing the split+transform+explode lineage for both the
    count aggregation and the scoring join. The oracle joins on the
    token STRINGS; results are identical unless a 64-bit collision
    merges two distinct tokens/bigrams (negligible and deterministic —
    the same documented contract as contamination_ngram_docs)."""
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.lower(F.col("text")), " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    doc_bigrams = (
        d.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(toks, 1, size(toks) - 1),"
                    " (w, i) -> struct(xxhash64(w, toks[i + 1]) AS bk,"
                    " xxhash64(w) AS uk))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.bk", "bg.uk")
        .localCheckpoint(eager=False)
    )
    cnt_b = doc_bigrams.groupBy("bk").agg(F.count(F.lit(1)).alias("cb"))
    unigrams = d.select(F.explode("toks").alias("w")).select(
        F.xxhash64("w").alias("uk")
    )
    cnt_u = unigrams.groupBy("uk").agg(F.count(F.lit(1)).alias("cu"))
    vocab = cnt_u.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        doc_bigrams.join(cnt_b, "bk")
        .join(cnt_u, "uk")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp",
            F.log((F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v"))),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            _rq(F.avg("lp")).alias("lm_score"),
        )
    )
    return scored.select("doc_id", "n_bigrams", "lm_score")


def ccnet_buckets_docs(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020)
    — the step between lang-ID and dedup in the CCNet pipeline: score
    every doc under the corpus bigram LM (``lm_quality_docs``), then
    split each LANGUAGE's docs into score terciles; head+middle are
    kept, the tail (text least like the corpus: noise, boilerplate,
    wrong-language shards) is dropped. Emits ``(doc_id, lang,
    n_bigrams, lm_score, tercile, bucket, kept)``.

    Plan shape: the LM scoring plan (one explode pass, vocabulary-sized
    shuffles — see lm_quality_docs) + one doc_id equi-join to recover
    ``lang`` + ONE ntile window per language. An exact per-language
    ntile needs a per-language global sort, so at 10^12 docs the
    production form replaces it with approx-quantile CUTOFFS (two
    numbers per language, broadcast — the deciles_orders idiom; CCNet
    itself uses fixed precomputed thresholds); the exact ntile is the
    oracle-able contract at test scale. Determinism: ntile orders by
    (rounded lm_score DESC, doc_id) — a total order both engines sort
    identically, and ANSI ntile distributes remainders to the first
    groups in both. Docs with < 2 tokens have no bigrams and are not
    scored (the lm_quality contract)."""
    scored = lm_quality_docs(spark, sf_dir)
    langs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score").desc(), F.col("doc_id")
    )
    t = F.ntile(3).over(w)
    return (
        scored.join(langs, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "lm_score",
            t.cast("long").alias("tercile"),
        )
        .withColumn(
            "bucket",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("tercile").cast("int"),
            ),
        )
        .withColumn("kept", F.col("tercile") <= 2)
    )


# URL/domain dedup: deterministic synthetic URL per doc (same seeded-
# injection pattern as pii_scrub_docs — the documents table carries no
# URL column), Zipf-skewed toward domain 0 so the hot-domain path is
# actually exercised. Cap + blocklist values are the operator contract.
DOMAIN_CAP = 15
DOMAIN_BLOCKLIST = ["site5.org", "site7.co.uk"]
_MULTIPART_SUFFIXES = ["co.uk", "com.au"]


def domain_dedup_docs(spark, sf_dir):
    """URL/domain-level dedup + filtering — the Dolma/RedPajama-style
    source-level pass that runs BEFORE content dedup: normalize URL →
    registered-domain extraction (public-suffix-aware: two labels, or
    three when the host ends in a multi-part suffix like co.uk) →
    broadcast blocklist filter → per-domain document cap, emitting
    ``(doc_id, host, domain, domain_rank, blocked, kept)``.

    Plan shape (10^12-doc safe): URL synthesis + host/domain extraction
    are map-only JVM string ops (regexp_extract / translate-free); the
    blocklist is a literal broadcast membership test; the per-domain cap
    is ONE window (row_number partitioned by domain, ordered by doc_id)
    — the lone shuffle. Web domains are the textbook Zipf key (~40% of
    this corpus lands on site0.com by construction); AQE handles the
    skewed exchange, and because only ranks <= cap are *kept*, a real
    deployment can pre-filter with a per-partition partial top-cap
    before the shuffle. Oracle: identical string ops in DuckDB."""
    h16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    # ~40% of docs hash to domain 0 (the hot head); the rest spread 1-15
    idx = F.when(h16 % 5 <= 1, F.lit(0)).otherwise(h16 % 15 + 1)
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("co.uk")),
        (idx % 4 + 1).cast("int"),
    )
    www = F.when(h16 % 3 == 0, F.lit("www.")).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://"),
        www,
        F.lit("site"),
        idx.cast("string"),
        F.lit("."),
        tld,
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.when(h16 % 7 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    host = F.regexp_replace(
        F.regexp_extract(F.lower(F.col("url")), r"^[a-z]+://([^/?#]+)", 1),
        r"^www\.",
        "",
    )
    parts = F.split(F.col("host"), r"\.")
    last2 = F.concat_ws(".", F.slice(parts, -2, 2))
    domain = F.when(
        last2.isin(_MULTIPART_SUFFIXES) & (F.size(parts) >= 3),
        F.concat_ws(".", F.slice(parts, -3, 3)),
    ).otherwise(last2)
    d2 = (
        d.withColumn("host", host)
        .withColumn("domain", domain)
        .withColumn(
            "blocked", F.col("domain").isin(DOMAIN_BLOCKLIST)
        )
    )
    w = Window.partitionBy("domain").orderBy("doc_id")
    return (
        d2.withColumn("domain_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "kept", ~F.col("blocked") & (F.col("domain_rank") <= DOMAIN_CAP)
        )
        .select("doc_id", "host", "domain", "domain_rank", "blocked", "kept")
    )


# Language-ID model: per-language character-bigram profiles (the
# Cavnar–Trenkle n-gram method, the first filter of the CCNet / Dolma /
# RedPajama pretraining pipelines). The synthetic corpus carries lang
# labels but language-invariant text, so each language's text is first
# passed through a deterministic per-language vowel permutation (a
# Latin square — every language maps every vowel differently), giving
# the five labels genuinely distinct character distributions to learn.
LANGID_LANGS = ["de", "en", "es", "fr", "zh"]
LANGID_VOWEL_MAP = {
    "en": "aeiou",  # identity
    "es": "eioua",
    "fr": "iouae",
    "de": "ouaei",
    "zh": "uaeio",
}


def lang_id_docs(spark, sf_dir):
    """Language identification — char-bigram naive-Bayes profiles
    (Cavnar–Trenkle / CCNet's first filter), trained on a deterministic
    ~50% md5 split of the corpus and applied to EVERY document,
    emitting ``(doc_id, lang, pred_lang, correct, score)``.

    Plan shape (10^12-doc safe): one map-only pass applies the
    per-language text transform and explodes character bigrams; the
    per-(lang, bigram) count table is vocabulary-sized (map-side
    combine; ~|charset|² × |langs| rows) and BROADCAST to the scoring
    side, so scoring is map-side — each doc's bigrams are crossed with
    the 5-language literal array, left-joined against the broadcast
    profile (coalesce 0 for unseen grams), and reduced by ONE shuffle
    (groupBy doc_id × lang) before a per-doc argmax window (partitioned
    by doc_id). score(d, L) = Σ ln((c_L(bg)+1)/(tot_L+V)) — add-one
    smoothing, same family as lm_quality_docs. The argmax orders by the
    6-dp-rounded score (nudged, both sides) then lang, so partial-sum
    ordering noise can never flip the prediction. No UDF, no
    driver-side model."""
    t2 = F.lower(F.col("text"))
    for lg, to in LANGID_VOWEL_MAP.items():
        t2 = F.when(
            F.col("lang") == lg,
            F.translate(F.lower(F.col("text")), "aeiou", to),
        ).otherwise(t2)
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang").isin(LANGID_LANGS))
        .select(
            "doc_id",
            "lang",
            t2.alias("t2"),
            (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
                < F.lit("80000000")
            ).alias("is_train"),
        )
        .filter(F.length("t2") >= 2)
    )
    # Guarded spread: a small corpus arrives as one parquet split, which
    # would serialize every downstream map stage (translate, explode,
    # partial aggs) onto one core. Repartition ONLY when the scan has
    # fewer splits than cores — at real scale the input already has
    # thousands of splits and this is a no-op (no corpus shuffle).
    par = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < par:
        d = d.repartition(par)
    # One explode, materialized ONCE (lazy localCheckpoint — the
    # lm_quality/neardup idiom): profile, total, vocabulary and scoring
    # all derive from this frame; without the checkpoint Catalyst plans
    # four separate scan+translate+explode lineages (no exchange reuse
    # fires across the differing aggregations).
    bigrams = d.select(
        "doc_id",
        "lang",
        "is_train",
        F.explode(
            F.expr("transform(sequence(1, length(t2) - 1), i -> substring(t2, i, 2))")
        ).alias("bg"),
    ).localCheckpoint(eager=False)
    prof = (
        bigrams.filter("is_train")
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = prof.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = prof.select("bg").distinct().agg(F.count(F.lit(1)).alias("v"))
    cand = bigrams.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        "bg",
        F.explode(F.array(*[F.lit(lg) for lg in LANGID_LANGS])).alias("lang"),
    )
    scored = (
        cand.join(F.broadcast(prof), ["lang", "bg"], "left")
        .join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                / (F.col("tot") + F.col("v"))
            ),
        )
        .groupBy("doc_id", "actual_lang", "lang")
        .agg(F.sum("lp").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score") + F.lit(1e-9), 6).desc(), F.col("lang")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return best.select(
        "doc_id",
        F.col("actual_lang").alias("lang"),
        F.col("lang").alias("pred_lang"),
        (F.col("lang") == F.col("actual_lang")).alias("correct"),
        _rq("score").alias("score"),
    )


def token_stats_docs(spark, sf_dir):
    """Distributed token statistics under a FIXED BPE-style subword
    vocabulary (VERDICT r4 #9 — real tokenizer lengths for sequence
    packing, replacing the whitespace proxy). Emits per doc:
    ``(doc_id, n_words, n_bpe_tokens, n_unk, chars_per_token)``.

    Plan shape (10^12-token safe): the greedy longest-match tokenizer
    (Arrow UDF, ``functions.text.bpe_token_stats``) runs over DISTINCT
    words only — Zipf's law makes |distinct words| orders of magnitude
    smaller than the corpus token count, so the Python-side cost is
    O(corpus vocabulary), not O(tokens). Occurrences then rejoin the
    tokenized word table by word key (AQE broadcasts it when small,
    shuffle-hash otherwise — both sides are already narrow projections)
    and reduce with ONE groupBy(doc_id) carrying map-side combine.
    Tokenization never touches full document text twice: the explode is
    the same single pass that feeds the distinct.

    The DuckDB oracle re-implements greedy longest-match independently
    (recursive CTE advancing by the longest matching piece per step)
    against the same frozen vocabulary artifact — verifying the
    algorithm, not replaying the UDF."""
    from query_cost_feature_engineering_spark.functions.text import (
        bpe_token_stats,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tok = (
        words.select("w")
        .distinct()
        .withColumn("ts", bpe_token_stats()(F.col("w")))
        .select(
            "w",
            F.col("ts.n_bpe").alias("w_bpe"),
            F.col("ts.n_unk").alias("w_unk"),
        )
    )
    per_doc = (
        words.join(tok, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("w_bpe").cast("long").alias("n_bpe_tokens"),
            F.sum("w_unk").cast("long").alias("n_unk"),
        )
    )
    base = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        base.join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            "n_unk",
            _rq(
                F.col("n_chars") / F.expr("nullif(n_bpe_tokens, 0)"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


# Gopher document-quality rules (Rae et al. 2021, appendix A1.1) — the
# heuristic pre-filter every public pretraining pipeline applies before
# dedup/LM scoring. Thresholds are the published ones; the stopword list
# is Gopher's 8-word set.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_quality_docs(spark, sf_dir, min_words=None, min_stopwords=None):
    """Gopher quality-filter rules — per-document heuristic quality
    gates: word-count bounds, mean word length in [3, 10], symbol-to-
    word ratio (# and …) <= 0.1, >= 80% of words containing an
    alphabetic character, and >= 2 distinct stop words present.
    ``min_words``/``min_stopwords`` default to the published Rae et al.
    constants; they are the calibration knobs every real deployment
    turns per corpus (the published values are English-web-specific) —
    corpus_pipeline_docs passes corpus-calibrated values.

    Plan shape (10^12-doc safe): every metric is a map-only JVM
    expression over the tokenized text (split / filter / aggregate /
    array_intersect — no UDF, no shuffle, no driver state); the
    operator composes with a pushed-down projection of exactly
    (doc_id, text). At 100 TB this is the cheapest pass in the
    pipeline — one scan, zero exchanges. Oracle: identical string ops
    in DuckDB (list_filter / list_reduce / list_intersect)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("t")
    )
    d = d.withColumn(
        "ws", F.filter(F.split("t", " "), lambda w: w != F.lit(""))
    )
    wc = F.size("ws").cast("long")
    sum_len = F.aggregate(
        F.transform("ws", lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    alpha = F.size(F.filter("ws", lambda w: w.rlike("[a-z]"))).cast("long")
    hashes = (F.length("t") - F.length(F.translate("t", "#", ""))).cast(
        "long"
    )
    ellipses = (
        (F.length("t") - F.length(F.replace("t", F.lit("..."), F.lit(""))))
        / 3
    ).cast("long")
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    m = d.select(
        "doc_id",
        wc.alias("word_count"),
        (sum_len / F.nullif(wc, F.lit(0))).alias("_mwl"),
        ((hashes + ellipses) / F.nullif(wc, F.lit(0))).alias("_sym"),
        (alpha / F.nullif(wc, F.lit(0))).alias("_alpha"),
        F.size(F.array_intersect(F.array_distinct("ws"), stops))
        .cast("long")
        .alias("stopword_hits"),
    )
    mnw = GOPHER_MIN_WORDS if min_words is None else min_words
    mns = GOPHER_MIN_STOPWORDS if min_stopwords is None else min_stopwords
    passes = (
        m.word_count.between(mnw, GOPHER_MAX_WORDS)
        & m._mwl.between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        & (m._sym <= GOPHER_MAX_SYMBOL_RATIO)
        & (m._alpha >= GOPHER_MIN_ALPHA_FRAC)
        & (m.stopword_hits >= mns)
    )
    return m.select(
        "doc_id",
        "word_count",
        _rq("_mwl", 6).alias("mean_word_len"),
        _rq("_sym", 6).alias("symbol_ratio"),
        _rq("_alpha", 6).alias("frac_alpha_words"),
        "stopword_hits",
        passes.alias("passes"),
    )


# C4 cleaning rules (Raffel et al. 2020 §2.2, "Exploring the Limits of
# Transfer Learning..."): line-level gates (terminal punctuation, >= 5
# words, no "javascript"), page-level gates ("lorem ipsum" / "{" /
# >= 3 retained lines) and a corpus-level exact-line dedup keeping the
# globally first occurrence (the CCNet/Dolma paragraph-dedup variant of
# C4's three-sentence-span rule; multi-token spans are span_dedup_docs'
# job). The documents table has no newline structure, so — the
# lang_id_docs idiom — lines are DERIVED deterministically inside the
# query (8-word chunks decorated via md5(doc_id:line_no) into plain /
# lorem / brace / javascript / boilerplate shapes) and the DuckDB
# oracle re-derives them with its own string ops.
C4_LINE_WORDS = 8
C4_MIN_LINE_WORDS = 5
C4_MIN_LINES = 3
C4_LOREM = "lorem ipsum dolor sit amet consectetur."
C4_BOILER = [
    "all rights reserved contact the site administrator for details.",
    "click here to subscribe to our weekly newsletter today.",
]


HTML_MIN_MAIN_CHARS = 40  # extraction gate: pages with less main text drop


def html_extract_docs(spark, sf_dir):
    """HTML boilerplate removal — the step every web-crawl corpus
    pipeline (C4/CCNet/RefinedWeb/Dolma) runs FIRST: strip chrome
    (nav / ads / related links / footer / head), strip tags, collapse
    whitespace, keep the article text. Emits ``(doc_id, html_len,
    main_len, n_links, boilerplate_ratio, text_digest, roundtrip_ok,
    passes)``.

    Both sides synthesize the page deterministically around
    ``documents.text`` (title, nav with links, an ad div, the article
    with an ``<em>`` inline-emphasis injection, related-links div,
    footer), so ``roundtrip_ok`` is a REAL end-to-end property: the
    extracted main text must equal the whitespace-normalized original
    article — chrome exactly removed, inline tags stripped without
    damaging content.

    Plan shape (10^12-page safe): map-only — a chain of JVM
    ``replace``/``regexp_replace``/``md5`` expressions inside one
    whole-stage-codegen span; zero UDFs, zero exchanges (the plan is a
    bare Scan -> Project). All regexes are RE2-safe (non-greedy
    ranges, no backreferences), so the DuckDB oracle runs the
    IDENTICAL patterns with the ``'g'`` flag."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title></head><body><nav><a href=\"/\">home</a> "
              "<a href=\"/t/"), (F.col("doc_id") % 5).cast("string"),
        F.lit("\">topic</a></nav><div class=\"ad\">SALE "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(" click now</div><article><p>"),
        F.replace(F.col("text"), F.lit(" scan "), F.lit(" <em>scan</em> ")),
        F.lit("</p></article><div class=\"related\"><a href=\"/d/"),
        (F.col("doc_id") + 1).cast("string"),
        F.lit("\">next</a> <a href=\"/d/"),
        (F.col("doc_id") + 2).cast("string"),
        F.lit("\">more</a></div><footer>(c) "), F.col("source"),
        F.lit(" archive</footer></body></html>"),
    )
    d = d.withColumn("html", html)
    main = F.col("html")
    for pat in (
        "<head>.*?</head>",
        "<nav>.*?</nav>",
        '<div class="ad">.*?</div>',
        '<div class="related">.*?</div>',
        "<footer>.*?</footer>",
        "<[^>]*>",
    ):
        main = F.regexp_replace(main, pat, " ")
    main = F.trim(F.regexp_replace(main, "\\s+", " "))
    norm = F.trim(F.regexp_replace(F.col("text"), "\\s+", " "))
    d = d.select(
        "doc_id",
        F.length("html").cast("long").alias("html_len"),
        main.alias("main"),
        norm.alias("norm"),
        F.size(F.regexp_extract_all("html", F.lit("<a href"), F.lit(0)))
        .cast("long").alias("n_links"),
    )
    return d.select(
        "doc_id",
        "html_len",
        F.length("main").cast("long").alias("main_len"),
        "n_links",
        _rq(F.lit(1.0) - F.length("main") / F.col("html_len"), 6).alias(
            "boilerplate_ratio"
        ),
        F.md5(F.col("main").cast("binary")).alias("text_digest"),
        (F.col("main") == F.col("norm")).alias("roundtrip_ok"),
        (F.length("main") >= HTML_MIN_MAIN_CHARS).alias("passes"),
    )


def c4_clean_docs(spark, sf_dir):
    """C4 cleaning pipeline (Raffel et al. 2020) — per-page summary
    ``(doc_id, n_lines, kept_lines, dup_removed, final_lines,
    page_kept)`` after line gates, page gates, and corpus-level exact
    first-occurrence line dedup.

    Line synthesis (mirrored verbatim by the oracle): the lowered text
    splits into 8-word lines; ``h = md5(doc_id || ':' || line_no)``
    decorates each line — ``h[0:2] == '00'`` -> the lorem-ipsum page
    killer, ``'01'`` -> a trailing ``{`` page killer, ``h[0] == '1'``
    -> a "javascript"-prefixed line (line killer), ``h[0] in '23'`` ->
    one of two fixed boilerplate lines (organic cross-corpus
    duplicates, variant by ``h[1] < '8'``), else the plain line with a
    terminal ``.`` iff ``h[2] < 'c'``.

    Plan shape (10^12-doc safe): ONE corpus scan — synthesis + gates
    are one map-only pass (split/slice/posexplode_outer/md5 — zero
    UDFs; zero-line docs ride the same scan as NULL-line rows instead
    of a second scan + union). Page verdicts use a
    window partitioned by doc_id; the per-doc aggregate reuses that
    hash partitioning (no second exchange). Corpus dedup is ONE
    groupBy(line) -> min(struct(doc_id, line_no)) with map-side
    combine + ONE equi-join back — the boilerplate lines are exactly
    the Zipf-hot keys real web footers produce; the min-struct
    pre-aggregation shrinks hot groups map-side, whereas a row_number
    window over the line key would serialize each hot footer into one
    task. Observed at the 50k-doc soak volume: AQE re-plans the
    join-back as a BroadcastHashJoin of the winners table (executed
    plan checked); at corpus scale, where winners outgrow the
    broadcast threshold, it degrades to a sort-merge join whose hot
    probe keys AQE's skew split handles. Oracle: identical formulation
    in DuckDB (window row_number is safe at oracle scale)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda w: w != F.lit("")
        ).alias("ws"),
    )
    n_lines = (F.size("ws") / C4_LINE_WORDS).cast("int")
    # posexplode_OUTER over a when()-guarded array: docs with < 8 words
    # synthesize an EMPTY array (the guard matters — Spark's
    # sequence(0, -1) defaults its step to -1 and would emit two bogus
    # lines) and surface as one NULL-line row, so zero-line pages ride
    # the same single scan instead of a second corpus scan + union.
    # NOTE: _bloom_lines mirrors this split+guard verbatim (different
    # decoration); a fix here must be applied there and in BOTH oracles.
    arr = F.when(
        n_lines > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(
                F.slice("ws", i * C4_LINE_WORDS + 1, C4_LINE_WORDS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = d.select(
        "doc_id", F.posexplode_outer(arr).alias("line_no", "base")
    )
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                       F.col("line_no").cast("string")))
    c1, c2, c3 = (F.substring(h, i, 1) for i in (1, 2, 3))
    punct = F.when(c3 < F.lit("c"), F.lit(".")).otherwise(F.lit(""))
    line = (
        F.when((c1 == "0") & (c2 == "0"), F.lit(C4_LOREM))
        .when((c1 == "0") & (c2 == "1"), F.concat("base", F.lit(" {")))
        .when(c1 == "1", F.concat(F.lit("javascript "), "base", punct))
        .when((c1 == "2") | (c1 == "3"),
              F.when(c2 < F.lit("8"), F.lit(C4_BOILER[0]))
              .otherwise(F.lit(C4_BOILER[1])))
        .otherwise(F.concat("base", punct))
    )
    lw = F.size(F.filter(F.split("line", " "), lambda w: w != F.lit("")))
    lines = lines.select(
        "doc_id", "line_no", line.alias("line")
    ).withColumn(
        "line_kept",
        # coalesce: the NULL-line row of a zero-line doc fails every gate
        F.coalesce(
            F.endswith("line", F.lit("."))
            & (lw >= C4_MIN_LINE_WORDS)
            & ~F.contains("line", F.lit("javascript")),
            F.lit(False),
        ),
    )
    wd = Window.partitionBy("doc_id")
    lines = (
        lines.withColumn("n_lines", F.count("line").over(wd))
        .withColumn(
            "kept_lines", F.sum(F.col("line_kept").cast("long")).over(wd)
        )
        .withColumn(
            "page_kept",
            # coalesce: a zero-line doc's bool_or sees only NULLs
            F.coalesce(
                ~F.bool_or(
                    F.contains("line", F.lit("lorem ipsum"))
                ).over(wd)
                & ~F.bool_or(F.contains("line", F.lit("{"))).over(wd)
                & (F.sum(F.col("line_kept").cast("long")).over(wd)
                   >= C4_MIN_LINES),
                F.lit(False),
            ),
        )
    )
    pages = lines.groupBy("doc_id").agg(
        F.first("n_lines").cast("long").alias("n_lines"),
        F.first("kept_lines").cast("long").alias("kept_lines"),
        F.first("page_kept").alias("page_kept"),
    )
    cand = lines.filter(F.col("line_kept") & F.col("page_kept")).select(
        "doc_id", "line_no", "line"
    )
    winners = cand.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_no")).alias("w")
    )
    dups = (
        cand.join(winners, "line")
        .filter(
            (F.col("doc_id") != F.col("w.doc_id"))
            | (F.col("line_no") != F.col("w.line_no"))
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("dup_removed"))
    )
    return pages.join(dups, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "kept_lines",
        F.coalesce("dup_removed", F.lit(0).cast("long")).alias(
            "dup_removed"
        ),
        F.when(
            F.col("page_kept"),
            F.col("kept_lines")
            - F.coalesce("dup_removed", F.lit(0).cast("long")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("final_lines"),
        "page_kept",
    )


# Bloom-filter reference dedup (the Dolma pipeline's paragraph dedup:
# a bitset of reference-corpus paragraph keys, probed map-side — no
# join against the reference ever happens). m/k sized so the expected
# false-positive count over this corpus is << 1 at every test SF
# (fill <= 4% at sf0.1 -> per-probe FP ~ (0.04)^5 ~ 1e-7); the DuckDB
# oracle is the exact membership semi-join, which matches iff the
# filter produced zero false positives on this deterministic input —
# verified at sf0.001/0.01/0.1 and pinned by the FP-bound test in
# tests/test_bloom_dedup.py (false negatives are impossible by
# construction, which the same test also asserts).
BLOOM_M_BITS = 1 << 22  # 4.2M bits = 65,536 longs = 512 KiB broadcast
BLOOM_K = 5
BLOOM_DUP_FRAC_MAX = 0.3
_BLOOM_CACHE = StatsCache()  # bitset keyed by input fingerprint

def _bit_masks():
    """Literal 2^b masks (b = 0..63; 63 wraps to the sign bit) so the
    probe stays in pure JVM expressions — Column has no shift operator
    and F.shiftleft only takes a literal shift amount. Built lazily:
    Column literals need a live gateway, not import time."""
    return F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(64)
        ]
    )


def _bloom_lines(spark, sf_dir):
    """Shared line synthesis for the Bloom dedup: the C4 8-word line
    split (same ws/posexplode_outer single-scan idiom as c4_clean_docs)
    with a 2-case decoration — ``md5(doc_id:line_no)[0] in '0123'``
    swaps the line for one of the two fixed boilerplate strings
    (variant by ``h[1] < '8'``), everything else keeps the plain words.
    ~25% boilerplate gives the reference and probe sets genuine
    cross-document duplicate lines, exactly the footer/cookie-banner
    mass duplication the Dolma filter exists for."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda w: w != F.lit("")
        ).alias("ws"),
    )
    n_lines = (F.size("ws") / C4_LINE_WORDS).cast("int")
    arr = F.when(
        n_lines > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(
                F.slice("ws", i * C4_LINE_WORDS + 1, C4_LINE_WORDS), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    lines = d.select(
        "doc_id", F.posexplode_outer(arr).alias("line_no", "base")
    )
    h = F.md5(
        F.concat_ws(
            ":", F.col("doc_id").cast("string"), F.col("line_no").cast("string")
        )
    )
    line = F.when(
        F.col("base").isNull(), F.lit(None).cast("string")
    ).when(
        F.substring(h, 1, 1).isin("0", "1", "2", "3"),
        F.when(
            F.substring(h, 2, 1) < "8", F.lit(C4_BOILER[0])
        ).otherwise(F.lit(C4_BOILER[1])),
    ).otherwise(F.col("base"))
    return lines.select("doc_id", line.alias("line"))


def _bloom_positions(col, m: int, k: int):
    """k bit positions for a key: pmod(xxhash64(key, i), m) — the
    i-th hash is Spark's builtin xxhash64 over (key, lit(i)), all JVM."""
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)]
    )


def bloom_dedup_docs(spark, sf_dir):
    """Dolma-style Bloom-filter dedup against a reference corpus
    (Soldaini et al. 2024: paragraph-level dedup via a Bloom filter of
    the reference set, not a join): docs with ``doc_id % 3 == 0`` are
    the REFERENCE; every other doc is probed line-by-line against a
    bitset of the reference's distinct lines, emitting ``(doc_id,
    n_lines, n_dup_lines, dup_frac, kept)`` with ``kept = dup_frac <=
    0.3`` (the Dolma page rule).

    Plan shape (10^12-doc safe — this is the one dedup variant whose
    scale path has NO shuffle on the probe side): build = one distinct
    + one groupBy(word) bit_or over <= m/64 rows, collected once into a
    512 KiB long-array (cached by input fingerprint, the
    runtime/statcache contract); probe = map-only scan x 5 xxhash64 +
    element_at bit tests against the scalar-broadcast bitset (the
    repo's bnlj-scalar(ok) idiom) feeding ONE groupBy(doc_id). At real
    scale the reference filter is built once and reused across every
    probe batch; a 10^10-key reference needs a sharded bitset (hash
    keys by range -> per-shard bitsets probed after one co-partitioned
    repartition) — same bit arithmetic, documented not implemented.
    Oracle: exact membership LEFT JOIN in DuckDB over the identical
    line synthesis (matches iff zero Bloom false positives — see the
    sizing note at BLOOM_M_BITS)."""
    lines = _bloom_lines(spark, sf_dir)
    ref = (
        lines.filter((F.col("doc_id") % 3 == 0) & F.col("line").isNotNull())
        .select("line")
        .distinct()
    )
    fp = plan_fingerprint(ref)
    key = (fp, BLOOM_M_BITS, BLOOM_K) if fp is not None else None

    def bitset_words():
        words = (
            ref.select(
                F.explode(
                    _bloom_positions(F.col("line"), BLOOM_M_BITS, BLOOM_K)
                ).alias("pos")
            )
            .select(
                F.shiftright(F.col("pos"), 6).cast("int").alias("wi"),
                F.element_at(
                    _bit_masks(), (F.col("pos") % 64).cast("int") + 1
                ).alias("mask"),
            )
            .groupBy("wi")
            .agg(F.expr("bit_or(mask)").alias("w"))
            .collect()
        )
        bits = [0] * (BLOOM_M_BITS // 64)
        for r in words:
            bits[r["wi"]] = r["w"]
        return bits

    bits = _BLOOM_CACHE.get_or_compute(key, bitset_words)
    bitset = spark.createDataFrame([(bits,)], "bits: array<bigint>")
    probe = lines.filter(F.col("doc_id") % 3 != 0).crossJoin(
        F.broadcast(bitset)
    )
    hit = F.col("line").isNotNull() & F.forall(
        _bloom_positions(F.col("line"), BLOOM_M_BITS, BLOOM_K),
        lambda p: (
            F.element_at(F.col("bits"), F.shiftright(p, 6).cast("int") + 1)
            .bitwiseAND(F.element_at(_bit_masks(), (p % 64).cast("int") + 1))
            != 0
        ),
    )
    agg = probe.groupBy("doc_id").agg(
        F.count("line").cast("long").alias("n_lines"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_dup_lines"),
    )
    dup_frac = _rq(
        F.col("n_dup_lines") / F.greatest(F.col("n_lines"), F.lit(1)), 6
    )
    return agg.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        dup_frac.alias("dup_frac"),
        (dup_frac <= BLOOM_DUP_FRAC_MAX).alias("kept"),
    )


# Deterministic training-order shuffle: shard count is the operator
# contract (a real deployment sizes it to the trainer's data-loader
# world size).
SHUFFLE_SHARDS = 16


def shard_shuffle_docs(spark, sf_dir):
    """Deterministic global shuffle into training shards — the
    reproducible data-order pass before sequence packing: every doc gets
    a pseudo-random but seed-free position derived from md5(doc_id), is
    assigned to one of ``SHUFFLE_SHARDS`` shards, ranked within its
    shard, and given a round-robin interleaved global position (shard-
    striped, the order a multi-worker data loader consumes).

    Plan shape (10^12-doc safe): the md5 key and shard id are map-only;
    the ONLY exchange is the per-shard window (row_number partitioned by
    shard, ordered by the hash key) — exactly ``SHUFFLE_SHARDS``-way.
    Because the key is uniform, shards are balanced by construction (no
    skew, no salting needed); global_pos needs no second shuffle — it is
    arithmetic on (shard, shard_pos). The window-per-shard plan stays
    bounded at real scale because shard COUNT scales with the corpus
    (production shards hold a fixed ~10k-100k docs each, so 10^12 docs
    means ~10^7 shards of constant size — per-task sort work never
    grows); the demo constant 16 only mirrors that ratio at sf scale.
    Oracle: identical md5 ordering in DuckDB."""
    key = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(key, 1, 4), 16, 10).cast("long")
        % SHUFFLE_SHARDS
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", key.alias("_k"), shard.alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("_k", "doc_id")
    return d.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("shard_pos"),
    ).withColumn(
        "global_pos",
        ((F.col("shard_pos") - 1) * SHUFFLE_SHARDS + F.col("shard")).cast(
            "long"
        ),
    )


# Corpus-calibrated Gopher constants for the capstone pipeline: the
# published English-web values (>= 50 words, >= 2 of 8 stopwords)
# reject 100% of this synthetic corpus (docs run 10-99 words with at
# most ONE listed stopword), which would make the composed `kept`
# vacuously false. Calibrating the two data-dependent floors to the
# corpus — exactly what a real deployment does before enabling the
# gates — keeps every gate live (~78% pass here).
PIPELINE_GOPHER_MIN_WORDS = 10
PIPELINE_GOPHER_MIN_STOPWORDS = 1


def corpus_pipeline_docs(spark, sf_dir):
    """Text-side CAPSTONE — the whole cleaning pipeline as ONE
    declarative plan, the way a production corpus build actually runs
    it: Gopher heuristic gates AND the C4 page verdict AND exact
    first-occurrence dedup decide ``kept``; survivors get their
    training shard + in-shard position (the shard_shuffle arithmetic);
    dropped docs carry NULL shard columns so the output is a complete
    per-document audit manifest ``(doc_id, gopher_ok, c4_ok,
    is_canonical, kept, shard, shard_pos)``.

    Plan shape (10^12-doc safe because each stage already is): the
    three verdicts are the EXACT plans of their standalone queries
    (each independently hash-oracled) joined on doc_id — Catalyst
    co-partitions the three doc_id exchanges; the md5 dedup adds one
    vocabulary-key groupBy+join; sharding is one window over survivors
    (shard count scales with corpus size — see shard_shuffle_docs).
    Composing declaratively instead of materializing between stages is
    the point: one job, no intermediate tables, full lineage. Oracle:
    the component oracle SQLs verbatim as subqueries + the same joins."""
    gq = gopher_quality_docs(
        spark,
        sf_dir,
        min_words=PIPELINE_GOPHER_MIN_WORDS,
        min_stopwords=PIPELINE_GOPHER_MIN_STOPWORDS,
    ).select("doc_id", F.col("passes").alias("gopher_ok"))
    c4 = c4_clean_docs(spark, sf_dir).select(
        "doc_id", F.col("page_kept").alias("c4_ok")
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("_th")
    )
    canon = docs.groupBy("_th").agg(F.min("doc_id").alias("_keep"))
    dd = docs.join(canon, "_th").select(
        "doc_id", (F.col("doc_id") == F.col("_keep")).alias("is_canonical")
    )
    j = (
        gq.join(c4, "doc_id")
        .join(dd, "doc_id")
        .withColumn(
            "kept",
            F.col("gopher_ok") & F.col("c4_ok") & F.col("is_canonical"),
        )
    )
    key = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(key, 1, 4), 16, 10).cast("long") % SHUFFLE_SHARDS
    )
    surv = j.filter("kept").select(
        "doc_id", key.alias("_k"), shard.alias("_s")
    )
    w = Window.partitionBy("_s").orderBy("_k", "doc_id")
    sh = surv.select(
        "doc_id",
        F.col("_s").alias("shard"),
        F.row_number().over(w).cast("long").alias("shard_pos"),
    )
    return j.join(sh, "doc_id", "left").select(
        "doc_id",
        "gopher_ok",
        "c4_ok",
        "is_canonical",
        "kept",
        "shard",
        "shard_pos",
    )


# SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space,
# then drop within-cluster semantic duplicates above a cosine threshold.
# The synthetic embeddings are near-isotropic (max pairwise cos ~0.51 at
# sf0.01), so the demo threshold sits at 0.3 — the paper's 0.95+ would
# drop nothing here; the threshold is the operator's tuning parameter.
SEMDEDUP_CELLS = 8
SEMDEDUP_TAU = 0.3


def semdedup_embeddings(spark, sf_dir):
    """SemDeDup — semantic deduplication over the embedding table:
    cluster vectors (deterministic md5-ordered anchors, the engine's
    oracled IVF assignment), then within each cluster mark every vector
    that has an EARLIER (smaller-id) cluster-mate with cosine >=
    ``SEMDEDUP_TAU`` as a semantic duplicate — the released SemDeDup
    code's triangular keep-first policy. Emits per vector:
    ``(vec_id, cell, n_prior_dups, max_prior_cos, kept)``.

    Plan shape (10^12-vector safe): anchor selection is a tiny hash-
    ordered limit; cell assignment is map-only (anchor cosines are plan
    constants — the same literal/matmul auto-routed path as
    ``ivf_fixed_topk``); the ONLY shuffle is the within-cell self-join
    on cell id. That quadratic-within-cluster cost is the published
    algorithm's shape — SemDeDup works precisely because k is sized so
    clusters stay small (~N/k vectors each); at real scale k ≈ √N keeps
    per-cell work bounded, and the cell id gives the join its full
    parallelism. Oracle: identical anchors, quantized argmax and fold-
    order cosine in DuckDB."""
    from query_cost_feature_engineering_spark.operators.ann import (
        CELL_COS_DECIMALS,
        _cos_expr,
    )

    corpus = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = (
        corpus.select(
            F.col("v").alias("_av"),
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(SEMDEDUP_CELLS)
        .collect()
    )
    cs = F.array(
        *[
            F.round(
                _cos_expr(
                    F.col("v"),
                    F.array(*[F.lit(float(x)) for x in r["_av"]]),
                ),
                CELL_COS_DECIMALS,
            )
            for r in anchors
        ]
    )
    ck = corpus.withColumn("_cs", cs).select(
        "vec_id",
        "v",
        F.array_position(F.col("_cs"), F.array_max("_cs"))
        .cast("int")
        .alias("cell"),
    )
    a, b = ck.alias("a"), ck.alias("b")
    dup = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("_cos", _cos_expr(F.col("a.v"), F.col("b.v")))
        .filter(F.col("_cos") >= SEMDEDUP_TAU)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_prior_dups"),
            F.max("_cos").alias("_mpc"),
        )
    )
    return (
        ck.select("vec_id", "cell")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce("n_prior_dups", F.lit(0)).cast("long").alias(
                "n_prior_dups"
            ),
            _rq("_mpc").alias("max_prior_cos"),
            F.col("_mpc").isNull().alias("kept"),
        )
    )


# DSIR (Xie et al. 2023, "Data Selection for Language Models via
# Importance Resampling"): per-doc importance weights = mean hashed-
# n-gram log-likelihood ratio between a TARGET distribution (here the
# src0 slice — the "high-quality domain") and the RAW corpus.
DSIR_BUCKETS = 4096
DSIR_TARGET_SOURCE = "src0"


def dsir_weights_docs(spark, sf_dir):
    """DSIR importance weights — the hashed-n-gram data-selection score:
    unigrams are hashed into ``DSIR_BUCKETS`` buckets (engine-agnostic
    md5-prefix hash), bucket distributions are estimated for the target
    slice (``source = 'src0'``) and the raw corpus with add-one
    smoothing, and each document scores the MEAN per-token
    ``ln(p_target/p_raw)`` — resampling keeps the highest-weight docs.
    Emits ``(doc_id, n_tokens, dsir_logratio)``.

    Plan shape (10^12-token safe): ONE explode pass builds the
    (doc_id, source, bucket) token table (lazy localCheckpoint — the
    lm_quality idiom; map-side combine makes both count aggregations
    bucket-sized); the two count tables are at most ``DSIR_BUCKETS``
    rows each, so the scoring join is a BROADCAST — the corpus-sized
    side never shuffles at all. Totals are 1-row broadcast scalars.
    Oracle: identical hash + smoothing in DuckDB."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.lower(F.col("text")), " ").alias("ws")
    )
    toks = (
        d.select(
            "doc_id",
            "source",
            F.explode("ws").alias("w"),
        )
        .withColumn(
            "bucket",
            F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10).cast(
                "long"
            )
            % DSIR_BUCKETS,
        )
        .drop("w")
        .localCheckpoint(eager=False)
    )
    raw = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt = (
        toks.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    model = raw.join(tgt, "bucket", "left").select(
        "bucket", "c_raw", F.coalesce("c_tgt", F.lit(0)).alias("c_tgt")
    )
    totals = toks.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(
            (F.col("source") == DSIR_TARGET_SOURCE).cast("long")
        ).alias("n_tgt"),
    )
    scored = (
        toks.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lr",
            F.log(
                (F.col("c_tgt") + F.lit(1.0))
                / (F.col("n_tgt") + F.lit(float(DSIR_BUCKETS)))
            )
            - F.log(
                (F.col("c_raw") + F.lit(1.0))
                / (F.col("n_raw") + F.lit(float(DSIR_BUCKETS)))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            _rq(F.avg("lr"), 6).alias("dsir_logratio"),
        )
    )
    return scored.select("doc_id", "n_tokens", "dsir_logratio")


# BPE tokenizer TRAINING (Sennrich et al. 2016) — learns the merge table
# token_stats_docs consumes as a frozen artifact. The model-table cap is
# the operator contract: Zipf's law means the top-K words carry almost
# all pair mass (real trainers — HF tokenizers, SentencePiece — train on
# exactly such an aggregated word-count table).
BPE_TRAIN_TOPK = 1024
BPE_TRAIN_MERGES = 32


def bpe_train_docs(spark, sf_dir):
    """Distributed BPE tokenizer training: learn the merge table from
    the corpus. Emits one row per learned merge:
    ``(merge_rank, left_piece, right_piece, merged, pair_freq)``.

    Plan shape (10^12-token safe): the CORPUS-SCALE work — lowercased
    word explode + exact frequency count — is one groupBy with map-side
    combine (the only full-data shuffle), followed by a distributed
    top-K (``TakeOrdered`` under the total order ``freq DESC, word``,
    no global sort materialized). Only the top-``BPE_TRAIN_TOPK``
    ``(word, freq)`` rows — a bounded model table, the same driver-state
    class as IVF anchors and range-bucket cuts — reach the driver, where
    the inherently sequential merge loop (each round's pair counts
    depend on the previous round's merge) runs as a pure function
    (``functions.text.train_bpe_merges``). This mirrors how production
    tokenizer trainers operate: distributed counting, sequential merge
    learning over the compact word-frequency model.

    Oracle: an INDEPENDENT recursive-CTE implementation in DuckDB —
    word counts + top-K in SQL, then the merge loop as recursion over
    delimiter-wrapped symbol strings with the same ``(count DESC, left,
    right)`` tie-break — verifying the algorithm, not replaying the
    Python."""
    from query_cost_feature_engineering_spark.functions.text import (
        train_bpe_merges,
    )

    words = (
        _t(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = (
        words.orderBy(F.col("freq").desc(), "w")
        .limit(BPE_TRAIN_TOPK)
        .collect()
    )
    merges = train_bpe_merges(
        [(r["w"], r["freq"]) for r in top], BPE_TRAIN_MERGES
    )
    return spark.createDataFrame(
        [
            (int(rk), a, b, m, int(c))
            for rk, a, b, m, c in merges
        ],
        schema=(
            "merge_rank long, left_piece string, right_piece string,"
            " merged string, pair_freq long"
        ),
    )


# ---------------------------------------------------------------------------
# Image pipeline (rows-only: the synthetic image table isn't a DuckDB view)
# ---------------------------------------------------------------------------

def _synth_images(spark, n=400, n_entities=30, seed=42):
    from query_cost_feature_engineering_spark.sources.images import (
        generate_images_pandas,
    )

    return spark.createDataFrame(generate_images_pandas(n, n_entities, seed))


def image_features(spark, sf_dir):
    from query_cost_feature_engineering_spark.plans.pipeline import (
        assemble_vector,
        compute_features,
    )

    images = _synth_images(spark)
    out = assemble_vector(compute_features(images))
    # Driver contract needs hashable scalars only (its canonicalizer cannot
    # sort an array column); the raw vector stays covered by the pytest
    # golden. Digest = md5 over fixed-precision renderings of every slot.
    digest = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col("features"), lambda x: F.format_string("%.5f", x)
            ),
        ).cast("binary")
    )
    return out.select(
        "image_id",
        "entity_id",
        "ts",
        "session_id",
        F.size("features").alias("n_features"),
        digest.alias("feature_digest"),
    )


def image_asof_features(spark, sf_dir):
    from query_cost_feature_engineering_spark.plans.pipeline import compute_features
    from query_cost_feature_engineering_spark.sources.images import (
        generate_images_pandas,
        generate_spine_pandas,
    )

    pdf = generate_images_pandas(400, 30, 42)
    images = spark.createDataFrame(pdf)
    spine = spark.createDataFrame(generate_spine_pandas(pdf, n=200, seed=43))
    feats = compute_features(images).select(
        "entity_id", "ts", "image_id", "px_mean", "session_id"
    )
    out = asof_join_union_window(
        spine, feats, on="ts", by="entity_id",
        value_cols=["image_id", "px_mean", "session_id"], tiebreak="image_id",
    )
    return out.select(
        "probe_id",
        "entity_id",
        "image_id",
        _rq("px_mean").alias("px_mean"),
        "session_id",
    )


def resize_images_meta(spark, sf_dir):
    """Batch resize (real nearest-neighbor + PNG re-encode) — metadata out."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        resize_images,
    )

    images = _synth_images(spark, n=120)
    out = resize_images(images, 32)
    return out.select(
        "image_id",
        "w",
        "h",
        "fmt",
        F.length(F.col("bytes")).cast("long").alias("out_nbytes"),
    )


def augment_images_meta(spark, sf_dir):
    """Deterministic center-crop + horizontal-flip augmentation (REAL
    pixel ops via the NumPy codecs) — metadata + recomputed phash out.
    Driver check is rows-only (synthetic input); pixel-level identities
    (flip∘flip = id, crop dims) are pinned in tests/test_multimodal_ann.py."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        augment_images,
    )

    images = _synth_images(spark, n=120)
    out = augment_images(images, crop_frac=0.875, hflip=True)
    return out.select(
        "image_id",
        "w",
        "h",
        "fmt",
        "phash",
        F.length(F.col("bytes")).cast("long").alias("out_nbytes"),
    )


def video_frame_sample(spark, sf_dir):
    """mapInPandas 1→N frame explosion over the FVID stub container."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        sample_video_frames,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_videos_pandas,
    )

    vids = spark.createDataFrame(generate_videos_pandas(60, seed=52))
    out = sample_video_frames(vids, every_k=5)
    return out.select(
        "media_id", "frame_idx", "n_frames", _rq("frame_mean").alias("frame_mean")
    )


def jpeg_features_images(spark, sf_dir):
    """The image-feature pass over a corpus of REAL baseline JPEG
    files, decoded by the pure-NumPy ITU-T T.81 codec (jpeg.py) inside
    the standard Arrow UDF — upgrading the lossy path from the QJPG
    stub to a spec-conformant compressed format with no codec library.
    ~35% of the corpus is 4:2:0-subsampled (the real-world common
    case), ~10% 4:2:2, the rest 4:4:4; ~25% carries restart markers;
    ~25% is PROGRESSIVE (SOF2 — spectral selection + successive
    approximation, decoded via the same entry point).
    Emits ``(image_id, w, h, quality, subsamp, coding, n_bytes,
    px_mean, px_min_r, px_max_r, hist_lo, hist_hi)``.

    Plan shape: identical to the flagship decode stage — map-only, one
    Arrow-batched UDF, bytes never shuffled. Oracle: fixture recompute
    via the single-process decode core (the image_features plumbing-
    pinning idiom — what the oracle proves is the distributed path);
    the CODEC itself is pinned separately by hand-derived uniform-DC
    tests, spec marker/refusal tests (tests/test_codecs.py), and the
    fixture builder's enforced per-image PSNR >= 40 dB invariant
    against the pre-encode pixel arrays."""
    from query_cost_feature_engineering_spark.functions.image_features import (
        with_image_features,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_jpeg_images_pandas,
    )

    pdf = generate_jpeg_images_pandas(200, seed=56).drop(
        columns=["arr_true"]
    )
    img = spark.createDataFrame(pdf)
    img = img.withColumn("n_bytes", F.length("bytes").cast("long"))
    out = with_image_features(img)
    return out.select(
        "image_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        F.col("quality").cast("long").alias("quality"),
        "subsamp",
        "coding",
        "n_bytes",
        _rq("px_mean", 4).alias("px_mean"),
        F.col("px_min_r").cast("long").alias("px_min_r"),
        F.col("px_max_r").cast("long").alias("px_max_r"),
        F.col("hist_0").cast("long").alias("hist_lo"),
        F.col("hist_7").cast("long").alias("hist_hi"),
    )


# WebDataset-style shard packing: shard size is the operator contract
# (production tars target 100 MB-1 GB; scaled to the synthetic corpus).
WEBDATASET_SHARD_BYTES = 65536


def shard_pack_images(spark, sf_dir):
    """WebDataset/TFRecord shard packing for image+caption pairs — the
    multimodal analogue of ``pack_sequences_docs``: every record's
    shard id and byte offset are pure functions of the EXCLUSIVE
    global prefix sum of record sizes (image bytes + UTF-8 caption
    bytes) in corpus order: shard_id = ⌊prefix/S⌋, shard_off = prefix
    mod S (a record spanning a boundary starts in shard_id and spills
    — the writer splits at pack time, so sizing needs no second pass).

    Plan shape (10^12-pair safe): record sizes are map-only
    (length/octet_length — the BYTES COLUMN IS NEVER SHUFFLED, only
    its length); the global ordered prefix sum goes through the
    distributed range-bucket operator (operators/prefix
    .with_running_sums — one range exchange + broadcast offsets), not
    a single-partition ``SUM OVER (ORDER BY)``. Integer sums are exact
    past 2^53 via DIV (the pack_sequences fix). Oracle:
    both-sides-synthesize fixture (pure-Python cumsum over the same
    generator output)."""
    from query_cost_feature_engineering_spark.operators.prefix import (
        with_running_sums,
    )

    img = _synth_images(spark).select(
        "image_id",
        F.substring("image_id", 4, 8).cast("long").alias("_seq"),
        (F.length("bytes") + F.octet_length("caption"))
        .cast("long")
        .alias("rec_bytes"),
    )
    out = with_running_sums(
        img, ["_seq"], ["rec_bytes"], bucket_col="_seq", min_buckets=8
    )
    prefix = F.col("run_rec_bytes") - F.col("rec_bytes")
    return out.select(
        "image_id",
        "rec_bytes",
        prefix.cast("long").alias("prefix_bytes"),
        F.expr(
            f"(run_rec_bytes - rec_bytes) DIV {WEBDATASET_SHARD_BYTES}"
        )
        .cast("long")
        .alias("shard_id"),
        (prefix % WEBDATASET_SHARD_BYTES).cast("long").alias("shard_off"),
    )


# Aspect-ratio bucketing (the SDXL / diffusion-training batching rule:
# every batch holds images of ONE target shape, so nothing is cropped
# to a common size). Bucket = the target ratio minimizing the
# multiplicative distance max(w*bh, h*bw) / min(w*bh, h*bw) — an exact
# integer-cross-product comparison (ONE correctly-rounded IEEE divide
# of two longs, bit-identical across engines), equivalent to argmin
# |ln(w/h) - ln(bw/bh)| but free of transcendental-function ULP skew.
# Ties break toward the lower bucket index.
ASPECT_BUCKETS = [
    (1, 1), (4, 3), (3, 4), (3, 2), (2, 3), (16, 9), (9, 16), (2, 1), (1, 2),
]
ASPECT_BATCH = 16


def aspect_bucket_images(spark, sf_dir):
    """Aspect-ratio bucketing + per-bucket batch packing over the image
    spine — emits ``(image_id, w, h, bucket_idx, bucket, ar_dist,
    batch_id, kept)`` where ``kept`` drops the final partial batch of
    each bucket (the data-loader contract: every emitted batch is full
    and shape-uniform).

    Plan shape (10^12-image safe): bucket assignment is map-only (an
    array_min over 9 literal (dist, idx) structs — no join, no UDF);
    batch packing is ONE exchange. Nine buckets over 10^12 rows is the
    textbook skewed-window shape, so at real scale batch ids come from
    the repo's distributed prefix-sum (operators/prefix.py: range-bucket
    row counts per (bucket, range) shard + broadcast offsets — exactly
    how pack_sequences_docs and shard_pack_images already scale); at
    oracle scale the single window per bucket is the same total order.
    Oracle: identical cross-product arithmetic in DuckDB (a 9-row
    VALUES join + row_number pick)."""
    imgs = _synth_images(spark, n=400).select(
        "image_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
    )
    cands = F.array(
        *[
            F.struct(
                (
                    F.greatest(F.col("w") * bh, F.col("h") * bw)
                    / F.least(F.col("w") * bh, F.col("h") * bw)
                ).alias("dist"),
                F.lit(i).alias("idx"),
            )
            for i, (bw, bh) in enumerate(ASPECT_BUCKETS)
        ]
    )
    best = F.array_min(cands)
    names = F.array(
        *[F.lit(f"{bw}:{bh}") for bw, bh in ASPECT_BUCKETS]
    )
    b = imgs.select(
        "image_id",
        "w",
        "h",
        best["idx"].alias("bucket_idx"),
        F.element_at(names, best["idx"] + 1).alias("bucket"),
        _rq(best["dist"], 6).alias("ar_dist"),
    )
    win = Window.partitionBy("bucket_idx").orderBy("image_id")
    cnt = Window.partitionBy("bucket_idx")
    rn = F.row_number().over(win)
    n_full = (F.count(F.lit(1)).over(cnt) / ASPECT_BATCH).cast(
        "long"
    ) * ASPECT_BATCH
    return b.select(
        "image_id",
        "w",
        "h",
        "bucket_idx",
        "bucket",
        "ar_dist",
        ((rn - 1) / ASPECT_BATCH).cast("long").alias("batch_id"),
        (rn <= n_full).alias("kept"),
    )


# Vision-language sequence packing (the fixed-shape variant production
# multimodal trainers use under XLA/static-graph constraints — T5-style
# "pack to capacity, never straddle"): each image+caption sample costs
# VLM_IMG_TOKENS patch tokens + its caption's whitespace tokens; costs
# quantize UP to the next power of two, every context holds exactly
# CTX // q samples of one quantum, so no sample ever spans two contexts
# and every emitted context is shape-uniform. The quantization slack is
# the documented trade vs the straddle-allowed GPT-style packing that
# pack_sequences_docs implements over text.
VLM_CTX = 512
VLM_IMG_TOKENS = 64


def vlm_pack_images(spark, sf_dir):
    """Interleaved image+caption packing into fixed token contexts —
    emits ``(image_id, n_tokens, q, slot, ctx_idx, kept)``: sample cost
    = 64 patch tokens + caption whitespace tokens; ``q`` = next
    power-of-two quantum >= cost; within each quantum samples order by
    ``md5(image_id)`` (the shard_shuffle seed-free order) and fill
    contexts of ``CTX // q`` slots; the final partial context per
    quantum is dropped (``kept``) — the data-loader contract that every
    batch is shape-static.

    Plan shape (10^12-image safe): cost + quantum are map-only JVM
    expressions (size(split) + a 4-case quantum ladder); packing is ONE
    exchange — a window per quantum bucket (<= 4 hot keys here; the
    same distributed prefix-sum scale path as aspect_bucket_images
    applies at real scale). Oracle: the identical integer arithmetic
    in DuckDB — same 4-case ladder, same md5 order, same exact
    long division/modulo."""
    imgs = _synth_images(spark, n=400).select("image_id", "caption")
    cost = (
        F.lit(VLM_IMG_TOKENS)
        + F.size(
            F.filter(
                F.split(F.col("caption"), " "), lambda w: w != F.lit("")
            )
        )
    ).cast("long")
    # next power of two >= cost: captions are 3..12 tokens so cost is
    # 67..76 -> q = 128 for every row of THIS corpus; the expression
    # stays general (64..512) so the contract survives longer captions
    q = (
        F.when(cost <= 64, F.lit(64))
        .when(cost <= 128, F.lit(128))
        .when(cost <= 256, F.lit(256))
        .otherwise(F.lit(VLM_CTX))
        .cast("long")
    )
    # samples whose cost exceeds the context length cannot be packed
    # whole — they would need the truncation path — so they are gated
    # out rather than silently over-filling a q=CTX context (no row of
    # the shipped 3..12-token-caption corpus hits this; the oracle
    # applies the identical WHERE)
    b = imgs.select(
        "image_id",
        cost.alias("n_tokens"),
        q.alias("q"),
        F.md5(F.col("image_id").cast("string")).alias("_ord"),
    ).filter(F.col("n_tokens") <= VLM_CTX)
    per_ctx = (F.lit(VLM_CTX) / F.col("q")).cast("long")
    win = Window.partitionBy("q").orderBy("_ord", "image_id")
    cnt = Window.partitionBy("q")
    rn = F.row_number().over(win)
    n_full = (
        (F.count(F.lit(1)).over(cnt) / per_ctx).cast("long") * per_ctx
    )
    return b.select(
        "image_id",
        "n_tokens",
        "q",
        ((rn - 1) % per_ctx).cast("long").alias("slot"),
        ((rn - 1) / per_ctx).cast("long").alias("ctx_idx"),
        (rn <= n_full).alias("kept"),
    )


# Within-video duplicate-frame removal threshold: Hamming <= 6 of 64
# phash bits is the conventional "perceptually identical" band; the
# generator's +/-1 pixel jitter stays well inside it and scene cuts
# (fresh random base frames) land far outside.
VIDEO_DEDUP_TAU = 6


def video_frame_dedup(spark, sf_dir):
    """Static-scene / duplicate-frame removal inside each video: phash
    every frame, drop frames within Hamming ``VIDEO_DEDUP_TAU`` of the
    last kept frame. One ``mapInPandas`` pass, zero shuffles, bytes
    never shuffled (functions/multimodal.dedup_video_frames). Corpus:
    scene-structured mixed-format clips (even = real AVI-DIB, odd =
    FVID stub). Oracle: both-sides-synthesize fixture recomputing the
    keep-chain in pure Python from the ORIGINAL frame arrays (never the
    decode path under test) — it therefore also pins the encode->decode
    roundtrip; phash64 itself is shared with the UDF (its correctness
    is pinned separately by the image-pipeline goldens)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        dedup_video_frames,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_static_videos_pandas,
    )

    pdf = generate_static_videos_pandas(60, seed=54).drop(
        columns=["frames_true"]
    )
    vids = spark.createDataFrame(pdf)
    return dedup_video_frames(vids, tau=VIDEO_DEDUP_TAU)


def audio_features_clips(spark, sf_dir):
    """PCM stats per clip over a MIXED corpus cycling five formats —
    real RIFF/PCM16 WAV, the FAUD stub container, IMA ADPCM (4-bit
    compressed), and G.711 μ-law/A-law (8-bit companded telephony) —
    all decoded by the pure-NumPy codecs (codecs.decode_wav, no
    external library); one pandas UDF dispatches on magic bytes +
    WAV format tag (functions/multimodal.decode_audio)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        with_audio_features,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_audio_pandas,
    )

    clips = spark.createDataFrame(generate_audio_pandas(80, seed=53))
    out = with_audio_features(clips)
    return out.select(
        "clip_id",
        "n_samples",
        "sample_rate",
        _rq("duration_s").alias("duration_s"),
        _rq("rms").alias("rms"),
        "zero_crossings",
    )


def exif_orient_images(spark, sf_dir):
    """EXIF-orientation normalization over the JPEG corpus — the first
    metadata step of any real image-ingestion pipeline: cameras store
    sensor-native pixels and record the display transform in APP1
    (CIPA DC-008 tag 0x0112). ~70% of the corpus carries an inserted
    orientation 1-8 (on baseline AND progressive members), the rest no
    EXIF (defaulted to 1 per spec). The UDF parses the TIFF IFD0 walk,
    decodes, applies the one-of-eight flip/rotate composition, and
    emits display dims + an orientation-sensitive corner probe; the
    oracle pins parse == inserted value, the dim swap for
    orientations 5-8, and the transformed pixels via the corner mean.

    Plan shape: map-only, one Arrow-batched UDF, bytes never shuffled
    (identical to the flagship decode stage)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        with_exif_display_meta,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_exif_images_pandas,
    )

    pdf = generate_exif_images_pandas(160, seed=57)
    img = spark.createDataFrame(pdf)
    out = with_exif_display_meta(img)
    return out.select(
        "image_id",
        F.col("orientation_true").cast("long").alias("orientation_true"),
        F.col("orientation").cast("long").alias("orientation"),
        F.col("disp_w").cast("long").alias("disp_w"),
        F.col("disp_h").cast("long").alias("disp_h"),
        _rq("corner_mean", 4).alias("corner_mean"),
    )


def mixed_format_features(spark, sf_dir):
    """The capstone decode pass: a NINE-format corpus (png / baseline
    jpeg / progressive jpeg / gif / bmp / tiff-LZW / ico / ppm / tga)
    through the single ``decode_image`` dispatch in one map-only
    Arrow UDF — decoded dims + global/corner pixel means per image.
    Every format's decode is independently pinned by its own codec
    tests; this query proves the engine-side story — one UDF, one
    fmt-normalizing dispatch, bytes never shuffled — is
    format-uniform, oracle-checked against a single-process recompute
    of the same corpus.

    Plan shape: identical to the flagship decode stage (map-only,
    zero exchanges — plan-audited)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        with_decoded_meta,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_mixed_images_pandas,
    )

    pdf = generate_mixed_images_pandas(180, seed=58).drop(columns=["arr_true"])
    img = spark.createDataFrame(pdf)
    out = with_decoded_meta(img)
    return out.select(
        "image_id",
        "fmt",
        F.col("dec_w").cast("long").alias("dec_w"),
        F.col("dec_h").cast("long").alias("dec_h"),
        _rq("px_mean", 4).alias("px_mean"),
        _rq("corner_mean", 4).alias("corner_mean"),
    )


def format_sniff_images(spark, sf_dir):
    """mapInArrow data-quality pass: magic-byte format sniffing vs the
    declared fmt column (rows-only; golden-tested with mislabeled rows)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        sniff_formats,
    )

    images = _synth_images(spark, n=200)
    out = sniff_formats(images)
    return out.select("media_id", "declared_fmt", "sniffed_fmt", "fmt_ok")


# LAION/DataComp-style image-caption ALIGNMENT filter: production pair
# pipelines score every (image, caption) pair with a similarity model
# (CLIP) and drop pairs below a threshold (LAION kept CLIP >= 0.28).
# Re-expressed library-free: the image "embedding" is the decoded 8-bin
# luminance histogram (already a distribution, produced by the
# pipeline's one Arrow decode), the caption "embedding" is the
# md5-hashed token-bucket distribution over the same bin count, and the
# alignment score is their cosine. On synthetic random captions the
# score is structural rather than semantic — the operator contract is
# the exact, deterministic pair-scoring plan, not the model.
CAPTION_ALIGN_BINS = 8  # == functions.image_features.HIST_BINS
CAPTION_ALIGN_TAU = 0.5


def caption_align_images(spark, sf_dir):
    """Image-caption alignment scoring + filtering (the CLIP-score
    pair-filter shape). Emits one row per pair:
    ``(image_id, entity_id, token_count, align_score, kept)``.

    Plan shape (10^12-pair safe): MAP-ONLY — one Arrow-batched decode
    UDF (the pipeline's shared decode pass) followed by pure JVM
    expressions (token bucket counts via size/filter over the split
    caption, cosine as an explicit left-associative sum chain); ZERO
    shuffles, bytes never leave the scan stage. At 100 TB this filter
    runs at scan speed and composes with predicate pushdown on any
    upstream metadata gate. Cosine of two non-negative vectors is in
    [0, 1]; an empty caption yields a NULL score (division by zero) and
    ``kept = false``. Oracle: both-sides-synthesize fixture
    (golden.ensure_caption_align_fixture) — caption hashing and cosine
    are INDEPENDENTLY recomputed (hashlib vs F.md5+conv, Python float
    loop vs JVM expression chain), bit-identical doubles."""
    return _with_caption_alignment(_synth_images(spark))


def _with_caption_alignment(images: DataFrame) -> DataFrame:
    """The alignment plan over any (image_id, entity_id, bytes, fmt,
    caption) frame — factored out so tests can run it on planted
    solid-color images with bin-targeted captions."""
    from query_cost_feature_engineering_spark.functions.image_features import (
        HIST_COLS,
        with_image_features,
    )

    df = with_image_features(images).drop("bytes")
    toks = F.filter(
        F.split(F.lower(F.col("caption")), " "), lambda w: w != F.lit("")
    )
    df = df.withColumn("_toks", toks).drop("caption")

    def bucket(t):
        return (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            % CAPTION_ALIGN_BINS
        )

    def count_in_bin(k):
        # NB: the lambda must stay unary — a second (defaulted) parameter
        # makes pyspark treat it as the (element, index) binary form and
        # bind it to the array position instead of the closed-over bin.
        return F.size(
            F.filter("_toks", lambda t: bucket(t) == F.lit(k))
        ).cast("double")

    cs = [count_in_bin(k) for k in range(CAPTION_ALIGN_BINS)]
    hs = [F.col(c) for c in HIST_COLS]
    dot, hn, cn = hs[0] * cs[0], hs[0] * hs[0], cs[0] * cs[0]
    for k in range(1, CAPTION_ALIGN_BINS):
        dot = dot + hs[k] * cs[k]
        hn = hn + hs[k] * hs[k]
        cn = cn + cs[k] * cs[k]
    score = F.try_divide(dot, F.sqrt(hn) * F.sqrt(cn))
    return df.select(
        "image_id",
        "entity_id",
        F.size("_toks").cast("long").alias("token_count"),
        _rq(score, 6).alias("align_score"),
        F.coalesce(score >= F.lit(CAPTION_ALIGN_TAU), F.lit(False)).alias(
            "kept"
        ),
    )


# DataComp basic metadata filters (Gadre et al. 2023 §4 "baseline
# filtering"; LAION-5B applied the same gates before CLIP scoring):
# minimum side length, aspect-ratio bound, caption-token floor, format
# whitelist. Thresholds are scaled to the synthetic corpus's 16-64 px
# size grid; the operator contract is the exact deterministic gate
# plan, not the production constants.
DATACOMP_MIN_SIDE = 24
DATACOMP_MAX_ASPECT = 2.0
DATACOMP_MIN_CAPTION_TOKENS = 5
DATACOMP_FMTS = ["png", "jpeg"]

# Sharpness gate threshold: planted 3x3-box-blurred images measure
# lap_var < 130 on this corpus family; sharp (noise-bearing) images
# measure > 3800 — 800 sits far from both modes.
BLUR_LAP_VAR_MIN = 800.0


def blur_detect_images(spark, sf_dir):
    """Blur / low-detail detection — the sharpness gate every
    image-dataset curation pipeline runs before training (variance of
    the 3x3 Laplacian, Pech-Pacheco et al. 2000, plus the Tenengrad
    central-difference gradient energy). Emits ``(image_id, dec_w,
    dec_h, lap_var, tenengrad, is_sharp, blur_true)`` over a corpus
    where every 3rd image is a planted 3x3 box-blur.

    Plan shape (100-TB-safe): map-only — ONE Arrow-batched pandas UDF
    decodes and reduces each image to two scalars; bytes are dropped
    before the rows go anywhere near an exchange (the flagship decode
    idiom). All sharpness arithmetic is integer until two final
    exact-operand float divisions, so the independent pure-Python
    fixture oracle (golden.ensure_blur_fixture) matches bit-for-bit.
    """
    from query_cost_feature_engineering_spark.functions.image_features import (
        with_sharpness,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_blur_corpus_pandas,
    )

    images = spark.createDataFrame(generate_blur_corpus_pandas(240, 42))
    out = with_sharpness(images.select("image_id", "bytes", "fmt", "blur_true"))
    return out.select(
        "image_id",
        "dec_w",
        "dec_h",
        _rq("lap_var").alias("lap_var"),
        _rq("tenengrad").alias("tenengrad"),
        (F.col("lap_var") >= BLUR_LAP_VAR_MIN).alias("is_sharp"),
        "blur_true",
    )


def audio_neardup_pairs(spark, sf_dir):
    """Audio NEAR-duplicate pairs — the case exact-fingerprint dedup
    misses: a noised re-master flips a FEW band-delta bits (measured
    hamming <= 9 on the planted corpus; unrelated clips >= 23), so
    pairing runs the same lossless pigeonhole banding as the image
    phash near-dup (13 bands over 64 bits guarantee an exact band
    match at hamming <= 12). Complements audio_fingerprint_dedup
    (exact groupBy) the way phash_neardup_images complements
    image exact dedup.

    Plan shape: one decode+fingerprint Arrow UDF (payload dropped),
    then band explode -> ONE equi-join -> bit_count verify. Oracle:
    fingerprints from the independent pure-Python loop fixture; the
    pairing brute-forced in DuckDB (bit_count(xor) over all
    id-ordered pairs)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        with_audio_fingerprint,
    )
    from query_cost_feature_engineering_spark.operators.neardup import (
        hamming_neardup_pairs,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_audio_neardup_pandas,
    )

    pdf = generate_audio_neardup_pandas(30, 62)
    clips = spark.createDataFrame(pdf)
    fp = with_audio_fingerprint(clips).localCheckpoint(eager=False)
    pairs = hamming_neardup_pairs(
        fp.select("clip_id", "fingerprint"), "clip_id", "fingerprint",
        bits=64, max_dist=12,
    )
    truth = fp.select(F.col("clip_id").alias("clip_id_b"), "near_of")
    return pairs.join(F.broadcast(truth), "clip_id_b").select(
        F.col("clip_id_a").alias("clip_a"),
        F.col("clip_id_b").alias("clip_b"),
        F.col("hamming").cast("long").alias("hamming"),
        F.coalesce(
            F.col("near_of") == F.col("clip_id_a"), F.lit(False)
        ).alias("is_planted"),
    )


def border_crop_images(spark, sf_dir):
    """Uniform-border (letterbox/pillarbox) detection — the crop gate
    image-curation pipelines run before training: find constant-color
    margins and emit the content crop box + border fraction. The
    corpus plants borders of known widths (0-6 px per side, one of
    three colors, a third of images unpadded); detection is exact
    (self-anchored uniform-run counting, no tolerance), so the planted
    widths are recovered EXACTLY — pinned by the ``pad_*`` truth
    columns riding through the output.

    Plan shape (10^12-image safe): map-only — one Arrow-batched UDF
    reduces each image to six small ints, payload dropped before
    anything else happens; the crop/ratio arithmetic is JVM
    expressions. Oracle: run lengths recounted by explicit per-pixel
    Python loops (golden.ensure_border_fixture); crop box + ratio
    re-derived independently in the oracle SQL."""
    from query_cost_feature_engineering_spark.functions.image_features import (
        with_border_stats,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_letterbox_corpus_pandas,
    )

    images = spark.createDataFrame(generate_letterbox_corpus_pandas(200, 61))
    out = with_border_stats(images)
    crop_w = F.col("img_w") - F.col("border_l") - F.col("border_r")
    crop_h = F.col("img_h") - F.col("border_t") - F.col("border_b")
    return out.select(
        "image_id",
        "img_w",
        "img_h",
        "border_t",
        "border_b",
        "border_l",
        "border_r",
        crop_w.alias("crop_w"),
        crop_h.alias("crop_h"),
        _rq(
            F.lit(1.0) - (crop_w * crop_h) / (F.col("img_w") * F.col("img_h")),
            6,
        ).alias("border_frac"),
        (
            (F.col("border_t") > 0) | (F.col("border_b") > 0)
            | (F.col("border_l") > 0) | (F.col("border_r") > 0)
        ).alias("is_letterboxed"),
        "pad_t", "pad_b", "pad_l", "pad_r",
    )


def image_curation_pipeline(spark, sf_dir):
    """Image-curation capstone — the multimodal sibling of
    ``corpus_pipeline_docs``: sharpness gate + border crop + content
    dedup in ONE declarative plan over ONE decode pass. The perceptual
    hash is computed on the CROPPED content, so a letterboxed re-post
    dedups against its original (raw-byte or full-frame-phash dedup
    would miss it — the planted corpus proves both claims: every
    padded variant carries different bytes AND a different full-frame
    phash, yet lands in its original's cluster).

    Plan shape (10^12-image safe): one Arrow UDF fuses all three
    metrics (decode dominates; a second pass would double the hot
    cost) and drops the payload; the frame is materialized once (lazy
    localCheckpoint) because it feeds both the winners aggregation and
    the join probe; canonicalization = groupBy(crop_phash) -> min with
    map-side combine + one join back (broadcast here, SMJ at scale).
    Gate verdicts (canonical_id/is_dup) are masked to sharp rows —
    dropped rows carry NULL, the corpus_pipeline_docs audit-manifest
    convention. Oracle: fused metrics from the independent-loop
    fixture (golden.ensure_curation_fixture); dedup re-derived with a
    window-min-over-sharp formulation in DuckDB."""
    from query_cost_feature_engineering_spark.functions.image_features import (
        with_curation_stats,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_curation_corpus_pandas,
    )

    images = spark.createDataFrame(generate_curation_corpus_pandas(80, 67))
    st = with_curation_stats(images).localCheckpoint(eager=False)
    st = st.withColumn("is_sharp", F.col("lap_var") >= BLUR_LAP_VAR_MIN)
    winners = (
        st.filter(F.col("is_sharp"))
        .groupBy("crop_phash")
        .agg(F.min("image_id").alias("canonical_id"))
    )
    out = st.join(F.broadcast(winners), "crop_phash", "left")
    canonical = F.when(F.col("is_sharp"), F.col("canonical_id"))
    return out.select(
        "image_id",
        "group_id",
        "role",
        "crop_w",
        "crop_h",
        _rq(
            F.lit(1.0)
            - (F.col("crop_w") * F.col("crop_h"))
            / (F.col("dec_w") * F.col("dec_h")),
            6,
        ).alias("border_frac"),
        _rq("lap_var").alias("lap_var"),
        "is_sharp",
        "crop_phash",
        canonical.alias("canonical_id"),
        F.when(
            F.col("is_sharp"), F.col("image_id") != F.col("canonical_id")
        ).otherwise(F.lit(False)).alias("is_dup"),
    )


def image_decontam_phash(spark, sf_dir):
    """Image benchmark decontamination — the eval-set-in-the-crawl
    check LAION/DataComp run before training: probe the train corpus
    against the bench corpus by perceptual hash, flag any train image
    within hamming <= 8 of an eval image. Planted verbatim leaks
    (bench bytes copied into train under new ids) must ALL surface;
    random content collides with probability ~0 at this radius.

    Plan shape (10^12 x 10^4-safe): the same lossless pigeonhole
    banding as phash_neardup_images, but CROSS-corpus
    (operators/neardup.hamming_cross_pairs): each side explodes its
    13-band table once, ONE equi-join on (band, value), bit_count
    verify. The bench side is small in production (eval sets), so its
    band table broadcasts and the train corpus never shuffles. Oracle:
    the full train x bench hamming join brute-forced in DuckDB
    (bit_count(xor(...))) over the input fixture — an independent
    execution of the pairing."""
    from query_cost_feature_engineering_spark.operators.neardup import (
        hamming_cross_pairs,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_decontam_corpus_pandas,
    )

    pdf = generate_decontam_corpus_pandas(300, 44)
    corpus = spark.createDataFrame(
        pdf[["image_id", "phash", "side", "leak_of"]]
    )
    train = corpus.filter(F.col("side") == "train")
    bench = corpus.filter(F.col("side") == "bench").select("image_id", "phash")
    pairs = hamming_cross_pairs(
        train.select("image_id", "phash"), bench, "image_id", "phash",
        max_dist=8,
    )
    truth = train.select(
        F.col("image_id").alias("image_id_a"), "leak_of"
    )
    return pairs.join(F.broadcast(truth), "image_id_a").select(
        F.col("image_id_a").alias("train_id"),
        F.col("image_id_b").alias("bench_id"),
        F.col("hamming").cast("long").alias("hamming"),
        F.coalesce(
            F.col("leak_of") == F.col("image_id_b"), F.lit(False)
        ).alias("is_planted"),
    )


def audio_fingerprint_dedup(spark, sf_dir):
    """Audio near-duplicate detection by acoustic fingerprint — the
    chromaprint idea (sign of frame-over-frame band-energy deltas,
    64 bits packed to int64) in exact integer arithmetic, so the
    fingerprint is invariant to exact amplitude re-mastering (x*2
    scales every Haar-band energy by exactly 4, preserving every delta
    sign) while raw-byte dedup is not. The corpus plants groups of
    [base, exact byte-duplicate, amplitude-doubled re-encode,
    independent]; ``dup_of`` is the ground truth.

    Plan shape (10^9-clip safe): ONE Arrow-batched decode+fingerprint
    UDF that DROPS the payload before anything shuffles (16-byte rows
    from there on); canonicalization is groupBy(fingerprint) ->
    min(clip_id) with map-side combine — hot fingerprints (viral
    audio duplicated millions of times) collapse map-side, where a
    window over the fingerprint partition would serialize them into
    one task — then one equi-join back (broadcast here; SMJ at scale).
    Oracle: fixture fingerprints recomputed by an independent
    pure-Python loop (golden.ensure_audio_fp_fixture) + an independent
    dedup formulation (window min) in DuckDB."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        with_audio_fingerprint,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_audio_dedup_pandas,
    )

    clips = spark.createDataFrame(generate_audio_dedup_pandas(96, 59))
    # materialize the fingerprints ONCE (lazy localCheckpoint, the
    # repo's neardup idiom): the frame feeds both the winners
    # aggregation and the join probe side — without this the decode
    # UDF lineage would execute twice
    fp = with_audio_fingerprint(clips).localCheckpoint(eager=False)
    winners = fp.groupBy("fingerprint").agg(
        F.min("clip_id").alias("canonical_id")
    )
    out = fp.join(F.broadcast(winners), "fingerprint")
    return out.select(
        "clip_id",
        "fingerprint",
        "n_frames",
        "canonical_id",
        (F.col("clip_id") != F.col("canonical_id")).alias("is_dup"),
        "dup_of",
    )


def datacomp_filter_images(spark, sf_dir):
    """DataComp/LAION basic image-pair filter — per-pair gate verdicts
    ``(image_id, w, h, aspect, caption_tokens, size_ok, aspect_ok,
    caption_ok, fmt_ok, kept)`` from METADATA ONLY.

    Plan shape (10^12-pair safe): map-only JVM expressions over
    (w, h, fmt, caption) — the bytes column is never read, so with
    column pruning the parquet scan skips the payload pages entirely
    (this is the cheap pre-gate a production pipeline runs BEFORE the
    expensive decode/CLIP stages; composes with caption_align_images,
    which is the post-gate scorer). Zero shuffles, zero UDFs. Oracle:
    both-sides-synthesize fixture (golden.ensure_datacomp_filter_fixture)
    recomputing every gate in pure Python over the same generator
    output."""
    return _with_datacomp_gates(_synth_images(spark))


def _with_datacomp_gates(img: DataFrame) -> DataFrame:
    """The gate plan over any (image_id, w, h, fmt, caption) frame —
    factored out so tests can run it on planted violations."""
    toks = F.filter(
        F.split(F.lower(F.col("caption")), " "), lambda w: w != F.lit("")
    )
    aspect = F.greatest("w", "h").cast("double") / F.least("w", "h").cast(
        "double"
    )
    m = img.select(
        "image_id",
        F.col("w").cast("long").alias("w"),
        F.col("h").cast("long").alias("h"),
        _rq(aspect, 6).alias("aspect"),
        F.size(toks).cast("long").alias("caption_tokens"),
        (F.least("w", "h") >= DATACOMP_MIN_SIDE).alias("size_ok"),
        (aspect <= DATACOMP_MAX_ASPECT).alias("aspect_ok"),
        (F.size(toks) >= DATACOMP_MIN_CAPTION_TOKENS).alias("caption_ok"),
        F.col("fmt").isin(DATACOMP_FMTS).alias("fmt_ok"),
    )
    return m.withColumn(
        "kept",
        F.col("size_ok") & F.col("aspect_ok") & F.col("caption_ok")
        & F.col("fmt_ok"),
    )


def greedy_ablation_lineitem(spark, sf_dir):
    """A19/A20 feature reduction as a driver-visible query: greedy
    leave-one-out over lineitem numeric features predicting extendedprice
    (one Gram pass per split; search is driver-side). Deterministic;
    rows-only (the greedy loop is not SQL-expressible)."""
    from query_cost_feature_engineering_spark.operators.ablation import (
        greedy_ablation,
    )
    from query_cost_feature_engineering_spark.operators.split import hash_split

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "row_key", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    feats = ["l_quantity", "l_discount", "l_tax", "l_linenumber", "l_partkey"]
    df = hash_split(li, "row_key", 0.8)
    res = greedy_ablation(df, feats, "l_extendedprice")
    rows = [(c, "kept") for c in res["kept"]] + [
        (c, "dropped") for c in res["dropped"]
    ]
    return spark.createDataFrame(sorted(rows), "feature string, status string")


def phash_neardup_images(spark, sf_dir):
    """Image near-dup via multi-index hamming banding (13 bands over 64
    bits; hamming <= 12 guarantees one exact band match) — lossless
    replacement for the round-1 crossJoin, golden-tested against the
    brute-force formulation."""
    from query_cost_feature_engineering_spark.operators.neardup import (
        hamming_neardup_pairs,
    )

    images = _synth_images(spark).select("image_id", "phash")
    out = hamming_neardup_pairs(images, "image_id", "phash", bits=64, max_dist=12)
    return out.select(
        F.col("image_id_a").alias("img_a"),
        F.col("image_id_b").alias("img_b"),
        "hamming",
    )


def exif_scrub_images(spark, sf_dir):
    """Metadata scrubbing over the EXIF JPEG corpus — the privacy pass
    (strip APP1/EXIF incl. GPS, APPn, COM) every public image-corpus
    release runs (LAION, DataComp): emits ``(image_id, had_exif,
    n_stripped, bytes_removed, out_nbytes, clean_ok, pixels_ok)``
    where ``clean_ok`` verifies the scrubbed stream parses no
    orientation tag and ``pixels_ok`` verifies decode is byte-identical
    pre/post (the dropped segments are decode-inert by spec — checked
    per image, not assumed).

    Plan shape: map-only, one Arrow-batched UDF, bytes never shuffled
    (the flagship decode-stage shape). Oracle: pure-Python recompute
    fixture whose BUILD independently enforces that no APP1..APP15/COM
    marker survives in any scrubbed stream (an independent segment
    scan, not the strip function's own accounting) and that planted
    orientations were present pre-scrub."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        with_exif_scrub,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_exif_images_pandas,
    )

    pdf = generate_exif_images_pandas(160, seed=57)
    img = spark.createDataFrame(pdf)
    out = with_exif_scrub(img)
    return out.select(
        "image_id",
        "had_exif",
        F.col("n_stripped").cast("long").alias("n_stripped"),
        "bytes_removed",
        "out_nbytes",
        "clean_ok",
        "pixels_ok",
    )


def stream_interval_join_events(spark, sf_dir):
    """Stream-stream interval join (click->purchase attribution within 1h,
    same user) — watermarks on BOTH sides + event-time-bounded condition,
    the form Spark needs to evict join state. Inner join => emitted pairs
    equal the batch theta-join, so the oracle is exact."""
    import os
    import shutil

    from query_cost_feature_engineering_spark.streaming.sessions import (
        attribute_purchases_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    d = os.path.join(_workdir(), "stream_ij_" + str(abs(hash(sf_dir)) % 10**8))
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/part-000.parquet")
    clicks = read_events_stream(spark, d).filter(F.col("event_type") == "click")
    purchases = read_events_stream(spark, d).filter(
        F.col("event_type") == "purchase"
    )
    out = run_stream_to_memory(
        attribute_purchases_stream(clicks, purchases), state_partitions=8
    )
    return out.select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_ts",
        _rq("purchase_value").alias("purchase_value"),
    )


def image_dedup_clusters(spark, sf_dir):
    """End-to-end image dedup verdict table: phash banding candidates
    (hamming <= 12 over 13 bands — lossless, no crossJoin) -> connected
    components -> one survivor (min image_id) per cluster, singletons
    included. The same shape a 100-TB image-corpus dedup pipeline
    filters on before training-set export."""
    from query_cost_feature_engineering_spark.operators.cluster import (
        dedup_clusters,
    )
    from query_cost_feature_engineering_spark.operators.neardup import (
        hamming_neardup_pairs,
    )

    images = _synth_images(spark).select("image_id", "phash")
    pairs = hamming_neardup_pairs(images, "image_id", "phash", bits=64, max_dist=12)
    out = dedup_clusters(
        pairs, "image_id_a", "image_id_b",
        all_ids=images.select("image_id"), id_col="image_id",
    )
    return out.select("image_id", "cluster_id", "is_survivor")


def profile_orders(spark, sf_dir):
    """Column profiling (the Deequ/data-quality staple): per-column row
    count, null count, exact distinct count, min/max/mean — ONE aggregation
    pass producing a single wide row, unpivoted to (column, metrics) rows
    afterward (the unpivot touches one row, not the data). Exact
    count(distinct) keeps oracle parity; at 10^12 rows swap in
    approx_count_distinct per profile run — the plan shape is unchanged."""
    o = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__n_null"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            _rq(F.min(c)).alias(f"{c}__min"),
            _rq(F.max(c)).alias(f"{c}__max"),
            _rq(F.avg(c)).alias(f"{c}__mean"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__n_null, {c}__n_distinct, "
        f"{c}__min, {c}__max, {c}__mean"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) AS "
        "(col_name, n, n_null, n_distinct, min_v, max_v, mean_v)"
    )


def tfidf_top_terms(spark, sf_dir):
    """TF-IDF + BM25 document-term scoring, top-3 terms per document.

    Plan shape (the one you'd want at 100 TB): tokenize → ONE groupBy
    (doc_id, term) shuffle produces tf; doc length is a window-sum over
    the already-small tf relation (per-doc term counts), NOT a second
    pass over the text; document frequency aggregates tf by term and is
    broadcast back (vocabulary ≪ corpus). N and avgdl are one scalar agg
    job. BM25 uses k1=1.2, b=0.75. Ranking orders by the ROUNDED score
    (both engines round identically via the half-boundary nudge) with the
    term as tiebreak, so top-3 is cross-engine deterministic."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.agg(
        F.count_distinct("doc_id").alias("n"), F.sum("tf").alias("tot")
    ).first()
    n_docs, avgdl = int(stats["n"]), float(stats["tot"]) / float(stats["n"])
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w_doc = Window.partitionBy("doc_id")
    scored = (
        tf.withColumn("dl", F.sum("tf").over(w_doc))
        .join(F.broadcast(df), "term")
        .withColumn(
            "tfidf",
            _rq(
                F.col("tf")
                * (F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ),
        )
        .withColumn(
            "bm25",
            _rq(
                F.log(
                    (F.lit(float(n_docs)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * (F.col("dl") / F.lit(avgdl)))
                )
            ),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "bm25", F.col("rk").cast("long").alias("rk"))
    )


def label_centroid_embeddings(spark, sf_dir):
    """Per-label elementwise centroid of the embedding column — the
    vector-aggregation primitive behind IVF coarse quantizers and
    class prototypes. posexplode → groupBy(label, dim) is shuffle-minimal:
    map-side partial sums reduce each partition to |labels|×dim rows
    before the exchange, so shuffle volume is independent of row count."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    )
    return ex.groupBy("label", F.col("pos").cast("long").alias("pos")).agg(
        _rq(F.avg("val")).alias("centroid_v"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def salted_join_events(spark, sf_dir):
    """Skew-mitigated equi-join via operators/skew.salted_join: events
    (probe, potentially hot user_ids) ⋈ customer (build, replicated 8×
    with a salt column) on user_id = c_custkey, then revenue per nation.
    Row-identical to the plain join (oracle proves it); the salt spreads
    any heavy-hitter key over 8 shuffle buckets. tests/test_skew.py
    asserts the salted plan + equivalence with broadcast disabled."""
    from query_cost_feature_engineering_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    j = salted_join(ev, cust, "user_id", "c_custkey", n_salts=8, salt_col="event_id")
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        _rq(F.sum("value")).alias("sum_value"),
    )


def funnel_users(spark, sf_dir):
    """First-occurrence conversion funnel (signup → view → click →
    purchase) per user: one conditional-min aggregation pass, then a
    CASE ladder requiring strictly increasing first-occurrence
    timestamps. Single shuffle on user_id; no window, no self-join."""
    ev = _t(spark, sf_dir, "events")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts"))).alias(f"t_{t}")

    m = ev.groupBy("user_id").agg(
        first_ts("signup"), first_ts("view"), first_ts("click"), first_ts("purchase")
    )
    stage = (
        F.when(F.col("t_signup").isNull(), 0)
        .when(F.col("t_view").isNull() | (F.col("t_view") <= F.col("t_signup")), 1)
        .when(F.col("t_click").isNull() | (F.col("t_click") <= F.col("t_view")), 2)
        .when(
            F.col("t_purchase").isNull() | (F.col("t_purchase") <= F.col("t_click")), 3
        )
        .otherwise(4)
    )
    return m.select("user_id", stage.cast("long").alias("funnel_stage"))


def hist_orders_totalprice(spark, sf_dir):
    """Fixed-width 10-bin histogram of o_totalprice: one min/max scalar
    agg broadcast back, then a map-only bucket assignment + groupBy.
    Identical float op order on both engines ((x-mn)/((mx-mn)/10),
    floor, clamp) keeps bucketing deterministic; empty bins are omitted
    by both."""
    o = _t(spark, sf_dir, "orders")
    mm = o.agg(F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx"))
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("mn"))
            / ((F.col("mx") - F.col("mn")) / 10.0)
        ),
        F.lit(9),
    ).cast("long")
    return (
        o.crossJoin(F.broadcast(mm))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _rq(F.min("o_totalprice")).alias("lo"),
            _rq(F.max("o_totalprice")).alias("hi"),
            _rq(F.sum("o_totalprice")).alias("sum_v"),
        )
    )


def chunk_documents(spark, sf_dir):
    """LLM-context chunking: split each document into whitespace-token
    windows of 32 tokens with stride 24 (8-token overlap) — the staple
    pre-tokenization step for training-corpus preparation. Map-only
    (tokenize → per-row chunk-count arithmetic → explode → slice): no
    shuffle at all, so it scales with input splits. Chunk arithmetic is
    identical float op order on both engines (ceil((n-32)/24.0))."""
    d = _t(spark, sf_dir, "documents")
    tk = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    t2 = (
        d.select("doc_id", tk.alias("tk"))
        .withColumn("n", F.size("tk"))
        .filter(F.col("n") > 0)
    )
    k = F.greatest(
        F.ceil((F.col("n") - 32) / 24.0), F.lit(0).cast("long")
    ).cast("long")
    c = t2.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"), k)))
    start = F.col("chunk_idx") * 24
    return c.select(
        "doc_id",
        "chunk_idx",
        F.least(F.col("n") - start, F.lit(32)).cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.slice("tk", (start + 1).cast("int"), 32)).alias(
            "chunk_text"
        ),
    )


APPROX_RSD = 0.05
APPROX_PCT_ACC = 10000


def approx_profile_orders(spark, sf_dir):
    """Sketch-based profiling — the 10^12-row variant of profile_orders:
    HyperLogLog++ distinct counts (rsd=0.05) and approx_percentile
    (accuracy 10000) instead of exact distinct/percentile_cont, one agg
    pass, constant memory per column regardless of cardinality.

    Round 5 (verdict #6): rows-only -> INVARIANT oracle. Raw sketch
    values are engine-specific (no SQL mirror exists), so the output
    carries exact anchors (n, exact distinct counts — SQL-expressible)
    plus one boolean per sketch asserting its published error bound:
    HLL++ estimates within 3·rsd of the exact count, approx-percentile
    values between the exact quantiles at q ± 20·(1/accuracy) (the
    guarantee is rank error <= n/accuracy; the 20× slack keeps the
    check scale-robust while still catching a broken sketch). The
    DuckDB oracle computes the same exact anchors and literal TRUEs —
    the driver's hash match is then a hard pass/fail on every bound.
    Error magnitudes themselves stay pinned by tests/test_sketches.py."""
    o = _t(spark, sf_dir, "orders")
    eps = 20.0 / APPROX_PCT_ACC
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_custkey").alias("custkey_nd_exact"),
        F.count_distinct("o_totalprice").alias("totalprice_nd_exact"),
        F.approx_count_distinct("o_custkey", rsd=APPROX_RSD).alias("ck_a"),
        F.approx_count_distinct("o_totalprice", rsd=APPROX_RSD).alias(
            "tp_a"
        ),
        F.percentile_approx(
            "o_totalprice", 0.5, APPROX_PCT_ACC
        ).alias("p50_a"),
        F.percentile_approx(
            "o_totalprice", 0.95, APPROX_PCT_ACC
        ).alias("p95_a"),
        F.expr(
            f"percentile(o_totalprice,"
            f" array(0.5 - {eps}, 0.5 + {eps},"
            f" 0.95 - {eps}, 0.95 + {eps}))"
        ).alias("pb"),
    )

    def within(a, exact):
        return (
            F.abs(a.cast("double") - exact.cast("double"))
            <= F.lit(3.0 * APPROX_RSD) * exact.cast("double")
        )

    return agg.select(
        "n",
        "custkey_nd_exact",
        "totalprice_nd_exact",
        within(F.col("ck_a"), F.col("custkey_nd_exact")).alias(
            "custkey_nd_ok"
        ),
        within(F.col("tp_a"), F.col("totalprice_nd_exact")).alias(
            "totalprice_nd_ok"
        ),
        (
            (F.col("p50_a") >= F.element_at("pb", 1))
            & (F.col("p50_a") <= F.element_at("pb", 2))
        ).alias("p50_ok"),
        (
            (F.col("p95_a") >= F.element_at("pb", 3))
            & (F.col("p95_a") <= F.element_at("pb", 4))
        ).alias("p95_ok"),
    )


def feature_hash_events(spark, sf_dir):
    """Hashing-trick vectorizer (the unbounded-vocabulary analog of the
    reference's per-op one-hots, ref tpch_utils_knob.py:70-73): each
    categorical value is md5-hashed into one of 8 fixed buckets, then
    per-user bucket counts and value-weighted sums form the feature
    vector. No vocabulary pass, no driver state — map-only hash + one
    partial-agg shuffle, so the vector width stays constant at any
    cardinality. md5 (not xxhash) keeps the assignment engine-agnostic."""
    e = _t(spark, sf_dir, "events")
    b = (
        F.conv(F.substring(F.md5(F.col("event_type")), 1, 4), 16, 10)
        .cast("long")
        % 8
    )
    e = e.withColumn("b", b)
    aggs = []
    for i in range(8):
        hit = F.col("b") == i
        aggs.append(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias(f"h{i}")
        )
        aggs.append(
            _rq(F.sum(F.when(hit, F.col("value")).otherwise(0.0))).alias(
                f"w{i}"
            )
        )
    return e.groupBy("user_id").agg(*aggs)


def outlier_events_robust(spark, sf_dir):
    """Robust per-group outlier flagging (median/MAD z-score), the
    data-quality gate a training pipeline runs before fitting cost
    models on noisy timings (ref snapshot filtering discards zero-row
    samples; this generalizes to distributional trimming). Two grouped
    EXACT-percentile passes (median, then MAD on deviations) — group
    count is tiny so the stats broadcast back; the flag itself is a
    map-only expression. Cross-engine: flag compares the ROUNDED z so
    interpolation ULP noise cannot flip a row.

    Scale note: EXACT percentile buffers one group's values on one
    reducer — right for group-count >> group-size skew profiles; when a
    single group is table-sized, swap `F.percentile` for
    `F.approx_percentile` (constant memory, bounded error), same plan
    shape (see `approx_profile_orders`)."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    d = e.join(F.broadcast(med), "event_type")
    mad = d.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias(
            "mad"
        )
    )
    z = _rq(
        F.abs(F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"))
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .withColumn("robust_z", z)
        .filter(F.col("robust_z") > 3.5)
        .select(
            "event_id",
            "event_type",
            _rq("value").alias("value"),
            "robust_z",
        )
    )


def ewma_events(spark, sf_dir):
    """Per-entity exponential moving average (alpha=0.3) over event
    values in (ts, event_id) order — the smoothing step for per-entity
    drift features. The recurrence y_i = 0.7*y_{i-1} + 0.3*x_i is
    inherently sequential WITHIN an entity, so the scalable shape is
    hash-partition by entity + sortWithinPartitions + ONE mapInPandas
    pass per partition (parallel across entities, a single tight loop
    within, entity state carried across Arrow batches) — per-group
    applyInPandas paid ~1.5 ms/group of pandas overhead, 30× this plan
    on many-small-group inputs. No global sort, one hash shuffle. The
    oracle folds the identical op order (list_reduce with
    0.7*acc + 0.3*x), so rounded values match.

    The recurrence itself runs through pandas' Cython groupby-ewm
    (``groupby(...).ewm(alpha, adjust=False).mean()``), which computes
    the same ``0.7*prev + 0.3*x`` op order (then divides by
    ``0.7 + 0.3 == 1.0``, an exact float identity) — ~50× faster per
    element than the interpreted per-row loop it replaced. Cross-batch
    continuation is handled with an explicit SEED row: when a user's run
    spans an Arrow batch boundary, the carried ewma is prepended as a
    synthetic first observation (y_0 = seed, y_1 = 0.7*seed + 0.3*x_0 —
    exactly the continuation) and dropped from the output."""
    import pandas as pd

    # NOTE on partition count: AQE coalesces this exchange to 2
    # partitions at sf0.1 (tiny bytes). That is the RIGHT call here —
    # pinning repartition(32, ...) was measured SLOWER (1.4 s vs 0.76 s:
    # 32 near-empty Arrow round-trips cost more than the lost
    # parallelism) — and at real scale AQE's ~64 MB advisory target
    # yields far more partitions than cores, so the Python stage
    # parallelizes fully without help.
    e = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
    )

    def fn(batches):
        # Batches arrive in partition order; only the LAST user of the
        # previous batch can continue into the next (rows are sorted by
        # user), so the carry state is that one (user, ewma) pair.
        prev_user, prev_y, have_prev = None, 0.0, False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            users = pdf["user_id"].to_numpy()
            seeded = pdf[["user_id", "value"]].reset_index(drop=True)
            seed = bool(have_prev and users[0] == prev_user)
            if seed:
                seeded = pd.concat(
                    [
                        pd.DataFrame(
                            {"user_id": [prev_user], "value": [prev_y]}
                        ),
                        seeded,
                    ],
                    ignore_index=True,
                )
            r = (
                seeded.groupby("user_id", sort=False)["value"]
                .ewm(alpha=0.3, adjust=False)
                .mean()
            )
            y = r.reset_index(level=0, drop=True).sort_index().to_numpy()
            if seed:
                y = y[1:]
            prev_user, prev_y, have_prev = users[-1], float(y[-1]), True
            yield pd.DataFrame(
                {
                    "user_id": users,
                    "event_id": pdf["event_id"].to_numpy(),
                    "ewma": y,
                }
            )

    out = e.mapInPandas(fn, "user_id long, event_id long, ewma double")
    return out.select("user_id", "event_id", _rq("ewma").alias("ewma"))


def stream_image_features(spark, sf_dir):
    """Streaming ingest of the image table: file-source stream (2 files
    per micro-batch) through the stateless featurize stage (JVM basics +
    one Arrow decode UDF + phash bits + caption tokens), bytes dropped
    in-flight, appended to a sink. Same operator chain as the batch
    flagship pre-window stages — row parity is tested; driver check is
    rows-only (synthetic input, no DuckDB view)."""
    import os

    from pyspark.sql.types import StructType

    from query_cost_feature_engineering_spark.streaming.images import (
        IMAGES_SCHEMA,
        image_features_stream,
        read_images_stream,
    )
    from query_cost_feature_engineering_spark.streaming.sessions import (
        run_stream_to_memory,
    )

    d = os.path.join(_workdir(), "stream_images")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        # Conform to the declared stream schema before writing: pandas
        # int32 survives Arrow-path createDataFrame but widens to int64
        # without Arrow, and the file stream's fixed schema must match
        # the parquet physical types exactly.
        _synth_images(spark, n=2000, n_entities=60, seed=44).to(
            StructType.fromDDL(IMAGES_SCHEMA)
        ).repartition(4).write.mode("overwrite").parquet(d)
    out = run_stream_to_memory(
        image_features_stream(read_images_stream(spark, d, max_files=2))
    )
    return out.select(
        "image_id",
        "entity_id",
        "ts",
        "fmt",
        F.col("token_count").cast("long").alias("token_count"),
        _rq("px_mean").alias("px_mean"),
        _rq("nbytes").alias("nbytes"),
    )


CURATION_STREAM_SCHEMA = (
    "image_id string, bytes binary, fmt string, group_id long, role string"
)


def stream_image_curation(spark, sf_dir):
    """Streaming variant of the curation GATE: the fused
    sharpness+border+crop-phash Arrow UDF is stateless, so it streams
    — each micro-batch (1 file per trigger, 4 files) runs the
    IDENTICAL plan as the batch capstone's decode stage and appends
    gate verdicts; bytes dropped in-flight. The dedup stage is
    deliberately NOT streamed (same design note as the window layer in
    streaming/images.py: canonical selection needs the corpus-wide
    min, which is the batch pass over the narrow gate table — or
    first-arrival dropDuplicates state when incremental emission is
    required, at the price of arrival-order canonical choice).
    Oracle: the same independent-loop fixture as the batch capstone
    (gate columns only) — streaming adds batching, not semantics."""
    import os

    from pyspark.sql.types import StructType

    from query_cost_feature_engineering_spark.functions.image_features import (
        with_curation_stats,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_curation_corpus_pandas,
    )
    from query_cost_feature_engineering_spark.streaming.sessions import (
        run_stream_to_memory,
    )

    d = os.path.join(_workdir(), "stream_curation")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        spark.createDataFrame(
            generate_curation_corpus_pandas(80, 67)[
                ["image_id", "bytes", "fmt", "group_id", "role"]
            ]
        ).to(StructType.fromDDL(CURATION_STREAM_SCHEMA)).repartition(
            4
        ).write.mode("overwrite").parquet(d)
    stream = (
        spark.readStream.schema(CURATION_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    gated = with_curation_stats(stream)
    out = run_stream_to_memory(gated)
    return out.select(
        "image_id",
        "group_id",
        "role",
        "crop_w",
        "crop_h",
        _rq("lap_var").alias("lap_var"),
        (F.col("lap_var") >= BLUR_LAP_VAR_MIN).alias("is_sharp"),
        "crop_phash",
    )


def stream_upsert_events(spark, sf_dir):
    """Streaming CDC upsert: the events table split into three change
    files, drained one per micro-batch through `streaming/upsert` into a
    snapshot table — per-batch copy-on-write MERGE with the Delta
    txnAppId/txnVersion idempotence stamp, so a crash-replayed batch is
    skipped (pinned in tests/test_streaming.py). The converged table is
    "latest event per user" (seq = the unique event_id), which is the
    batch-SQL answer regardless of micro-batch boundaries — the oracle
    is one QUALIFY row_number() = 1 per user."""
    import os
    import tempfile

    from query_cost_feature_engineering_spark.runtime import snapshots as S
    from query_cost_feature_engineering_spark.streaming.upsert import (
        stream_upsert_to_table,
    )

    root = tempfile.mkdtemp(prefix="cdc_", dir=_workdir())
    src = os.path.join(root, "src")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for i in range(3):
        ev.filter(F.pmod("event_id", F.lit(3)) == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    changes = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    table = os.path.join(root, "tbl")
    stream_upsert_to_table(
        changes,
        table,
        os.path.join(root, "ck"),
        on=["user_id"],
        seq_col="event_id",
    )
    return S.read_table(spark, table).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        _rq("value").alias("value"),
    )


def incremental_read_orders(spark, sf_dir):
    """Incremental consumption of an append-only snapshot table (Iceberg
    incremental scan): orders land in three commits split by
    o_orderkey % 3; a consumer who checkpointed at v1 reads changes
    (v1, v3] — exactly the rows of commits 2 and 3, never the base.

    Plan shape: `runtime/snapshots.read_changes` over append-only
    history compiles to a parquet scan of ONLY the files the two later
    commits added — no join, no diff, no base-table IO (O(delta);
    pinned via inputFiles in tests/test_snapshots.py). Oracle: the mod
    split makes the change set `o_orderkey % 3 <> 0`."""
    import tempfile

    from query_cost_feature_engineering_spark.runtime import snapshots as S

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    d = tempfile.mkdtemp(prefix="snapinc_", dir=_workdir())
    S.write_snapshot(
        orders.filter(F.col("o_orderkey") % 3 == 0), d, mode="overwrite"
    )
    v1 = S.current_version(d)
    for m in (1, 2):
        S.write_snapshot(
            orders.filter(F.col("o_orderkey") % 3 == m), d, mode="append"
        )
    ch = S.read_changes(spark, d, v1)
    return ch.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        _rq("o_totalprice").alias("total"),
    )


def stream_snapshot_reads_orders(spark, sf_dir):
    """The versioned table as a STREAMING SOURCE (Delta-style CDF read —
    the read-side complement of stream_upsert_events' sink-side CDC):
    orders land in three append commits (o_orderkey mod 3); a
    `readStream.format("qcfe_snapshot")` consumer tails the commit log
    with offsets = snapshot versions and availableNow processing, so
    each micro-batch reads EXACTLY the files its commits added — O(delta)
    per batch, never the base table — and Spark's checkpoint makes the
    version watermark exactly-once across restarts (restart-delta and
    rewrite-handling pinned in tests/test_snapshot_source.py).

    Plan shape: per batch, a BatchScan of the added files (one input
    partition per immutable data file, Arrow batches end to end) feeding
    the parquet sink; no joins, no shuffles anywhere. Implemented as a
    PySpark 4 Python Data Source (spark.dataSource.register). Oracle:
    appends-only history ⇒ the streamed union is exactly the orders
    projection."""
    import os
    import tempfile

    from query_cost_feature_engineering_spark.runtime import snapshots as S
    from query_cost_feature_engineering_spark.sources.snapshot_source import (
        register,
    )

    register(spark)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="snapstream_", dir=_workdir())
    d = os.path.join(root, "tbl")
    for m in (0, 1, 2):
        S.write_snapshot(
            orders.filter(F.col("o_orderkey") % 3 == m),
            d,
            mode="overwrite" if m == 0 else "append",
        )
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")
    q = (
        spark.readStream.format("qcfe_snapshot")
        .option("table_dir", d)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        raise RuntimeError("snapshot stream did not drain in 300 s")
    return spark.read.parquet(out).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        _rq("o_totalprice").alias("total"),
    )


def snapshot_prune_orders(spark, sf_dir):
    """Manifest-level file pruning on a snapshot table (Iceberg's
    per-manifest-entry column bounds — the metadata layer that turns a
    selective scan of a 10^12-row table into O(matching files) instead
    of O(all footers)): orders are committed range-partitioned on
    o_orderkey into 8 disjoint-range files, each commit recording
    per-file min/max from the parquet footers; the read asks for keys
    ≤ max/8 via ``read_table(where=...)``, which drops ~7 of 8 files
    DRIVER-SIDE from the stats alone — verified in-query (raises if
    nothing pruned) and via inputFiles in tests/test_snapshots.py —
    then applies the same predicate as a residual filter so the result
    is exact regardless of pruning power.

    Plan shape: the pruned read compiles to a parquet scan of only the
    kept files + one shuffle for the groupBy; the pruning itself is
    pure driver-side JSON metadata. Oracle: the same filter+aggregate
    in DuckDB (the max/8 threshold is the SQL scalar subquery)."""
    import tempfile

    from query_cost_feature_engineering_spark.runtime import snapshots as S

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    d = tempfile.mkdtemp(prefix="snapprune_", dir=_workdir())
    S.write_snapshot(
        orders.repartitionByRange(8, "o_orderkey"), d, mode="overwrite"
    )
    thresh = orders.agg(F.max("o_orderkey")).collect()[0][0] // 8
    preds = [("o_orderkey", "<=", int(thresh))]
    kept, pruned = S.prune_files(d, preds)
    if not pruned:
        raise RuntimeError(
            f"manifest pruning had no effect: kept {len(kept)}, pruned 0"
        )
    return (
        S.read_table(spark, d, where=preds)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _rq(F.sum("o_totalprice")).alias("total"),
        )
    )


def merge_upsert_orders(spark, sf_dir):
    """Snapshot-table MERGE upsert + time travel, end to end on disk.

    The north-rule input is an Iceberg table; `runtime/snapshots.py` is
    the raw-parquet substitute (COVERAGE.md), and this query drives its
    full copy-on-write commit path the way an incremental ingest would:
    (1) commit a base snapshot of orders missing every 32nd key and with
    keys ≡1 (mod 32) at their original price; (2) MERGE a source batch
    that doubles the price of the ≡1 keys (update) and restores the ≡0
    keys (insert); (3) read the CURRENT version and LEFT-join the
    time-traveled base version to emit old-vs-new prices per key.

    Plan shape (10^12-row safe): the merge's affected-file discovery is
    one key-column semi-join grouped by input_file_name (payload columns
    pruned from the scan); only files containing matched keys are
    rewritten — the base is range-partitioned on the key so the ~1/31
    matched keys touch every file here, but the carried/rewritten split
    is exactly Iceberg's copy-on-write contract (pinned byte-identical in
    tests/test_snapshots.py). The final old-vs-new join is a plain
    shuffle join on the key. Oracle: the merge result is SQL-expressible
    as src ∪ (base ⋉̸ src) — see oracles.py."""
    import tempfile

    from query_cost_feature_engineering_spark.runtime import snapshots as S

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 32 != 0).repartitionByRange(
        8, "o_orderkey"
    )
    src = (
        orders.filter(F.col("o_orderkey") % 32 == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
        .unionByName(orders.filter(F.col("o_orderkey") % 32 == 0))
    )
    d = tempfile.mkdtemp(prefix="snaptbl_", dir=_workdir())
    v1 = S.write_snapshot(base, d, mode="overwrite")["version"]
    S.merge_into(spark, d, src, on=["o_orderkey"])
    cur = S.read_table(spark, d)
    old = S.read_table(spark, d, version=v1).select(
        "o_orderkey", F.col("o_totalprice").alias("_old")
    )
    return cur.join(old, "o_orderkey", "left").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        _rq("o_totalprice").alias("total"),
        _rq("_old").alias("total_v1"),
    )


REGISTRY = {
    "bloom_dedup_docs": bloom_dedup_docs,
    "aspect_bucket_images": aspect_bucket_images,
    "vlm_pack_images": vlm_pack_images,
    "ccnet_buckets_docs": ccnet_buckets_docs,
    "corpus_pipeline_docs": corpus_pipeline_docs,
    "exif_scrub_images": exif_scrub_images,
    "stream_snapshot_reads_orders": stream_snapshot_reads_orders,
    "snapshot_prune_orders": snapshot_prune_orders,
    "merge_upsert_orders": merge_upsert_orders,
    "stream_upsert_events": stream_upsert_events,
    "incremental_read_orders": incremental_read_orders,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q4_semi_orders": q4_semi_orders,
    "customers_no_orders": customers_no_orders,
    "rollup_revenue": rollup_revenue,
    "cube_revenue": cube_revenue,
    "range_join_promos": range_join_promos,
    "predicate_scan_parts": predicate_scan_parts,
    "set_ops_nations": set_ops_nations,
    "topk_orders_per_customer": topk_orders_per_customer,
    "agg_events_daily": agg_events_daily,
    "json_props_events": json_props_events,
    "deciles_orders": deciles_orders,
    "dedup_events_exact": dedup_events_exact,
    "pivot_user_event_counts": pivot_user_event_counts,
    "unpivot_user_event_counts": unpivot_user_event_counts,
    "window_lag_lead_events": window_lag_lead_events,
    "window_backfill_events": window_backfill_events,
    "sessionize_events": sessionize_events,
    "rolling_mean_events": rolling_mean_events,
    "rolling_time_events": rolling_time_events,
    "stream_sessionize_events": stream_sessionize_events,
    "stream_enrich_events": stream_enrich_events,
    "stream_tumbling_events": stream_tumbling_events,
    "stream_dedup_events": stream_dedup_events,
    "stream_interval_join_events": stream_interval_join_events,
    "stream_stateful_user_stats": stream_stateful_user_stats,
    "stream_image_features": stream_image_features,
    "asof_purchases_window": asof_purchases_window,
    "asof_purchases_pandas": asof_purchases_pandas,
    "asof_strict_purchases": asof_strict_purchases,
    "stream_asof_purchases": stream_asof_purchases,
    "feature_store_export": feature_store_export,
    "snapshot_linear_fit": snapshot_linear_fit,
    "snapshot_fit_dispatch": snapshot_fit_dispatch,
    "shap_feature_reduction": shap_feature_reduction,
    "ablation_leave_one_out": ablation_leave_one_out,
    "snapshot_template_sample": snapshot_template_sample,
    "normalize_quantity": normalize_quantity,
    "label_normalize_orders": label_normalize_orders,
    "qerror_snapshot_fit": qerror_snapshot_fit,
    "hash_split_customers": hash_split_customers,
    "stratified_sample_events": stratified_sample_events,
    "profile_orders": profile_orders,
    "hist_orders_totalprice": hist_orders_totalprice,
    "tfidf_top_terms": tfidf_top_terms,
    "label_centroid_embeddings": label_centroid_embeddings,
    "salted_join_events": salted_join_events,
    "funnel_users": funnel_users,
    "chunk_documents": chunk_documents,
    "approx_profile_orders": approx_profile_orders,
    "feature_hash_events": feature_hash_events,
    "outlier_events_robust": outlier_events_robust,
    "ewma_events": ewma_events,
    "structural_grouping_users": structural_grouping_users,
    "logscan_plans": logscan_plans,
    "mscn_serialize_plans": mscn_serialize_plans,
    "plan_featurize_nodes": plan_featurize_nodes,
    "explain_json_featurize": explain_json_featurize,
    "plan_featurize_deep": plan_featurize_deep,
    "plan_featurize_job_vocab": plan_featurize_job_vocab,
    "subplan_rollup_plans": subplan_rollup_plans,
    "dedup_exact_docs": dedup_exact_docs,
    "minhash_signatures": minhash_signatures,
    "minhash_band_pairs": minhash_band_pairs,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "contamination_docs": contamination_docs,
    "contamination_ngram_docs": contamination_ngram_docs,
    "span_dedup_docs": span_dedup_docs,
    "lang_id_docs": lang_id_docs,
    "domain_dedup_docs": domain_dedup_docs,
    "token_stats_docs": token_stats_docs,
    "gopher_quality_docs": gopher_quality_docs,
    "c4_clean_docs": c4_clean_docs,
    "shard_shuffle_docs": shard_shuffle_docs,
    "semdedup_embeddings": semdedup_embeddings,
    "dsir_weights_docs": dsir_weights_docs,
    "bpe_train_docs": bpe_train_docs,
    "mixture_rebalance_docs": mixture_rebalance_docs,
    "weighted_sample_docs": weighted_sample_docs,
    "pack_sequences_docs": pack_sequences_docs,
    "running_total_orders": running_total_orders,
    "dedup_clusters_docs": dedup_clusters_docs,
    "simhash_docs": simhash_docs,
    "embedding_cosine_topk": embedding_cosine_topk,
    "quantized_cosine_topk": quantized_cosine_topk,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_fixed_topk": ann_ivf_fixed_topk,
    "text_analysis_docs": text_analysis_docs,
    "lm_quality_docs": lm_quality_docs,
    "repetition_docs": repetition_docs,
    "pii_scrub_docs": pii_scrub_docs,
    "image_features": image_features,
    "image_asof_features": image_asof_features,
    "phash_neardup_images": phash_neardup_images,
    "image_dedup_clusters": image_dedup_clusters,
    "resize_images_meta": resize_images_meta,
    "augment_images_meta": augment_images_meta,
    "video_frame_sample": video_frame_sample,
    "video_frame_dedup": video_frame_dedup,
    "shard_pack_images": shard_pack_images,
    "jpeg_features_images": jpeg_features_images,
    "exif_orient_images": exif_orient_images,
    "mixed_format_features": mixed_format_features,
    "audio_features_clips": audio_features_clips,
    "format_sniff_images": format_sniff_images,
    "caption_align_images": caption_align_images,
    "datacomp_filter_images": datacomp_filter_images,
    "blur_detect_images": blur_detect_images,
    "html_extract_docs": html_extract_docs,
    "audio_fingerprint_dedup": audio_fingerprint_dedup,
    "border_crop_images": border_crop_images,
    "image_curation_pipeline": image_curation_pipeline,
    "image_decontam_phash": image_decontam_phash,
    "stream_image_curation": stream_image_curation,
    "audio_neardup_pairs": audio_neardup_pairs,
    "greedy_ablation_lineitem": greedy_ablation_lineitem,
}

# --- driver-sample ordering (round 4) ---------------------------------------
# The correctness driver hashes the FIRST 50 registry entries each round;
# by round 3 the registry had grown to 88 while the sampled window stayed
# on the original head, leaving 25+ green oracles invisible to
# CORRECTNESS_r*.json (round-3 verdict #8). Iteration order is therefore
# made explicit: (1) oracled queries the driver has never hashed —
# including every round-4 addition — (2) the remaining oracled queries in
# their original order, (3) rows-only queries (no oracle_sql entry; a
# sampled slot spent on one records only `no_oracle`). Nothing is added
# or removed — this is a permutation of the same registry.
_DRIVER_UNSEEN_ORACLED = [
    # round-5 SESSION-2 additions, newest first (the driver must hash
    # these on its first look):
    "image_curation_pipeline",
    "stream_image_curation",
    "image_decontam_phash",
    "audio_neardup_pairs",
    "audio_fingerprint_dedup",
    "border_crop_images",
    "blur_detect_images",
    "html_extract_docs",
    # round-5 session-1 additions:
    # eight new operators + the two rows-only -> oracle upgrades
    "bloom_dedup_docs",
    "aspect_bucket_images",
    "vlm_pack_images",
    "ccnet_buckets_docs",
    "corpus_pipeline_docs",
    "ann_ivf_topk",
    "exif_scrub_images",
    "stream_asof_purchases",
    "feature_store_export",
    "stream_snapshot_reads_orders",
    "snapshot_prune_orders",
    "merge_upsert_orders",
    "stream_upsert_events",
    "incremental_read_orders",
    "exif_orient_images",
    "mixed_format_features",
    "span_dedup_docs", "lang_id_docs", "domain_dedup_docs",
    "token_stats_docs",
    "gopher_quality_docs", "c4_clean_docs", "shard_shuffle_docs",
    "semdedup_embeddings",
    "dsir_weights_docs", "bpe_train_docs", "caption_align_images",
    "c4_clean_docs", "datacomp_filter_images", "video_frame_dedup",
    "shard_pack_images", "jpeg_features_images",
    "mscn_serialize_plans", "approx_profile_orders",
    "plan_featurize_deep", "plan_featurize_job_vocab",
    "subplan_rollup_plans", "stream_image_features",
    "plan_featurize_nodes", "explain_json_featurize",
    "feature_hash_events", "outlier_events_robust", "ewma_events",
    "structural_grouping_users", "dedup_exact_docs", "minhash_signatures",
    "minhash_band_pairs", "ngram_jaccard_pairs", "contamination_docs",
    "contamination_ngram_docs",
    "mixture_rebalance_docs", "weighted_sample_docs", "pack_sequences_docs",
    "running_total_orders", "dedup_clusters_docs", "simhash_docs",
    "embedding_cosine_topk", "quantized_cosine_topk",
    "embedding_neardup_pairs", "ann_lsh_topk", "ann_ivf_fixed_topk",
    "text_analysis_docs", "lm_quality_docs", "repetition_docs",
    "pii_scrub_docs",
    # round-4 fixture-oracle upgrades (previously rows-only)
    "image_features", "logscan_plans", "image_asof_features", "phash_neardup_images",
    "image_dedup_clusters", "resize_images_meta", "augment_images_meta",
    "video_frame_sample", "audio_features_clips", "format_sniff_images",
]
# greedy_ablation_lineitem: driver-side greedy search over Gram stats
# (pinned by an independent pandas+numpy recompute in
# tests/test_ablation_metrics.py; a 6x6 OLS solve is not
# SQL-expressible). ann_ivf_topk graduated to an INVARIANT oracle
# (rank/recall booleans vs the in-job exact brute force) — its raw
# neighbor surface stays pytest-pinned via _ann_ivf_topk_raw.
_ROWS_ONLY = ["greedy_ablation_lineitem"]
REGISTRY = {
    name: REGISTRY[name]
    for name in (
        _DRIVER_UNSEEN_ORACLED
        + [
            n
            for n in REGISTRY
            if n not in _DRIVER_UNSEEN_ORACLED and n not in _ROWS_ONLY
        ]
        + _ROWS_ONLY
    )
}
