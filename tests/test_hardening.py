"""Round-3 hardening: LSH bucket cap, bounded-plan hot-key handling,
ANSI-safe quantization, per-stratum full fractions, type-correct
deletion, content-aware statistics-cache keys."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from query_cost_feature_engineering_spark.operators.asof import (
    asof_join_pandas_merge,
)
from query_cost_feature_engineering_spark.operators.quant import (
    quantized_cosine,
    with_quantized,
)
from query_cost_feature_engineering_spark.operators.split import (
    stratified_hash_sample,
)
from query_cost_feature_engineering_spark.queries import band_pairs
from query_cost_feature_engineering_spark.runtime.checkpoint import (
    write_resumable,
)
from query_cost_feature_engineering_spark.runtime.delete import delete_keys
from query_cost_feature_engineering_spark.runtime.statcache import (
    _REGISTRY,
    clear_all,
    plan_fingerprint,
)


# ---------------------------------------------------------------- LSH cap
def test_band_pairs_small_and_big_paths_identical(spark):
    """The streaming self-join path must emit exactly the pair set of the
    collect_list path — same frame, cap forced either way."""
    rows = (
        [(0, "k1", i) for i in range(30)]
        + [(0, "k2", i) for i in range(100, 105)]
        + [(1, "k3", 7), (1, "k3", 21)]
    )
    banded = spark.createDataFrame(rows, "band int, key string, doc_id long")
    small = sorted(
        (r.doc_a, r.doc_b) for r in band_pairs(banded, cap=1000).collect()
    )
    big = sorted(
        (r.doc_a, r.doc_b) for r in band_pairs(banded, cap=3).collect()
    )
    assert small == big
    # (7, 21) appears in both k1 and k3 — the cross-bucket distinct
    # folds it, hence the -1
    assert len(small) == 30 * 29 // 2 + 5 * 4 // 2 + 1 - 1


def test_band_pairs_mass_duplication_bucket_completes(spark):
    """One adversarial 10^4-doc bucket: the capped path must route it
    through the streaming self-join (never one collect_list row) and
    produce the exact C(n,2) pair count."""
    n = 10_000
    banded = spark.range(n).select(
        F.lit(0).alias("band"),
        F.lit("dup").alias("key"),
        F.col("id").alias("doc_id"),
    )
    got = band_pairs(banded, cap=1024).count()
    assert got == n * (n - 1) // 2


# ------------------------------------------------- bounded-plan hot keys
def test_asof_5k_hot_entities_bounded_plan_and_correct(spark):
    """5000 entities over the hot threshold: membership must go through
    the broadcast join (plan size O(1) in hot-key count) and the result
    must still match pandas merge_asof."""
    n_ent = 5000
    right_pdf = pd.DataFrame(
        {
            "entity_id": [e for e in range(n_ent) for _ in range(3)],
            "ts": [t for _ in range(n_ent) for t in (10.0, 20.0, 30.0)],
            "val": [
                e * 100 + i for e in range(n_ent) for i in range(3)
            ],
        }
    )
    left_pdf = pd.DataFrame(
        {
            "entity_id": [e for e in range(n_ent) for _ in range(2)],
            "ts": [t for _ in range(n_ent) for t in (5.0, 25.0)],
        }
    )
    left = spark.createDataFrame(left_pdf)
    right = spark.createDataFrame(right_pdf)
    joined = asof_join_pandas_merge(
        left,
        right,
        on="ts",
        by="entity_id",
        value_cols=["val"],
        num_buckets=8,
        hot_threshold=1,  # every entity (3 rows) is hot -> 5000 hot ids
    )
    # plan stays bounded: no 5000-literal isin anywhere in the analyzed
    # plan (LocalRelation prints schema only, not data)
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 100_000
    assert "_hot_key" in plan  # broadcast membership path engaged

    got = joined.toPandas()
    assert len(got) == len(left_pdf)
    exp = pd.merge_asof(
        left_pdf.sort_values("ts", kind="mergesort"),
        right_pdf.sort_values("ts", kind="mergesort"),
        on="ts",
        by="entity_id",
        direction="backward",
    )
    want = {
        (r.entity_id, r.ts): r.val for r in exp.itertuples()
    }
    for r in got.itertuples():
        w = want[(r.entity_id, r.ts)]
        if pd.isna(w):
            assert pd.isna(r.val)
        else:
            assert r.val == w


# -------------------------------------------------------- split frac=1.0
def test_stratified_full_fraction_keeps_whole_stratum(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
        "id long, grp string",
    )
    out = stratified_hash_sample(
        df, "id", "grp", {"a": 1.0, "b": 0.5}, default_frac=1.0
    )
    n_a = out.filter(F.col("grp") == "a").count()
    n_b = out.filter(F.col("grp") == "b").count()
    assert n_a == 200  # frac 1.0 => whole stratum, not the ~6% hex bug
    assert 0 < n_b < 200


# -------------------------------------------------------- quant all-zero
def test_quantize_all_zero_vector_yields_null_not_error(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "id long, embedding array<double>",
    )
    q = with_quantized(df, "embedding", "q")
    rows = {r.id: r.q for r in q.collect()}
    assert rows[1] is None
    assert rows[2] is not None and max(map(abs, rows[2])) == 127
    # scoring against a NULL code vector is NULL, not an ANSI error
    a = q.filter(F.col("id") == 1).select(F.col("q").alias("qa"))
    b = q.filter(F.col("id") == 2).select(F.col("q").alias("qb"))
    s = a.crossJoin(b).select(quantized_cosine(F.col("qa"), F.col("qb")).alias("c"))
    assert s.collect()[0].c is None


# ---------------------------------------------------- delete narrow type
def test_delete_keys_with_int32_bucket_column(spark, tmp_path):
    """xxhash64 is type-sensitive: deletion from a store whose key column
    is int32 must hash the keys as int32 or it prunes wrong partitions
    and rows silently survive."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "store")
    (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("user_id", F.col("user_id").cast("int"))
        .write.parquet(src)
    )
    df = spark.read.parquet(src)
    write_resumable(df, out, "user_id", 8, [src])
    keys = [3, 17]
    n_key_rows = df.filter(F.col("user_id").isin(keys)).count()
    assert n_key_rows > 0
    res = delete_keys(spark, out, keys, "user_id", 8)
    assert res["rows_deleted"] == n_key_rows
    assert (
        spark.read.parquet(out).filter(F.col("user_id").isin(keys)).count()
        == 0
    )


# ------------------------------------------------------ statcache keying
def test_plan_fingerprint_detects_same_path_rewrite(spark, tmp_path):
    p = str(tmp_path / "data")
    spark.range(10).write.mode("overwrite").parquet(p)
    fp1 = plan_fingerprint(spark.read.parquet(p))
    fp1_again = plan_fingerprint(spark.read.parquet(p))
    assert fp1 is not None and fp1 == fp1_again
    spark.range(20).write.mode("overwrite").parquet(p)
    fp2 = plan_fingerprint(spark.read.parquet(p))
    assert fp2 is not None and fp2 != fp1


def test_clear_all_empties_every_registered_cache(spark, tmp_path):
    from query_cost_feature_engineering_spark import queries
    from query_cost_feature_engineering_spark.operators import (
        asof,
        neardup,
        prefix,
        rank,
    )

    caches = [
        asof._SKEW_PROFILE_CACHE,
        neardup._VOCAB_CACHE,
        neardup._SRP_MATRIX_CACHE,
        prefix._PREFIX_STATS_CACHE,
        rank._RANK_STATS_CACHE,
        queries._BLOOM_CACHE,
    ]
    assert all(any(c is r for r in _REGISTRY) for c in caches)

    p = str(tmp_path / "right")
    pd_right = pd.DataFrame({"entity_id": [1, 1, 2], "ts": [1.0, 2.0, 3.0]})
    spark.createDataFrame(pd_right.assign(val=[10, 20, 30])).write.parquet(p)
    left = spark.createDataFrame(pd_right[["entity_id", "ts"]])

    def join():
        asof_join_pandas_merge(
            left, spark.read.parquet(p), value_cols=["val"], num_buckets=2
        )

    join()
    assert asof._SKEW_PROFILE_CACHE._data
    clear_all()
    assert all(not c._data for c in _REGISTRY)
    hits, misses = asof._SKEW_PROFILE_CACHE.hits, asof._SKEW_PROFILE_CACHE.misses
    join()
    join()
    assert asof._SKEW_PROFILE_CACHE.misses == misses + 1
    assert asof._SKEW_PROFILE_CACHE.hits == hits + 1


def test_pii_scrub_redaction_semantics(spark):
    """Pin the scrub contract on literal text: global replacement (not
    first-match), email before phone, and patterns that cannot match the
    synthetic corpus's plain words."""
    import pyspark.sql.functions as F

    from query_cost_feature_engineering_spark.queries import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )

    rows = [
        (1, "mail a@b.io and c.d+x@e-f.org twice, call +1-555-0100 "
            "or 040-1234-5678 done"),
        (2, "no pii here just words and 42"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    red = F.regexp_replace(
        F.regexp_replace(F.col("t"), F.lit(PII_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(PII_PHONE_RE),
        F.lit("<PHONE>"),
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            red.alias("red"),
            F.regexp_count("t", F.lit(PII_EMAIL_RE)).alias("ne"),
            F.regexp_count("t", F.lit(PII_PHONE_RE)).alias("np"),
        ).collect()
    }
    assert out[1]["ne"] == 2 and out[1]["np"] == 2  # global, both kinds
    assert out[1]["red"] == (
        "mail <EMAIL> and <EMAIL> twice, call <PHONE> or <PHONE> done"
    )
    # short digit runs ('42') and plain words are untouched
    assert out[2]["ne"] == 0 and out[2]["np"] == 0
    assert out[2]["red"] == rows[1][1]


def test_pack_sequences_invariants(spark):
    """Packing contract: offsets bounded by L, exclusive prefix exactly
    reconstructs from token counts in corpus order, contexts are dense
    (every seq_id up to the last appears)."""
    from query_cost_feature_engineering_spark.queries import (
        PACK_CONTEXT_LEN,
        pack_sequences_docs,
    )

    pdf = (
        pack_sequences_docs(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert (pdf.seq_off < PACK_CONTEXT_LEN).all() and (pdf.seq_off >= 0).all()
    assert pdf.prefix.iloc[0] == 0
    # exclusive prefix = cumulative tokens of all earlier docs
    import numpy as np

    want = np.concatenate([[0], pdf.n_tokens.to_numpy()[:-1]]).cumsum()
    assert (pdf.prefix.to_numpy() == want).all()
    assert (
        pdf.seq_id.to_numpy() == pdf.prefix.to_numpy() // PACK_CONTEXT_LEN
    ).all()
    # contexts dense 0..max (no empty context can exist by construction)
    assert set(range(int(pdf.seq_id.max()) + 1)) == set(pdf.seq_id.unique())


def test_mixture_rebalance_moves_shares_toward_uniform(spark):
    """Rebalance contract: copy_id enumerates 1..n_copies per kept doc,
    every copy count is deterministic, and the post-resample per-source
    token shares are strictly closer to uniform than the input's."""
    import pyspark.sql.functions as F

    from query_cost_feature_engineering_spark.queries import (
        mixture_rebalance_docs,
    )

    sf = "/root/testdata/sf0.01"
    out = mixture_rebalance_docs(spark, sf).toPandas()
    g = out.groupby("doc_id")
    assert (g.copy_id.max() == g.n_copies.max()).all()
    assert (g.copy_id.min() == 1).all()
    assert (g.size() == g.n_copies.max()).all()

    d = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("nt"),
        )
        .toPandas()
    )
    before = d.groupby("source").nt.sum()
    merged = out.merge(d[["doc_id", "nt"]], on="doc_id")
    after = merged.groupby("source").nt.sum()

    def rel_spread(s):
        return (s.max() - s.min()) / s.mean()

    assert rel_spread(after) < rel_spread(before) / 2
    # determinism: second run identical
    out2 = mixture_rebalance_docs(spark, sf).toPandas()
    a = out.sort_values(["doc_id", "copy_id"]).reset_index(drop=True)
    b = out2.sort_values(["doc_id", "copy_id"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)
