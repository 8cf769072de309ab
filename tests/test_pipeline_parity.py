"""Spark plan vs single-process golden oracle — numpy.allclose per
(entity_id, ts, image_id), the FIXTURES.md F3 contract."""

import math

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from query_cost_feature_engineering_spark.functions.image_features import (
    phash_bits_pandas,
    with_phash_bits,
)
from query_cost_feature_engineering_spark.functions.text import (
    with_caption_features,
)
from query_cost_feature_engineering_spark.golden import caption_tokens, golden_features
from query_cost_feature_engineering_spark.plans.pipeline import (
    FEATURE_ORDER,
    assemble_vector,
    compute_features,
)
from query_cost_feature_engineering_spark.sources.images import VOCAB
from query_cost_feature_engineering_spark.sqltext import ident, literal, with_sql_columns

KEY = ["entity_id", "ts", "image_id"]


def test_feature_parity_allclose(spark, images_pdf, images_sdf):
    got = (
        compute_features(images_sdf)
        .toPandas()
        .sort_values(KEY, kind="mergesort")
        .reset_index(drop=True)
    )
    want = golden_features(images_pdf).sort_values(KEY, kind="mergesort").reset_index(
        drop=True
    )
    assert len(got) == len(want) == len(images_pdf)
    assert (got["image_id"].to_numpy() == want["image_id"].to_numpy()).all()
    for c in FEATURE_ORDER:
        g = got[c].to_numpy(dtype=np.float64)
        w = want[c].to_numpy(dtype=np.float64)
        assert np.allclose(g, w, rtol=1e-5, atol=1e-9, equal_nan=True), c


def test_vector_assembly_width_and_nulls(spark, images_sdf):
    out = assemble_vector(compute_features(images_sdf))
    row = out.select("features").first()
    assert len(row["features"]) == len(FEATURE_ORDER) == 160
    assert all(v is not None for v in row["features"])


def test_caption_exact_equality(spark, images_pdf, images_sdf):
    # per-row caption equality (input_hint contract) through the Spark scan
    got = (
        images_sdf.select("image_id", "caption")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want = images_pdf[["image_id", "caption"]].sort_values("image_id").reset_index(
        drop=True
    )
    assert (got["caption"] == want["caption"]).all()


# about 1.25x the count measured on PySpark 4.1.2
PLAN_BUILD_PY4J_BOUND = 1000


def test_plan_build_py4j_round_trips(images_sdf, count_py4j):
    """Building the flagship plan (no action) stays a few hundred py4j
    round trips: the 160-slot vector, 64 phash bits and 65 caption
    columns are SQL text, not one round trip per Column call (~13,000)."""
    calls = count_py4j(lambda: assemble_vector(compute_features(images_sdf)))
    assert calls <= PLAN_BUILD_PY4J_BOUND


def test_phash_bits_edge_values(spark):
    info = np.iinfo(np.int64)
    vals = np.array([0, -1, info.min, info.max], dtype=np.int64)
    sdf = spark.createDataFrame(pd.DataFrame({"k": range(len(vals)), "phash": vals}))
    got = with_phash_bits(sdf).toPandas().sort_values("k").reset_index(drop=True)
    want = phash_bits_pandas(pd.Series(vals))
    cols = [f"ph_{i}" for i in range(64)]
    assert (got[cols].to_numpy() == want[cols].to_numpy()).all()


def test_assemble_vector_nulls_nan_and_order(spark):
    """NULL -> 0.0, NaN stays NaN, every slot in FEATURE_ORDER (each
    column holds its own index; an integer column is cast)."""
    vals = [float(i) for i in range(len(FEATURE_ORDER))]
    vals[0], vals[1] = None, math.nan
    types = {"session_id": T.LongType()}
    schema = T.StructType(
        [T.StructField(c, types.get(c, T.DoubleType())) for c in FEATURE_ORDER]
    )
    row = [
        int(v) if isinstance(types.get(c), T.LongType) else v
        for c, v in zip(FEATURE_ORDER, vals)
    ]
    got = assemble_vector(spark.createDataFrame([row], schema)).first()["features"]
    assert got[0] == 0.0
    assert math.isnan(got[1])
    assert got[2:] == vals[2:]


CAPTIONS = [
    "  aurora basin ",
    "",
    "\taurora\nbasin",
    "aurora\xa0basin",
    "aurora\x0bbasin\x0caurora\raurora",
]


def test_caption_tokens_agree_with_golden(spark):
    """Engine and golden split on Java's \\s set and count no empty
    token: edge whitespace, the empty caption, tab/newline/vertical tab/
    form feed/CR, and U+00A0 (not a separator for either)."""
    sdf = spark.createDataFrame(pd.DataFrame({"k": range(len(CAPTIONS)), "caption": CAPTIONS}))
    got = with_caption_features(sdf).toPandas().sort_values("k").reset_index(drop=True)
    toks = [caption_tokens(c) for c in CAPTIONS]
    assert [len(t) for t in toks] == [2, 0, 2, 1, 4]
    assert got["token_count"].tolist() == [float(len(t)) for t in toks]
    for w in VOCAB:
        assert got[f"tok_{w}"].tolist() == [float(t.count(w)) for t in toks], w


def test_sql_text_quoting_round_trips(spark):
    """Identifiers with spaces or backticks resolve, and string literals
    with quotes, backslashes or tabs come back unchanged."""
    names = ["plain", "with space", "back`tick"]
    values = ["it's", "back\\slash", "\\s+", "tab\there"]
    df = spark.createDataFrame([(1, 2, 3)], names)
    exprs = {f"v{i}": literal(v) for i, v in enumerate(values)}
    exprs["total"] = " + ".join(ident(c) for c in names)
    row = with_sql_columns(df, exprs).first()
    assert [row[f"v{i}"] for i in range(len(values))] == values
    assert row["total"] == 6
