"""Approximate nearest neighbors over embedding columns.

Scale path for the brute-force cosine top-k (queries.py
``embedding_cosine_topk``): signed-random-projection LSH. Each of L
tables hashes a vector to a B-bit bucket (bit b = sign of the dot product
with a fixed ±1 hyperplane); candidates are vectors sharing any table's
bucket with the query, scored exactly, top-k kept. At 10^12 scale the
bucket join replaces the O(N·Q) cross join with L shuffle joins on bucket
keys; recall is tuned via (B, L).

Hyperplanes are deterministic ±1 vectors derived from md5 (hashing.py
style), embedded as literal arrays — so DuckDB evaluates the same
algorithm for the correctness oracle. Spark computes the projections with
a NumPy matmul (pairwise summation) while DuckDB folds sequentially, so
the two can differ by ~1e-15 relative; both engines therefore QUANTIZE
the projection (round to ``PROJ_DECIMALS``) before the sign test, making
the bucket assignment engine-independent unless a projection lands within
float error of a rounding boundary (not observed; the oracle would
surface it).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANN_DIM = 64
ANN_BITS = 4
ANN_TABLES = 12
PROJ_DECIMALS = 6  # projection quantization before the sign test


def srp_signs(table: int, bit: int, dim: int = ANN_DIM) -> list[int]:
    """±1 hyperplane components; md5-seeded, engine-independent constants."""
    return [
        1 if hashlib.md5(f"srp:{table}:{bit}:{d}".encode()).digest()[0] % 2 == 0
        else -1
        for d in range(dim)
    ]


def with_bucket_keys(
    df: DataFrame,
    vec_col: str,
    bits: int = ANN_BITS,
    tables: int = ANN_TABLES,
    dim: int = ANN_DIM,
) -> DataFrame:
    """Append posexploded LSH keys: one (_tbl, _bk) row per table.

    All L·B hyperplane projections run in one float64 matmul per Arrow
    batch (≈1000× less per-element overhead than interpreted JVM array
    folds); projections are quantized to PROJ_DECIMALS before the sign
    test so the oracle's sequential fold assigns identical buckets.
    """
    S = np.array(
        [srp_signs(t, b, dim) for t in range(tables) for b in range(bits)],
        dtype=np.float64,
    )  # (L·B, dim)
    pows = np.tile(1 << np.arange(bits, dtype=np.int64), tables).reshape(
        tables, bits
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _keys_udf(vecs: pd.Series) -> pd.Series:
        V = np.asarray(vecs.tolist(), dtype=np.float64)  # (n, dim)
        proj = np.round(V @ S.T, PROJ_DECIMALS)
        bits_m = (proj >= 0).reshape(len(V), tables, bits)
        keys = (bits_m * pows).sum(axis=2).astype(np.int32)  # (n, L)
        return pd.Series(list(keys))

    keys = _keys_udf(F.col(vec_col).cast("array<double>"))
    return df.select("*", F.posexplode(keys).alias("_tbl", "_bk"))


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_q: str = "target_id",
    id_c: str = "neighbor_id",
    vec_q: str = "qv",
    vec_c: str = "cv",
    bits: int = ANN_BITS,
    tables: int = ANN_TABLES,
    dim: int = ANN_DIM,
) -> DataFrame:
    """Bucketed cosine top-k: every row computes all L bucket keys in one
    projection, posexplodes to (table, key), and ONE equi-join on
    (table, key) yields the candidates — L joins collapsed into a single
    shuffle, which is the shape that survives at 10^12 rows."""
    qk = with_bucket_keys(queries, vec_q, bits, tables, dim)
    ck = with_bucket_keys(corpus, vec_c, bits, tables, dim)
    cand = (
        qk.join(ck, ["_tbl", "_bk"])
        .drop("_tbl", "_bk")
        .filter(F.col(id_q) != F.col(id_c))
        .dropDuplicates([id_q, id_c])
    )

    dot = F.aggregate(
        F.zip_with(
            F.col(vec_q), F.col(vec_c),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0), lambda a, v: a + v,
    )

    def _norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0), lambda a, v: a + v,
            )
        )

    scored = cand.withColumn(
        "cos", dot / (_norm(F.col(vec_q)) * _norm(F.col(vec_c)))
    )
    w = Window.partitionBy(id_q).orderBy(F.col("cos").desc(), F.col(id_c))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_q, id_c, "cos", "rnk")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_q: str = "target_id",
    id_c: str = "neighbor_id",
    vec_q: str = "qv",
    vec_c: str = "cv",
    n_cells: int = 16,
    n_probe: int = 4,
    sample_n: int = 2048,
    kmeans_iters: int = 8,
) -> DataFrame:
    """IVF (inverted-file) cosine top-k — the second ANN scale path.

    Train: a deterministic sample of the corpus (hash-ordered, so
    engine- and partitioning-independent) is collected and k-means runs
    DRIVER-side (centroids are tiny: n_cells × dim). Index: one Arrow
    matmul pass assigns every corpus vector to its nearest-centroid cell.
    Search: each query probes its ``n_probe`` nearest cells; candidates
    come from ONE equi-join on cell id; exact cosine + top-k after.

    Round 5 (verdict #6): k-means INIT is the first ``n_cells`` vectors
    of the hash-ordered sample — exactly the fixed-anchor seed
    :func:`ivf_fixed_topk` uses — so the trained path carries NO RNG at
    all and its output is digest-stable across runs and engines
    (tie-breaks use stable argsort like the fixed path).

    At 10^12 rows the assignment is a linear scan (no shuffle), the join
    shuffles on cell id, and centroid training never touches more than
    ``sample_n`` rows. Iterative k-means is not SQL-expressible, so this
    is a rows-only driver query; recall vs brute force is pytest-gated.
    """
    # deterministic sample: smallest md5(id) order — stable under any
    # partitioning, no RNG anywhere (init = sample head, the same
    # fixed-anchor seed as ivf_fixed_topk)
    samp = (
        corpus.select(vec_c, F.md5(F.col(id_c).cast("string")).alias("_h"))
        .orderBy("_h")
        .limit(sample_n)
        .toPandas()
    )
    V = np.asarray(samp[vec_c].tolist(), dtype=np.float64)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    cent = Vn[: min(n_cells, len(Vn))].copy()
    for _ in range(kmeans_iters):
        sims = Vn @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = Vn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    C = cent  # (cells, dim), unit-norm

    def _cells_udf(n_top: int):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def f(vecs: pd.Series) -> pd.Series:
            X = np.asarray(vecs.tolist(), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = Xn @ C.T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_top].astype(
                np.int32
            )
            return pd.Series(list(top))

        return f

    ck = corpus.select(
        "*",
        F.element_at(
            _cells_udf(1)(F.col(vec_c).cast("array<double>")), 1
        ).alias("_cell"),
    )
    qk = queries.select(
        "*",
        F.explode(
            _cells_udf(n_probe)(F.col(vec_q).cast("array<double>"))
        ).alias("_cell"),
    )
    cand = (
        qk.join(ck, "_cell")
        .drop("_cell")
        .filter(F.col(id_q) != F.col(id_c))
        .dropDuplicates([id_q, id_c])
    )
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_q), F.col(vec_c),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0), lambda a, v: a + v,
    )

    def _norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0), lambda a, v: a + v,
            )
        )

    scored = cand.withColumn(
        "cos", dot / (_norm(F.col(vec_q)) * _norm(F.col(vec_c)))
    )
    w = Window.partitionBy(id_q).orderBy(F.col("cos").desc(), F.col(id_c))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_q, id_c, "cos", "rnk")
    )


IVF_FIXED_CELLS = 8
IVF_FIXED_PROBE = 4
CELL_COS_DECIMALS = 6  # anchor-cosine quantization before the argmax
# past this many anchors the literal-expression assignment (one folded
# cosine expr per anchor) is routed to the Arrow matmul instead: the
# expression plan grows linearly in n_cells while the matmul is one
# BLAS call per batch
IVF_MATMUL_CELL_THRESHOLD = 64
IVF_MAX_CELLS = 4096


def _cos_expr(vec, other) -> "F.Column":
    """cos(vec, other) with the EXACT fold order the DuckDB _COS macro
    uses (sequential left fold; init 0.0 is IEEE-identical to DuckDB's
    first-element init), so both engines produce the same double."""
    dot = F.aggregate(
        F.zip_with(vec, other, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, v: a + v,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0), lambda a, v: a + v,
            )
        )

    return dot / (norm(vec) * norm(other))


def _round_half_up(a: np.ndarray, decimals: int) -> np.ndarray:
    """Vectorized HALF_UP (away-from-zero) rounding, bit-exact with
    Spark's ``F.round`` on doubles — ``np.round`` is half-EVEN, so an
    exact ``...5`` tie would assign a vector to different cells on the
    two assignment paths. Fast path: floor(|x|·10^d + 0.5). That can
    disagree with Spark within ~1 ulp of a tie boundary (Spark's
    BigDecimal.valueOf expands the SHORTEST decimal representation
    instead of multiplying), so tie-suspect elements — vanishingly rare
    in real cosine data — are re-rounded exactly via
    Decimal(repr(x)).quantize(HALF_UP), which is the same
    shortest-round-trip decimal Java's Double.toString produces."""
    a = np.asarray(a, dtype=np.float64)
    s = 10.0 ** decimals
    scaled = np.abs(a) * s
    out = np.sign(a) * np.floor(scaled + 0.5) / s
    frac = scaled - np.floor(scaled)
    sus = np.abs(frac - 0.5) <= 8 * np.spacing(np.maximum(scaled, 1.0))
    if np.any(sus):
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1).scaleb(-decimals)
        flat, src = out.reshape(-1), a.reshape(-1)
        for i in np.flatnonzero(sus.reshape(-1)):
            flat[i] = float(
                Decimal(repr(float(src[i]))).quantize(
                    q, rounding=ROUND_HALF_UP
                )
            )
    return out


def _assign_cells_matmul(
    df: DataFrame, anchors, vec_col: str, n_top: int
) -> DataFrame:
    """Arrow-matmul cell assignment for large anchor sets: quantized
    anchor cosines (CELL_COS_DECIMALS, HALF_UP like the
    literal-expression path's ``F.round``) + stable argsort, so ties
    break to the smallest anchor rank — the same semantics as that
    path's ``array_position`` / ``row_number`` (first index wins). Cell
    ids are 1-based to match. KNOWN divergence for degenerate inputs: a
    zero-norm vector gets cosine 0 here (the 1e-12 clamp) but NaN from
    ``_cos_expr``'s 0/0 on the literal path, so all-zero embeddings may
    assign differently across the 64-anchor threshold — real corpora
    should drop zero vectors upstream."""
    A = np.asarray([list(r["_av"]) for r in anchors], dtype=np.float64)
    An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def f(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sims = _round_half_up(Xn @ An.T, CELL_COS_DECIMALS)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_top]
        return pd.Series(list((order + 1).astype(np.int32)))

    return df.withColumn("_cells", f(F.col(vec_col).cast("array<double>")))


def ivf_fixed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_q: str = "target_id",
    id_c: str = "neighbor_id",
    vec_q: str = "qv",
    vec_c: str = "cv",
    n_cells: int | None = IVF_FIXED_CELLS,
    n_probe: int = IVF_FIXED_PROBE,
) -> DataFrame:
    """IVF cosine top-k with DETERMINISTIC anchors — the oracled variant
    of :func:`ivf_topk` (whose k-means training is not SQL-expressible).

    Anchors (fixed centroids) are the ``n_cells`` corpus vectors with the
    smallest ``md5(id)`` — the same seedless hash-order trick the engine
    uses for sampling, reproducible in any engine. Corpus assignment is
    MAP-ONLY: each vector's cell is the argmax of its anchor cosines
    (quantized to ``CELL_COS_DECIMALS`` so both engines agree; ties break
    to the smallest anchor rank via first-index semantics on both sides
    — Spark ``array_position``, DuckDB ``ORDER BY s DESC, rk``). Queries
    probe their ``n_probe`` best cells; candidates come from ONE cell-id
    equi-join; exact cosine + top-k after.

    At 10^12 rows: anchor selection is a tiny hash-ordered limit, the
    assignment scan has NO shuffle (anchors are plan constants), and
    the only shuffle is the candidate equi-join on cell id — same shape
    as the production :func:`ivf_topk`, minus the training step. The
    join has exactly ``n_cells`` distinct keys, so the cell count IS
    the join's parallelism: ``n_cells=None`` auto-sizes it to the IVF
    practice ``≈ √N`` (one count job, clamped to
    [IVF_FIXED_CELLS, IVF_MAX_CELLS]), and past
    ``IVF_MATMUL_CELL_THRESHOLD`` anchors the assignment automatically
    routes through the Arrow-matmul path :func:`ivf_topk` uses (the
    literal-expression plan grows linearly in n_cells; the matmul is
    one BLAS call per batch, same quantized-argmax + first-index
    tie-break semantics). The 8-cell literal default stays for the
    oracled test-size query, where the DuckDB mirror evaluates the
    identical literal expressions.
    """
    if n_cells is None:
        n = corpus.count()
        n_cells = max(IVF_FIXED_CELLS, min(IVF_MAX_CELLS, round(n**0.5)))
    anchors = (
        corpus.select(
            F.col(vec_c).alias("_av"),
            F.md5(F.col(id_c).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )

    if len(anchors) > IVF_MATMUL_CELL_THRESHOLD:
        ck = _assign_cells_matmul(corpus, anchors, vec_c, 1).select(
            id_c, vec_c, F.element_at("_cells", 1).alias("_cell")
        )
        qk = _assign_cells_matmul(queries, anchors, vec_q, n_probe).select(
            id_q, vec_q, F.explode("_cells").alias("_cell")
        )
    else:

        def cells_arr(vec) -> "F.Column":
            return F.array(
                *[
                    F.round(
                        _cos_expr(
                            vec,
                            F.array(*[F.lit(float(x)) for x in r["_av"]]),
                        ),
                        CELL_COS_DECIMALS,
                    )
                    for r in anchors
                ]
            )

        ck = corpus.withColumn("_cs", cells_arr(F.col(vec_c))).select(
            id_c,
            vec_c,
            F.array_position(F.col("_cs"), F.array_max("_cs"))
            .cast("int")
            .alias("_cell"),
        )
        qs = queries.withColumn("_cs", cells_arr(F.col(vec_q))).select(
            id_q, vec_q, F.posexplode("_cs").alias("_pos", "_s")
        )
        wq = Window.partitionBy(id_q).orderBy(
            F.col("_s").desc(), F.col("_pos")
        )
        qk = (
            qs.withColumn("_rn", F.row_number().over(wq))
            .filter(F.col("_rn") <= n_probe)
            .select(
                id_q, vec_q, (F.col("_pos") + 1).cast("int").alias("_cell")
            )
        )
    cand = (
        qk.join(ck, "_cell")
        .drop("_cell")
        .filter(F.col(id_q) != F.col(id_c))
    )
    scored = cand.withColumn(
        "cos", _cos_expr(F.col(vec_q), F.col(vec_c))
    )
    w = Window.partitionBy(id_q).orderBy(F.col("cos").desc(), F.col(id_c))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_q, id_c, "cos", "rnk")
    )


# --- oracle SQL generation (DuckDB mirror of the identical algorithm) -------

def _duck_dot_signs(vec: str, signs: list[int]) -> str:
    lits = ", ".join(f"{s}.0" for s in signs)
    return (
        f"list_reduce(list_transform(generate_series(1, {len(signs)}), "
        f"i -> {vec}[i] * ([{lits}])[i]), (a, v) -> a + v)"
    )


def duck_bucket_key(vec: str, table: int, bits: int = ANN_BITS,
                    dim: int = ANN_DIM) -> str:
    terms = " + ".join(
        f"(CASE WHEN round({_duck_dot_signs(vec, srp_signs(table, b, dim))}, "
        f"{PROJ_DECIMALS}) >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"({terms})"
