"""Scale-safe near-duplicate joins — no cross join, no all-pairs.

Three candidate-generation schemes, each an equi-join on a derived key
(the only join shape that survives 10^12 rows), with exact verification
after:

* ``hamming_neardup_pairs`` — multi-index hamming banding: split the
  B-bit hash into ``max_dist + 1`` bands; by pigeonhole, two hashes
  within hamming distance ``max_dist`` agree EXACTLY on at least one
  band, so the equi-join on (band_idx, band_value) is lossless. Exact
  ``bit_count(xor)`` verification after. Output is identical to the
  cross-join formulation (golden-tested), plan is a hash join.
  This mirrors the reference's use of index identity one-hots
  (tpch_utils_knob.py:70-73) as exact-match keys.

* ``jaccard_pairs_prefix`` — exact set-similarity join via prefix
  filtering (the public SSJoin/AllPairs scheme): Jaccard(a,b) >= t
  implies |a∩b| >= ceil(t·|x|) for BOTH sets (union >= each set), and
  two sets with overlap >= α share an element within their first
  ``|x| - α + 1`` elements under any shared total order. So each set
  indexes only its md5-ordered prefix; candidates = equi-join on
  (block, token); exact Jaccard verified on the candidate pairs.
  Output identical to the all-pairs formulation.

* ``srp_candidate_pairs`` — embedding near-dup candidates via the same
  signed-random-projection LSH as operators/ann.py (one equi-join on
  (table, bucket)), exact cosine verification after. Unlike the two
  above, LSH recall < 1 by construction; the DuckDB oracle mirrors the
  identical candidate generation so the contract is deterministic, and
  recall against brute force is measured in tests.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.operators.ann import (
    ANN_BITS,
    ANN_DIM,
    ANN_TABLES,
    with_bucket_keys,
)
from query_cost_feature_engineering_spark.runtime.statcache import (
    StatsCache,
    plan_fingerprint,
)


def band_layout(bits: int, max_dist: int) -> list[tuple[int, int]]:
    """(shift, width) per band: ``max_dist + 1`` near-equal slices."""
    n_bands = max_dist + 1
    base, extra = divmod(bits, n_bands)
    layout, shift = [], 0
    for i in range(n_bands):
        width = base + (1 if i < extra else 0)
        layout.append((shift, width))
        shift += width
    return layout


def _band_values(hash_col: str, bands) -> "F.Column":
    """Array of per-band integer values for the pigeonhole banding —
    shared by the self-join and cross-corpus hamming shapes so the
    encoding can never drift between them."""
    return F.array(
        *[
            F.shiftrightunsigned(F.col(hash_col), s).bitwiseAND(
                F.lit((1 << w) - 1)
            )
            for s, w in bands
        ]
    )


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_dist: int = 12,
) -> DataFrame:
    """Pairs (id_a < id_b) with hamming(hash_a, hash_b) <= max_dist.

    Exact — the banding is a lossless candidate filter (pigeonhole).
    Plan: posexplode to (band, value) -> ONE shuffle equi-join ->
    bit_count verify. Hashes ride along (8 bytes), so no re-join.
    """
    bands = band_layout(bits, max_dist)
    band_vals = _band_values(hash_col, bands)
    e = df.select(
        F.col(id_col), F.col(hash_col), F.posexplode(band_vals).alias("_band", "_bv")
    )
    a = e.select(
        F.col(id_col).alias("_id_a"), F.col(hash_col).alias("_h_a"), "_band", "_bv"
    )
    b = e.select(
        F.col(id_col).alias("_id_b"), F.col(hash_col).alias("_h_b"), "_band", "_bv"
    )
    return (
        a.join(b, ["_band", "_bv"])
        .filter(F.col("_id_a") < F.col("_id_b"))
        .select(
            F.col("_id_a").alias(f"{id_col}_a"),
            F.col("_id_b").alias(f"{id_col}_b"),
            F.bit_count(F.col("_h_a").bitwiseXOR(F.col("_h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )


def hamming_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_dist: int = 8,
) -> DataFrame:
    """Cross-corpus pairs (left_id, right_id) with hamming <= max_dist —
    the DECONTAMINATION shape: probe corpus (train) against a reference
    corpus (eval/bench). Same lossless pigeonhole banding as
    hamming_neardup_pairs, but asymmetric: no id-ordering filter, and
    each side explodes its own band table before the ONE equi-join.
    At scale the bench side is small (eval sets are thousands of
    images), so its exploded band table broadcasts and the train
    corpus never shuffles."""
    bands = band_layout(bits, max_dist)

    def _explode(df: DataFrame, tag: str) -> DataFrame:
        band_vals = _band_values(hash_col, bands)
        return df.select(
            F.col(id_col).alias(f"_id_{tag}"),
            F.col(hash_col).alias(f"_h_{tag}"),
            F.posexplode(band_vals).alias("_band", "_bv"),
        )

    a = _explode(left, "a")
    b = _explode(right, "b")
    return (
        a.join(b, ["_band", "_bv"])
        .select(
            F.col("_id_a").alias(f"{id_col}_a"),
            F.col("_id_b").alias(f"{id_col}_b"),
            F.bit_count(F.col("_h_a").bitwiseXOR(F.col("_h_b"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )


_VOCAB_CACHE = StatsCache()


def jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    block_col: str | None = None,
    vocab_limit: int = 4_000_000,
) -> DataFrame:
    """Exact Jaccard-similarity join: pairs (a < b) with jac >= threshold.

    Dispatch: when the token vocabulary fits on the driver (one row per
    DISTINCT token — for 3-char shingles that is bounded by alphabet³,
    independent of corpus size), the vectorized small-vocab plan
    (``_jaccard_pairs_vocab``) runs: int-indexed prefixes + bitset
    verification, several× faster than the string-keyed join. Otherwise
    the unbounded-vocabulary join plan (``_jaccard_pairs_prefix_join``)
    runs. Both produce exactly the pairs of the O(N²) formulation
    (golden-tested against each other and against brute force).
    """
    blocks = [block_col] if block_col else []
    # The vocabulary (per-block distinct tokens + document frequencies) is
    # a stable corpus property, so the probe job is cached by the input's
    # content-aware fingerprint (plan semanticHash + file listing hash —
    # see runtime/statcache.py; the plan hash alone would go stale if the
    # same path were rewritten in-process). Re-running the same join on
    # the same input (bench reps, resumed pipelines) skips the
    # explode+groupBy+collect pass entirely. NOTE for benchmarking: reps
    # 2+ therefore hit this cache — call statcache.clear_all() between
    # reps (as bench.py does) when the probe job must be timed.
    fp = plan_fingerprint(docs)
    cache_key = (
        (fp, set_col, tuple(blocks), vocab_limit) if fp is not None else None
    )

    def vocab():
        ex = docs.select(
            *[F.col(c) for c in blocks], F.explode(set_col).alias("_tok")
        )
        dfreq = ex.groupBy(*blocks, "_tok").agg(
            F.count(F.lit(1)).alias("_df")
        )
        if vocab_limit > 0:
            # vocabulary probe: cap the collect at the limit + 1 rows so an
            # unbounded vocab costs one aggregate, never a driver OOM
            head = dfreq.limit(vocab_limit + 1).collect()
            if len(head) <= vocab_limit:
                return head
        return None

    vocab_pd = _VOCAB_CACHE.get_or_compute(cache_key, vocab)
    if vocab_pd is None:
        return _jaccard_pairs_prefix_join(
            docs, id_col, set_col, threshold, block_col
        )
    return _jaccard_pairs_vocab(
        docs, id_col, set_col, threshold, blocks, vocab_pd
    )


def _jaccard_pairs_vocab(
    docs: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    blocks: list,
    vocab_rows,
) -> DataFrame:
    """Small-vocabulary AllPairs plan (see ``jaccard_pairs_prefix``).

    One Arrow UDF pass per document emits (size, df-ordered prefix as
    INT token indices, fixed-width BITSET over the per-block vocab);
    candidates come from one int-keyed equi-join with size + positional
    filters; verification is ``bit_count(a AND b)`` over the bitsets —
    ~30 long ops per pair instead of a hash intersection of hundreds of
    strings. Exact: bitsets are an injective encoding of the sets.
    """
    t = float(threshold)
    # per-block df-ascending token index (ties by token) — the shared
    # total order the prefix theorem needs; index is block-local
    order: dict = {}
    widths: dict = {}
    for row in sorted(
        vocab_rows, key=lambda r: (tuple(str(r[c]) for c in blocks), r["_df"], r["_tok"])
    ):
        bk = "\x1f".join(str(row[c]) for c in blocks)
        d = order.setdefault(bk, {})
        d[row["_tok"]] = len(d)
    for bk, d in order.items():
        widths[bk] = (len(d) + 63) // 64

    max_width = max(widths.values()) if widths else 1

    def _featurize(batches):
        for pdf in batches:
            szs, prefixes, bitsets = [], [], []
            for bk, toks in zip(pdf["_bk"], pdf["_set"]):
                idx_map = order.get(bk, {})
                idxs = sorted({idx_map[s] for s in toks})
                sz = len(idxs)
                plen = sz - math.ceil(t * sz) + 1
                bits = [0] * max_width
                for j in idxs:
                    bits[j >> 6] |= 1 << (j & 63)
                szs.append(sz)
                prefixes.append(idxs[:plen])
                bitsets.append(
                    [b - (1 << 64) if b >= (1 << 63) else b for b in bits]
                )
            out = pdf.drop(columns=["_bk", "_set"])
            out["_sz"] = szs
            out["_prefix"] = prefixes
            out["_bits"] = bitsets
            yield out

    bkey = (
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in blocks])
        if blocks
        else F.lit("")
    )
    src = docs.select(
        F.col(id_col), *[F.col(c) for c in blocks],
        bkey.alias("_bk"), F.col(set_col).alias("_set"),
    )
    block_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name in ([id_col] + [str(c) for c in blocks])
    )
    # repartition to the session's shuffle parallelism BEFORE the stage
    # cut: the candidate join inherits this partitioning, and without it
    # a small parquet source would leave the 10⁴×-amplifying join running
    # on the input's file-split count (1-2 tasks)
    n_parts = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    feat = (
        src.mapInPandas(
            _featurize,
            schema=f"{block_fields}, _sz int, _prefix array<int>, _bits array<bigint>",
        )
        .repartition(n_parts)
        .localCheckpoint(eager=False)
    )

    toks = feat.select(
        F.col(id_col), *[F.col(c) for c in blocks], "_sz",
        F.posexplode("_prefix").alias("_pos", "_tok"),
    )
    a = toks.select(
        F.col(id_col).alias("_id_a"), F.col("_sz").alias("_sz_a"),
        F.col("_pos").alias("_pos_a"), *[F.col(c) for c in blocks], "_tok",
    )
    b = toks.select(
        F.col(id_col).alias("_id_b"), F.col("_sz").alias("_sz_b"),
        F.col("_pos").alias("_pos_b"),
        *[F.col(c).alias(f"_b_{c}") for c in blocks],
        F.col("_tok").alias("_b_tok"),
    )
    need = F.lit(t / (1.0 + t)) * (a["_sz_a"] + b["_sz_b"])
    ubound = F.least(a["_sz_a"] - a["_pos_a"], b["_sz_b"] - b["_pos_b"])
    cond = (
        (a["_tok"] == b["_b_tok"])
        & (a["_id_a"] < b["_id_b"])
        & (b["_sz_b"] * t <= a["_sz_a"])
        & (a["_sz_a"] * t <= b["_sz_b"])
        & (ubound >= need)
    )
    for c in blocks:
        cond = cond & (a[c] == b[f"_b_{c}"])
    cand = a.join(b, cond).select("_id_a", "_id_b").distinct()

    sets = feat.select(F.col(id_col), "_sz", "_bits")
    small = sets.count() <= 500_000
    sa = sets.select(
        F.col(id_col).alias("_id_a"), F.col("_sz").alias("_bsz_a"),
        F.col("_bits").alias("_ba"),
    )
    sb = sets.select(
        F.col(id_col).alias("_id_b"), F.col("_sz").alias("_bsz_b"),
        F.col("_bits").alias("_bb"),
    )
    if small:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    inter = F.aggregate(
        F.zip_with(
            F.col("_ba"), F.col("_bb"),
            lambda x, y: F.bit_count(x.bitwiseAND(y)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    ).cast("double")
    jac = inter / (
        F.col("_bsz_a").cast("double")
        + F.col("_bsz_b").cast("double")
        - inter
    )
    return (
        cand.join(sa, "_id_a")
        .join(sb, "_id_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select(
            F.col("_id_a").alias(f"{id_col}_a"),
            F.col("_id_b").alias(f"{id_col}_b"),
            "jac",
        )
    )


def _jaccard_pairs_prefix_join(
    docs: DataFrame,
    id_col: str,
    set_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """Unbounded-vocabulary AllPairs plan: pairs (a < b), jac >= threshold.

    The AllPairs/SSJoin candidate scheme, complete by construction:

    * canonical order = ascending DOCUMENT FREQUENCY (ties by token).
      Any shared total order keeps the prefix theorem valid; df-ascending
      additionally pushes stopword-grade tokens out of prefixes, which is
      what collapses the candidate count (md5 order left ~2000-doc tokens
      in prefixes at sf0.1 → 277M candidate rows; df order prunes them).
    * prefix length |x| - ceil(t·|x|) + 1 per set.
    * size filter: jac >= t forces t·|a| <= |b| <= |a|/t, applied in the
      candidate join (sizes ride with the prefix tokens).
    * positional filter (PPJoin): a match at position p leaves at most
      ``|x| - p`` elements that can still intersect; pairs whose bound
      falls below the equivalent-overlap requirement
      ``t/(1+t)·(|a|+|b|)`` are dropped BEFORE pair materialization.
      Lossless (the bound over-counts the true intersection).
    * exact ``array_intersect`` verification on candidates, over 64-bit
      token hashes (intersecting longs, not strings — same Jaccard
      unless two distinct tokens of one pair's union collide in 64 bits,
      p < 1e-14 per pair for thousand-token sets).

    ``block_col`` (e.g. language) partitions the key space; the df order
    is computed per block (pairs never cross blocks, so the order is
    shared where it matters). Returns (id_a, id_b, jac) with exactly the
    same rows as the O(N^2) plan (golden-tested).
    """
    blocks = [block_col] if block_col else []
    ex = docs.select(
        F.col(id_col), *[F.col(c) for c in blocks],
        F.explode(set_col).alias("_tok"),
    )
    dfreq = ex.groupBy(*blocks, "_tok").agg(F.count(F.lit(1)).alias("_df"))
    # The document-frequency table is one row per distinct token (×
    # block) — vocabulary-sized, not corpus-sized (3-char shingles are
    # bounded by alphabet³) — so broadcast it instead of shuffling the
    # full token stream into a sort-merge join.
    ranked = ex.join(F.broadcast(dfreq), blocks + ["_tok"])
    per_doc = ranked.groupBy(id_col, *blocks).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_df"), F.col("_tok")))
        ).alias("_ordered")
    )
    size = F.size("_ordered")
    plen = (size - F.ceil(F.lit(float(threshold)) * size) + F.lit(1)).cast("int")
    toks = per_doc.select(
        F.col(id_col), *[F.col(c) for c in blocks],
        size.alias("_sz"),
        F.posexplode(
            F.transform(
                F.slice(F.col("_ordered"), F.lit(1), plen), lambda x: x["_tok"]
            )
        ).alias("_pos", "_tok"),
    )
    # Both self-join branches consume this frame; without a stage cut the
    # whole explode→dfreq-join→collect_list pipeline runs twice. The
    # checkpoint is narrow (id, sizes, prefix token) — a fraction of the
    # input — so materializing it once is the 100-TB-safe choice too.
    toks = toks.localCheckpoint(eager=False)
    a = toks.select(
        F.col(id_col).alias("_id_a"),
        F.col("_sz").alias("_sz_a"),
        F.col("_pos").alias("_pos_a"),
        *[F.col(c) for c in blocks],
        "_tok",
    )
    b = toks.select(
        F.col(id_col).alias("_id_b"),
        F.col("_sz").alias("_sz_b"),
        F.col("_pos").alias("_pos_b"),
        *[F.col(c).alias(f"_b_{c}") for c in blocks],
        F.col("_tok").alias("_b_tok"),
    )
    t = float(threshold)
    # jac >= t  ⟺  |a∩b| >= t/(1+t)·(|a|+|b|); a match at 0-based
    # position p leaves at most |x| - p intersectable elements.
    need = F.lit(t / (1.0 + t)) * (a["_sz_a"] + b["_sz_b"])
    ubound = F.least(a["_sz_a"] - a["_pos_a"], b["_sz_b"] - b["_pos_b"])
    cond = (
        (a["_tok"] == b["_b_tok"])
        & (a["_id_a"] < b["_id_b"])
        & (b["_sz_b"] * t <= a["_sz_a"])
        & (a["_sz_a"] * t <= b["_sz_b"])
        & (ubound >= need)
    )
    for c in blocks:
        cond = cond & (a[c] == b[f"_b_{c}"])
    cand = a.join(b, cond).select("_id_a", "_id_b").distinct()
    # Verification side: one doc_id -> set array per document. Candidate
    # pairs outnumber documents by orders of magnitude whenever near-dups
    # are dense, so shuffling the candidates into two sort-merge joins
    # moves the big side twice; broadcasting the (small) per-doc arrays
    # keeps the candidate stream map-side. Materialize once so the
    # set-construction expression isn't re-evaluated per branch, and
    # broadcast only when the doc side is genuinely broadcast-sized —
    # beyond that the join falls back to shuffle (correct at any scale).
    sets = docs.select(
        F.col(id_col),
        F.transform(F.col(set_col), lambda s: F.xxhash64(s)).alias("_shh"),
    ).localCheckpoint(eager=False)
    small = sets.count() <= 500_000
    sa = sets.select(
        F.col(id_col).alias("_id_a"), F.col("_shh").alias("_sh_a")
    )
    sb = sets.select(
        F.col(id_col).alias("_id_b"), F.col("_shh").alias("_sh_b")
    )
    if small:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    # |a∪b| = |a| + |b| - |a∩b| (sets are distinct): one array traversal
    # per candidate instead of intersect + union materialization
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    jac = inter / (
        F.size("_sh_a").cast("double") + F.size("_sh_b").cast("double") - inter
    )
    return (
        cand.join(sa, "_id_a")
        .join(sb, "_id_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select(
            F.col("_id_a").alias(f"{id_col}_a"),
            F.col("_id_b").alias(f"{id_col}_b"),
            "jac",
        )
    )


# Corpora up to this many vectors verify cosine against a driver-built
# broadcast matrix (128-dim float64 -> ~50 MB at the cap) instead of
# shuffling both vectors with every candidate pair: the LSH join
# amplifies rows ~10^3x, so attaching two 1 KB arrays to each candidate
# turns a 2 MB corpus into GBs of exchange + Arrow traffic. The cache
# holds the COLLECTED (lookup, matrix) — never a Broadcast handle,
# which is bound to one SparkContext and would outlive a session
# restart under the content-keyed fingerprint — bounded by StatsCache's
# FIFO; the (cheap) sc.broadcast is re-issued per invocation and
# reclaimed by Spark's ContextCleaner when the plan is dropped.
SRP_MATRIX_MAX_ROWS = 50_000
_SRP_MATRIX_CACHE = StatsCache()


def srp_candidate_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bits: int = ANN_BITS,
    tables: int = ANN_TABLES,
    dim: int = ANN_DIM,
) -> DataFrame:
    """Embedding pairs (a < b) with cosine >= threshold, candidates via
    SRP-LSH bucket equi-join (ann.py machinery), exact cosine verify.

    Recall < 1 (LSH); the oracle mirrors the identical buckets.

    Plan shape: the candidate self-join and its dropDuplicates shuffle
    carry ONLY (id_a, id_b) — never the vectors. Verification looks the
    vectors up from a broadcast (id -> row) float64 matrix when the
    corpus fits ``SRP_MATRIX_MAX_ROWS`` (one einsum per Arrow batch);
    past the cap it falls back to joining the vectors back onto the
    deduped candidates (two equi-joins on a narrow table — still never
    through the dedup shuffle). At 10^9+ vectors the matrix path is the
    per-bucket layout instead: vectors stay bucket-local and the verify
    runs inside the bucket join's partition, same arithmetic.
    """
    spark = df.sparkSession
    e = with_bucket_keys(
        df.select(id_col, vec_col), vec_col, bits=bits, tables=tables, dim=dim
    )
    # candidate join + cosine verify amplify rows ~10³×; repartition so
    # they run at shuffle parallelism, not the source's file-split count
    e = e.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    )
    keys_a = e.select(F.col(id_col).alias("_id_a"), "_tbl", "_bk")
    keys_b = e.select(F.col(id_col).alias("_id_b"), "_tbl", "_bk")
    cand = (
        keys_a.join(keys_b, ["_tbl", "_bk"])
        .filter(F.col("_id_a") < F.col("_id_b"))
        .dropDuplicates(["_id_a", "_id_b"])
        .select("_id_a", "_id_b")
    )

    fp = plan_fingerprint(df)
    ck = (fp, id_col, vec_col, SRP_MATRIX_MAX_ROWS) if fp is not None else None

    def matrix():
        # narrow size probe first (ids only) — discovering an over-cap
        # corpus must not ship 50 MB of vectors driver-side
        n_probe = df.select(id_col).limit(SRP_MATRIX_MAX_ROWS + 1).count()
        if n_probe > SRP_MATRIX_MAX_ROWS:
            return None
        head = df.select(id_col, vec_col).collect()
        # last row wins for a duplicated id — the same one-vector-
        # per-id semantics the over-cap join path enforces below
        by_id = {r[0]: r[1] for r in head}
        lookup = {k: i for i, k in enumerate(by_id)}
        return lookup, np.asarray(list(by_id.values()), dtype=np.float64)

    mat = _SRP_MATRIX_CACHE.get_or_compute(ck, matrix)
    bvecs = (
        spark.sparkContext.broadcast(mat) if mat is not None else None
    )

    # Arrow-batched cosine: one float64 matmul per batch instead of an
    # interpreted per-element fold (~10× on 128-dim vectors). Summation
    # order differs from the oracle's sequential fold by ~1 ulp; the
    # contract rounds cos to 4 decimals (+1e-9 nudge), so a mismatch
    # needs a true value within ~1e-15 of a rounding boundary. Both
    # verify paths build the same float64 rows (float32 -> float64 is
    # exact), so cos is bit-identical between them.
    def _cos_rows(A: np.ndarray, B: np.ndarray) -> pd.Series:
        if len(A) == 0:
            return pd.Series([], dtype=np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
            np.einsum("ij,ij->i", B, B)
        )
        return pd.Series(num / den)

    if bvecs is not None:

        @F.pandas_udf("double")
        def _cos_ids(ia: pd.Series, ib: pd.Series) -> pd.Series:
            lookup, M = bvecs.value
            rows_a = M[[lookup[x] for x in ia]] if len(ia) else M[:0]
            rows_b = M[[lookup[x] for x in ib]] if len(ib) else M[:0]
            return _cos_rows(rows_a, rows_b)

        scored = cand.withColumn(
            "cos", _cos_ids(F.col("_id_a"), F.col("_id_b"))
        )
    else:

        @F.pandas_udf("double")
        def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
            return _cos_rows(
                np.asarray(va.tolist(), dtype=np.float64),
                np.asarray(vb.tolist(), dtype=np.float64),
            )

        # one vector per id (a duplicated id must not multiply pair
        # rows through the two joins) — mirrors the matrix path's
        # one-entry-per-id lookup
        va = df.select(
            F.col(id_col).alias("_id_a"), F.col(vec_col).alias("_v_a")
        ).dropDuplicates(["_id_a"])
        vb = df.select(
            F.col(id_col).alias("_id_b"), F.col(vec_col).alias("_v_b")
        ).dropDuplicates(["_id_b"])
        scored = (
            cand.join(va, "_id_a")
            .join(vb, "_id_b")
            .withColumn("cos", _cos(F.col("_v_a"), F.col("_v_b")))
        )

    return (
        scored.filter(F.col("cos") >= threshold)
        .select(
            F.col("_id_a").alias(f"{id_col}_a"),
            F.col("_id_b").alias(f"{id_col}_b"),
            "cos",
        )
    )
