"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring the standard vector-search architecture:

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  The dot product / norms are pure Column expressions (``zip_with`` +
  ``aggregate``), so the O(nq × n) score computation stays JVM-side; the
  top-k is a window over query id. Use when |queries| is small or as the
  re-rank stage.
- ``lsh_topk``: random-hyperplane (signed random projection) LSH — each
  vector gets a ``num_bits`` signature; candidates share a signature
  band; exact cosine re-ranks candidates. This is the 100 TB path: the
  candidate join is an equi-join on band hash (shuffle on a
  high-cardinality key), never a cross product. Recall is tunable via
  bands/bits.

No MLlib dependency: MLlib's BucketedRandomProjectionLSH requires Vector
columns and its own pipeline model; plain array columns keep the
operators composable with the rest of the engine and with the parquet
lake schema.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from incubator_gobblin_spark.functions.sql_text import (
    double_array,
    double_array_col,
    ident,
)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns (double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _assert_broadcast_sized(
    df: DataFrame, max_rows: int, op: str, scale_alt: str
) -> None:
    """Bounded-cost guard that a side intended for broadcast actually
    is broadcast-sized (limit(max+1).count() — never a full scan)."""
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise ValueError(
            f"{op}: broadcast side exceeds {max_rows} rows; "
            f"use {scale_alt} for corpus-scale inputs "
            f"(or raise max_broadcast_rows explicitly)"
        )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, sim), k rows per query.

    ``queries`` is broadcast (the query set is small by construction);
    the big ``vectors`` side is never shuffled — each partition scores
    its vectors against all queries and the window top-k reduces
    per-query. Ties broken by neighbor id for determinism.

    Guard: the query side must actually be broadcast-sized — a fat
    "query" set silently turns this into an O(n·q) full cross product
    across the cluster. Checked with a bounded count (costs at most a
    ``max_broadcast_rows+1``-row scan); oversize callers are pointed at
    :func:`lsh_topk`.
    """
    _assert_broadcast_sized(queries, max_broadcast_rows, "cosine_topk", "lsh_topk")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vvec")
    )
    scored = v.join(F.broadcast(q), on=F.lit(True), how="inner")
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.withColumn(
        "sim", F.round(cosine(F.col("_qvec"), F.col("_vvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def _hyperplanes(dim: int, num_bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_bits)
    ]


def _srp_band_keys(planes: list[list[float]], bands: int):
    """Arrow-batched SRP banding: returns a pandas UDF mapping an
    embedding column to ``array<long>`` of ``bands`` band keys (each key
    packs that band's sign bits into an integer — a bijection of the
    bit-string key, and 8 bytes on the shuffle wire instead of a
    string).

    Why Python here, in an engine that forbids it in row paths: the SRP
    signature is a dense matrix product (batch × planesᵀ). The best JVM
    formulation available to a plain DataFrame program — posexplode to
    n·dim rows + ``num_bits`` codegen'd sum-aggregates — measured 3.3×
    slower end-to-end at sf0.1 and costs an n·dim-row map-side combine,
    while one NumPy matmul per Arrow batch is BLAS-vectorized and keeps
    the stage a pure projection: ZERO shuffle, embarrassingly parallel
    at any scale. ``tests/test_plan_discipline.py`` pins this as one of
    the few sanctioned ArrowEvalPython sites (never BatchEvalPython).

    Sign ties: a projection within float ulp of 0 may bucket
    differently than a sequential-fold formulation (BLAS accumulation
    order) — irrelevant to LSH semantics, noted for reproducibility.
    The closure carries the plane matrix by value as a float64 ndarray
    (same values the list formulation converted to per batch), so the
    UDF is self-contained under cloudpickle on any executor; the
    ndarray pickles as one contiguous buffer instead of a list-of-lists
    of boxed floats, and the per-batch asarray conversion disappears."""
    import numpy as np

    P = np.asarray([list(p) for p in planes], dtype=np.float64)  # bits x dim
    n_bands = int(bands)
    bpb = P.shape[0] // n_bands
    weights = (1 << np.arange(bpb)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def srp_band_keys(embs):  # pd.Series[np.ndarray] -> pd.Series[list]
        import numpy as np
        import pandas as pd

        if len(embs) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(embs.to_numpy()).astype(np.float64)  # n x dim
        bits = (M @ P.T) >= 0.0  # n x num_bits
        keys = bits.reshape(len(embs), n_bands, bpb) @ weights  # n x bands
        return pd.Series(list(keys))

    return srp_band_keys


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_bits: int = 16,
    bands: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: SRP-LSH candidate generation + exact cosine
    re-rank. Bands of ``num_bits//bands`` bits each; a vector is a
    candidate for a query if any band matches. Output shape matches
    :func:`cosine_topk` (fewer than k rows per query is possible —
    that's the recall trade-off; widen bands/bits to recover)."""
    planes = _hyperplanes(dim, num_bits, seed)
    band_udf = _srp_band_keys(planes, bands)

    def banded(df: DataFrame, idname: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"_{idname}_vec"),
            F.posexplode(band_udf(F.col(vec_col))).alias("band_id", "band_key"),
        )

    v = banded(vectors, "neighbor_id")
    q = banded(queries, "query_id")
    cand = (
        v.join(F.broadcast(q), on=["band_id", "band_key"])
        .select("query_id", "neighbor_id", "_query_id_vec", "_neighbor_id_vec")
        .distinct()
    )
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn(
        "sim", F.round(cosine(F.col("_query_id_vec"), F.col("_neighbor_id_vec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: (id_l, id_r, sim) with
    id_l < id_r and sim >= threshold.

    All-pairs scoring with one side broadcast: correct-by-construction
    baseline, O(n²) compute — use only when one side fits in a broadcast
    (re-rank stages, validation runs). The corpus-scale path is
    :func:`cosine_near_dup_pairs` (LSH candidates first). Guarded like
    :func:`cosine_topk` — the broadcast side is the whole corpus here.

    Threshold boundary: ``sim`` is rounded to 6 decimals before the
    ``>=`` comparison (determinism across engines), so membership of a
    pair whose TRUE cosine sits within 5e-7 of the threshold is
    rounding-defined — the same contract as the LSH path's re-rank,
    but not bit-identical to comparing the unrounded value.
    """
    _assert_broadcast_sized(
        vectors, max_broadcast_rows, "cosine_pairs", "cosine_near_dup_pairs"
    )
    # Norms are staged as physical scalar columns BEFORE the pair join —
    # one norm per vector instead of one per pair (the naive
    # cosine-per-pair form recomputes each norm n-1 times).
    l = vectors.select(
        F.col(id_col).alias("id_l"),
        F.col(vec_col).alias("_lv"),
        norm(F.col(vec_col)).alias("_nl"),
    )
    r = vectors.select(
        F.col(id_col).alias("id_r"),
        F.col(vec_col).alias("_rv"),
        norm(F.col(vec_col)).alias("_nr"),
    )
    sim = dot(F.col("_lv"), F.col("_rv")) / (F.col("_nl") * F.col("_nr"))
    return (
        l.join(F.broadcast(r), F.col("id_l") < F.col("id_r"))
        .withColumn("sim", F.round(sim, 6))
        .filter(F.col("sim") >= threshold)
        .select("id_l", "id_r", "sim")
    )


def srp_scale_params(
    expected_n: int,
    bands: int = 8,
    target_bucket_rows: int = 64,
) -> tuple[int, int]:
    """Scale rule for the SRP-LSH band parameters: ``(num_bits,
    bands)`` sized so expected bucket occupancy stays ~constant as the
    corpus grows. Each band keys into ``2^(num_bits/bands)`` buckets,
    so at FIXED bits a 10× corpus means 10× rows per bucket and ~100×
    candidate pairs — the near-linear wall the sf1 soak measured on
    q52 (7.86× at 10× data). Holding ``bits_per_band =
    ceil(log2(n / target_bucket_rows))`` keeps per-bucket pair
    expansion flat; wall then scales ~linearly with n (candidate
    count), not quadratically inside buckets.

    Tuning table (bands=8, target 64 rows/bucket):

    =============  =============  ========
    expected_n     bits_per_band  num_bits
    =============  =============  ========
    ~60 k (sf1)          10             80
    ~600 k (sf10)        14            112
    ~6 M                 17            136
    ~600 M (100 TB)      24            192
    =============  =============  ========

    More bits per band = fewer collisions = lower recall per band;
    callers holding a recall target raise ``bands`` together with the
    bits (each extra band is one more posexplode copy + groupBy —
    linear cost). The defaults of :func:`cosine_near_dup_pairs` stay
    FIXED for reproducibility; pass these results explicitly when the
    corpus outgrows them."""
    import math

    n = max(int(expected_n), 1)
    bits_per_band = max(
        4, math.ceil(math.log2(max(n / max(target_bucket_rows, 1), 2.0)))
    )
    return bits_per_band * bands, bands


def cosine_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 64,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Embedding-cosine near-dup pairs at corpus scale: SRP-LSH bucket
    candidates (vectors sharing any signature band), then exact cosine
    filter. Same candidate discipline as MinHash dedup — the all-pairs
    expansion only ever happens inside a bucket, via one groupBy shuffle;
    recall < 1 by design (raise bands to recover).

    SCALE CONTRACT: the defaults (64 bits / 8 bands = 8 bits per band,
    256 buckets per band) are sized for ~10-100 k vectors. They do NOT
    auto-scale — at fixed bits, bucket occupancy grows linearly with n
    and in-bucket pair expansion quadratically, until
    ``max_bucket_size`` drops the hottest buckets (recall loss instead
    of blow-up). Past ~100 k vectors pass
    ``num_bits, bands = srp_scale_params(expected_n)`` — see its
    tuning table; the sf1 soak's q52 ratio (7.86× wall at 10× data)
    is exactly this effect at fixed defaults.

    Skew guards: zero-norm vectors (cosine undefined; every one of them
    projects to the all-ones band key) are excluded up front, and
    buckets larger than ``max_bucket_size`` are dropped instead of
    pair-expanded (observe metric ``cosine_lsh_dropped_buckets``) — one
    degenerate bucket would otherwise hold O(m²) pair structs in a
    single row. Rounded sims sitting exactly at the threshold can
    differ in the last ulp from the exact-baseline formulation
    (dot*inv_l*inv_r vs dot/(norm*norm)); boundary pairs are not
    bit-stable between the two."""
    planes = _hyperplanes(dim, num_bits, seed)
    # Signature via the Arrow-batched BLAS matmul (_srp_band_keys): one
    # NumPy matrix product per batch, a pure projection with no
    # shuffle. (History: an interpreted HOF fold per plane measured
    # ~10x slower than a posexplode + codegen'd-sum formulation, which
    # in turn measured 3.3x slower than this — and that formulation
    # also cost an n·dim-row explode + 64-buffer map-side combine.)
    # zero-norm vectors are excluded before any hashing: cosine is
    # undefined for them and they all share one degenerate band key.
    vectors = vectors.filter(norm(F.col(vec_col)) > 0)
    band_udf = _srp_band_keys(planes, bands)
    # The vector + inverse norm ride the posexplode directly: only
    # `bands` copies each (vs dim copies in the old projection explode,
    # which forced a separate rejoin — one whole shuffle join removed).
    # The inverse norm is precomputed per vector so each candidate pair
    # costs one dot product + two multiplies instead of dot + two norm
    # folds (the re-rank lambdas run interpreted — 3x fewer HOF evals).
    banded = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        (F.lit(1.0) / norm(F.col(vec_col))).alias("_inv"),
        F.posexplode(band_udf(F.col(vec_col))).alias("band_id", "band_key"),
    )
    members = (
        banded.groupBy("band_id", "band_key")
        .agg(F.array_sort(F.collect_set(F.struct("_id", "_v", "_inv"))).alias("_ms"))
        .filter(F.size("_ms") > 1)
        .observe(
            "cosine_lsh_dropped_buckets",
            F.sum(
                F.when(F.size("_ms") > max_bucket_size, 1).otherwise(0)
            ).alias("dropped_buckets"),
        )
        .filter(F.size("_ms") <= max_bucket_size)
    )
    # In-bucket pair expansion + re-rank as ONE Arrow stage. The former
    # nested-transform expansion evaluated an interpreted HOF dot fold
    # per candidate pair — ~10s of q52's 11.3s sf1 wall went to re-rank
    # alone (10.4M pairs; an unrolled element_at codegen formulation
    # measured 12x WORSE, the struct-carrying Generate dominates).
    # Parity discipline: the UDF emits the RAW pair sim, bit-identical
    # to the JVM fold — a chained element-wise float64 add reproduces
    # `aggregate(zip_with(..))`'s left-fold order exactly, and the
    # (dot * inv_l) * inv_r multiply order is preserved — and the
    # ROUNDING + threshold comparison stay in the JVM, so no decimal
    # emulation is ever attempted in Python. A BLAS matmul serves only
    # as a candidate PREFILTER at threshold - 2e-6 (its summation-order
    # error vs the fold is < ~2e-14 for unit-normalized 64-term dots,
    # six orders inside the margin); every emitted row's sim is the
    # exact fold value, and sub-threshold candidates inside the margin
    # are dropped by the JVM filter exactly as before.
    id_type = banded.schema["_id"].dataType.simpleString()
    raw = members.select("_ms").mapInArrow(
        _bucket_pair_raw_sims(threshold),
        schema=f"id_l {id_type}, id_r {id_type}, sim double",
    )
    return (
        raw.withColumn("sim", F.round(F.col("sim"), 6))
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def _bucket_pair_raw_sims(threshold: float):
    """mapInArrow generator for :func:`cosine_near_dup_pairs`: one
    record-batch of buckets (`_ms` = id-sorted array<struct<_id, _v,
    _inv>>) in, candidate pairs (id_l, id_r, raw sim) out.

    Exactness contract (why every emitted sim is bit-identical to the
    interpreted-HOF formulation it replaced):

    - `_v` elements arrive as the same float32 values the JVM fold
      casts to double — float→double widening is exact;
    - the dot is recomputed for candidates as 64 chained element-wise
      float64 adds, the SAME IEEE operation sequence as
      `aggregate(zip_with(a, b, a*b), 0.0, acc+x)` (0.0 + t0 == t0
      for any product the threshold filter can keep);
    - `_inv` is computed JVM-side and transferred bit-exact via Arrow;
      the multiply order (dot * inv_l) * inv_r is preserved;
    - pairs whose vectors differ in length produce NULL under
      `zip_with` (null-padded tail) and were dropped by the filter —
      here cross-length pairs are never generated (same outcome);
    - rounding and the `>= threshold` comparison do NOT happen here:
      the caller applies `F.round(sim, 6)` to the emitted raw value,
      so decimal HALF_UP semantics remain the JVM's own.

    The BLAS prefilter margin of 2e-6 below `threshold` strictly
    contains the smallest raw value HALF_UP can round into the kept
    set (threshold - 5e-7) plus the matmul-vs-fold error (< ~2e-14
    after inverse-norm scaling, |Σ|a_k b_k|| <= |a||b| by
    Cauchy-Schwarz), so no JVM-kept pair is ever prefiltered away."""
    margin = float(threshold) - 2e-6
    chunk = 1 << 16

    def gen(batches):
        import numpy as np
        import pyarrow as pa

        triu_cache: dict[int, tuple] = {}

        def _triu(m: int):
            if m not in triu_cache:
                triu_cache[m] = np.triu_indices(m, 1)
            return triu_cache[m]

        for batch in batches:
            ms = batch.column(0)
            if ms.null_count:
                # collect_set can't produce a null bucket; never drop
                # data silently if that invariant ever breaks upstream
                raise ValueError("cosine_near_dup_pairs: null bucket array")
            if len(ms) == 0:
                continue
            st = ms.flatten()  # struct array: all members, all buckets
            ids = st.field("_id")
            vs = st.field("_v")
            inv = st.field("_inv").to_numpy(zero_copy_only=False)
            offs = ms.offsets.to_numpy()
            starts = (offs - offs[0]).astype(np.int64)
            voffs = vs.offsets.to_numpy().astype(np.int64)
            vlen = np.diff(voffs)
            vstart = voffs[:-1] - voffs[0]
            flat = (
                vs.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
            )
            has_elem_nulls = bool(vs.flatten().null_count)
            gl_parts: list = []
            gr_parts: list = []
            for b in range(len(ms)):
                lo, hi = int(starts[b]), int(starts[b + 1])
                m = hi - lo
                if m < 2:
                    continue
                lens = vlen[lo:hi]
                L = int(lens[0])
                if (lens == L).all() and not has_elem_nulls:
                    subsets = [np.arange(lo, hi, dtype=np.int64)]
                else:
                    # ragged bucket: a cross-length pair nulls out
                    # under zip_with (dropped), so pairs are generated
                    # only within equal-length subsets; with element
                    # nulls the fold is null-sticky (dropped) — those
                    # vectors never reach here (norm > 0 filter), but
                    # stay excluded defensively
                    subsets = []
                    for length in np.unique(lens):
                        sub = lo + np.nonzero(lens == length)[0]
                        if has_elem_nulls:
                            sub = np.array(
                                [
                                    i
                                    for i in sub
                                    if not vs.slice(i, 1).flatten().null_count
                                ],
                                dtype=np.int64,
                            )
                        if len(sub) >= 2:
                            subsets.append(sub.astype(np.int64))
                for sub in subsets:
                    mm = len(sub)
                    L = int(vlen[sub[0]])
                    if L == 0:
                        continue
                    idx = vstart[sub][:, None] + np.arange(L)[None, :]
                    V = flat[idx]
                    S = (V @ V.T) * inv[sub][:, None] * inv[sub][None, :]
                    iu, ju = _triu(mm)
                    # NOT (< margin): keeps NaN candidates — Spark SQL
                    # orders NaN above every double, so the JVM filter
                    # kept NaN sims; the exact fold below reproduces
                    # them and the JVM still makes the final call
                    keep = ~(S[iu, ju] < margin)
                    if keep.any():
                        gl_parts.append(sub[iu[keep]])
                        gr_parts.append(sub[ju[keep]])
            if not gl_parts:
                continue
            gl = np.concatenate(gl_parts)
            gr = np.concatenate(gr_parts)
            sims = np.empty(len(gl), dtype=np.float64)
            for c0 in range(0, len(gl), chunk):
                sl = slice(c0, min(c0 + chunk, len(gl)))
                Ls = vlen[gl[sl]]
                # candidates in one chunk share a length iff their
                # buckets did; group to keep the gather rectangular
                for length in np.unique(Ls):
                    pick = np.nonzero(Ls == length)[0] + c0
                    li = vstart[gl[pick]][:, None] + np.arange(length)
                    ri = vstart[gr[pick]][:, None] + np.arange(length)
                    A = flat[li]
                    B = flat[ri]
                    acc = A[:, 0] * B[:, 0]
                    for d in range(1, int(length)):
                        acc = acc + A[:, d] * B[:, d]
                    sims[pick] = (acc * inv[gl[pick]]) * inv[gr[pick]]
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(gl)),
                    ids.take(pa.array(gr)),
                    pa.array(sims, type=pa.float64()),
                ],
                names=["id_l", "id_r", "sim"],
            )

    return gen


def kmeans_fit(
    vectors: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 5,
) -> list[list[float]]:
    """Train IVF coarse-quantizer centroids with distributed Lloyd's
    k-means over DataFrame ops — the index-BUILD step that feeds
    :func:`ivf_assign` / :func:`ivf_topk`.

    Per iteration: assignment is the same literal-centroid projection
    as ``ivf_assign`` (no shuffle, no UDF); the update step is
    posexplode -> groupBy(cluster, dim) mean — ONE shuffle whose rows
    are (cluster, dim, partial-sum) triples collapsed map-side, never
    vectors. Only k*dim floats cross to the driver per iteration
    (model state, not data — the legitimate driver-side payload).

    Initialization is deterministic: the k vectors with the smallest
    ids (callers wanting k-means++ quality pass a pre-shuffled sample).
    Empty clusters keep their previous centroid. At 100 TB, fit on a
    sampled fraction (classic IVF practice) and assign the full corpus
    once."""
    init = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    cents = [[float(x) for x in r[vec_col]] for r in init]
    for _ in range(iters):
        assigned = ivf_assign(vectors.select(vec_col), cents, vec_col=vec_col)
        sums = (
            assigned.select(
                "cluster_id", F.posexplode(F.col(vec_col)).alias("dim", "x")
            )
            .groupBy("cluster_id", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("mean"))
            .collect()
        )
        new = [list(c) for c in cents]
        by_cluster: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster_id"], {})[r["dim"]] = r["mean"]
        for cid, dims in by_cluster.items():
            for d, m in dims.items():
                new[cid][d] = m
        cents = new
    return cents


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "cluster_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    Centroids are a driver-side list (k-means of a sample — cheap and
    done once), embedded as literals so assignment is a pure projection:
    no shuffle, no UDF. Partitioning the lake by ``cluster_id`` then
    turns ANN into partition-pruned scans.
    """
    dists = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                double_array_col(c),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centroids
    ]
    best = F.array_position(
        F.array(*dists), F.array_min(F.array(*dists))
    ) - 1
    return vectors.withColumn(out, best.cast("int"))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN search end-to-end: coarse-quantize the corpus to its
    nearest centroid, probe each query's ``n_probe`` nearest cells, and
    exactly re-rank candidates inside the probed cells. Returns
    (query_id, neighbor_id, sim) with at most k rows per query (recall
    < 1 by design — raise ``n_probe`` to recover).

    The 100 TB shape: both assignment and probing are pure projections
    against literal centroids (no shuffle, no join against a centroid
    table), so the only exchange is the candidate equi-join on
    cluster_id — and when the lake is partitioned by cluster_id
    (`ivf_assign` + partitionBy), that join prunes to the probed
    partitions and never touches the rest of the corpus.

    Determinism contract (shared with the DuckDB oracle): centroid
    distances are rounded to 6 decimals with first-wins ties on
    centroid index; sims rounded to 6 with ties on neighbor id.
    """
    def cdists(col: Column) -> list[Column]:
        return [
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            col,
                            double_array_col(c),
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                6,
            )
            for c in centroids
        ]

    def nearest(col: Column) -> Column:
        d = cdists(col)
        return (F.array_position(F.array(*d), F.array_min(F.array(*d))) - 1).cast(
            "int"
        )

    def probed(col: Column) -> Column:
        d = cdists(col)
        ranked = F.array_sort(
            F.array(
                *[
                    F.struct(dc.alias("d"), F.lit(i).cast("int").alias("cid"))
                    for i, dc in enumerate(d)
                ]
            )
        )
        return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cid"])

    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        nearest(F.col(vec_col)).alias("_cluster"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(probed(F.col(vec_col))).alias("_cluster"),
    )
    cand = v.join(F.broadcast(q), "_cluster")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn(
        "sim", F.round(cosine(F.col("_qv"), F.col("_nv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings by
    nearest centroid, keep ONE representative per semantic cluster (the
    vector closest to its centroid; id breaks ties), mark the rest as
    semantic duplicates. The corpus-curation step that removes
    near-meaning-identical documents exact/MinHash dedup cannot see.

    Returns (id, cluster_id, keep) for every input row.

    Scale: assignment is a literal-centroid projection (no shuffle, no
    UDF — same shape as ivf_assign); the representative choice is one
    window over cluster_id, i.e. one shuffle whose partition sizes are
    the cluster sizes — pick k so clusters stay executor-sized (the
    SemDeDup recipe itself: many small k-means clusters). Distances are
    sqrt + round(6) so external engines reproduce ties bit-for-bit."""
    dists = [
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        double_array_col(c),
                        lambda a, b: (a.cast("double") - b)
                        * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )
        for c in centroids
    ]
    darr = F.array(*dists)
    mind = F.array_min(darr)
    cluster = (F.array_position(darr, mind) - 1).cast("int")
    assigned = vectors.select(
        F.col(id_col), cluster.alias("cluster_id"), mind.alias("_d")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_d").asc(), F.col(id_col).asc()
    )
    return assigned.withColumn(
        "keep", F.row_number().over(w) == 1
    ).select(id_col, "cluster_id", "keep")


def _sub_l2(vec: Column, start: int, centroid: list[float]) -> Column:
    """Rounded L2 distance between a vector SLICE (1-based ``start``,
    ``len(centroid)`` wide) and a literal sub-centroid — the shared
    determinism contract with the SQL oracle (round 6, as ivf_topk).

    Unrolled element_at arithmetic (whole-stage codegen; lambdas never
    are). The unrolled sum accumulates left-to-right like a lambda
    fold ((0.0+t1)==t1 exactly in IEEE), so both PQ formulations are
    bit-identical."""
    terms = [
        (F.element_at(vec, start + i).cast("double") - F.lit(x))
        for i, x in enumerate(centroid)
    ]
    ssq = terms[0] * terms[0]
    for t in terms[1:]:
        ssq = ssq + t * t
    return F.round(F.sqrt(ssq), 6)


def _pq_argmin(
    vec_col: str, j: int, sub_dim: int, book: list[list[float]]
) -> Column:
    """Per-subspace nearest centroid as ONE array_min over (dist, cid)
    structs, fully unrolled: the ``unroll=True`` formulation of
    :func:`_pq_argmin_sql` (see there for the trade-off). Struct
    ordering breaks ties on the lower centroid index, and every
    distance expression appears exactly once in the plan."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    _sub_l2(F.col(vec_col), j * sub_dim + 1, c).alias("d"),
                    F.lit(ci).cast("int").alias("c"),
                )
                for ci, c in enumerate(book)
            ]
        )
    )


def _pq_argmin_sql(
    vec_col: str, j: int, sub_dim: int, book: list[list[float]]
) -> str:
    """SQL text of subspace ``j``'s nearest centroid as a (d, c)
    struct: an indexed ``transform`` over the codebook as one
    nested-array literal, then ``array_min`` (struct ordering breaks
    distance ties on the lower centroid index).

    Two formulations with IDENTICAL results (same IEEE accumulation
    order, same rounding, same literal types):
    - default (``unroll=False``): this text, every subspace in one
      ``F.expr`` (:func:`_pq_codes`), so q99's full build costs 191
      py4j commands (measured), where the same tree built from ``F.*``
      calls sent 5,800 (3-13 per call or Column operator, and
      ``F.lit(list)`` is one ``lit`` per element). Tiny expression
      tree, milliseconds to plan; the lambda runs on the interpreted
      evaluator (~10x slower per row than codegen) — right up to
      ~10^8-row scans where driver build time dominates.
    - ``unroll=True`` (:func:`_pq_argmin`): fully unrolled element_at
      arithmetic — a large tree Catalyst takes seconds to plan, but
      the scan is whole-stage codegen. Right for the petabyte
      ADC/encode pass, where plan time is constant and per-row
      throughput is everything.
    """
    book_sql = "array(" + ", ".join(double_array(c) for c in book) + ")"
    sv = f"slice({ident(vec_col)}, {j * sub_dim + 1}, {sub_dim})"
    diff = "(CAST(_pq_a AS DOUBLE) - _pq_b)"
    ssq = (
        f"aggregate(zip_with({sv}, _pq_v, (_pq_a, _pq_b) -> {diff} * {diff}), "
        "0.0D, (_pq_acc, _pq_x) -> _pq_acc + _pq_x)"
    )
    return (
        f"array_min(transform({book_sql}, (_pq_v, _pq_i) -> named_struct("
        f"'d', round(sqrt({ssq}), 6), 'c', CAST(_pq_i AS INT))))"
    )


def _pq_codes(
    vec_col: str, sub_dim: int, codebooks: list[list[list[float]]], unroll: bool
) -> Column:
    """array<int> of each subspace's nearest-centroid index, in the
    formulation ``unroll`` picks (:func:`_pq_argmin_sql`). Project it
    once and index into it (``codes[j]``): each argmin is then
    evaluated once per row."""
    if unroll:
        return F.array(
            *[
                _pq_argmin(vec_col, j, sub_dim, book)["c"]
                for j, book in enumerate(codebooks)
            ]
        )
    return F.expr(
        "array("
        + ", ".join(
            f"{_pq_argmin_sql(vec_col, j, sub_dim, book)}.c"
            for j, book in enumerate(codebooks)
        )
        + ")"
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unroll: bool = False,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    vector into ``m = len(codebooks)`` contiguous subspaces and store,
    per subspace, the index of the nearest sub-centroid — compressing a
    dim×float64 vector to m small codes. Returns (id, codes array<int>).

    Determinism: sub-distances round to 6 dp, argmin ties go to the
    lowest centroid index. ``unroll`` picks the plan/throughput
    trade-off (see :func:`_pq_argmin_sql`); results are identical.

    Scale: a pure Column projection against literal codebooks — no
    shuffle, no join, no UDF; encode the corpus ONCE with
    ``unroll=True`` (the index build, where codegen throughput pays)
    and downstream ADC scans consume the m-byte codes, not vectors."""
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must be non-empty")
    sub_dim = len(codebooks[0][0])
    codes = _pq_codes(vec_col, sub_dim, codebooks, unroll)
    return vectors.select(F.col(id_col), codes.alias("codes"))


def pq_topk(
    vectors: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    unroll: bool = False,
) -> DataFrame:
    """PQ asymmetric-distance top-k: approximate the query→vector
    squared L2 distance as the sum over subspaces of the (squared)
    distance from the query's sub-vector to the vector's ASSIGNED
    sub-centroid — the ADC table scan of a PQ index. Returns
    (neighbor_id, approx_dist), the k smallest with ties on id.

    Determinism contract (mirrored by the SQL oracle): per-subspace
    distances round to 6 dp before squaring, squared terms round to
    6 dp again (HALF_UP on both sides — Python's banker's round would
    disagree with SQL on .5e-7 boundaries), and the final sum runs
    through an exact decimal — so both engines produce bit-identical
    approx_dist. ``unroll`` picks the plan/throughput trade-off (see
    :func:`_pq_argmin_sql`); results are identical either way.

    Scale: the distance lookup table is m×k literals folded into the
    projection (a real deployment broadcasts it; either way no join
    touches the corpus), encoding+ADC is one scan-speed projection, and
    the only "shuffle" is TakeOrdered's O(k) per-partition heads — the
    same plan at 500 rows and 100 TB. Compose with ``ivf_assign``
    partition pruning for IVFPQ: probe cells first, ADC inside them."""
    from decimal import ROUND_HALF_UP, Decimal

    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    if len(query) != m * sub_dim:
        raise ValueError("query dimension does not match codebooks")

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    luts = []
    for j, book in enumerate(codebooks):
        qsub = query[j * sub_dim : (j + 1) * sub_dim]
        luts.append([
            r6(
                r6(math.sqrt(sum((a - b) * (a - b) for a, b in zip(qsub, c))))
                ** 2
            )
            for c in book
        ])
    coded = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _pq_codes(vec_col, sub_dim, codebooks, unroll).alias("_pq_codes"),
    )
    # left-to-right exact decimal sum of the looked-up terms, as one
    # expression
    total = F.expr(
        "CAST("
        + " + ".join(
            f"CAST(element_at({double_array(lut)}, _pq_codes[{j}] + 1) "
            "AS DECIMAL(18,6))"
            for j, lut in enumerate(luts)
        )
        + " AS DOUBLE)"
    )
    out = coded.select("neighbor_id", total.alias("approx_dist"))
    if exclude_id is not None:
        out = out.filter(F.col("neighbor_id") != exclude_id)
    return out.orderBy(F.col("approx_dist").asc(), F.col("neighbor_id").asc()).limit(k)


def ivfpq_topk(
    vectors: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
    unroll: bool = False,
) -> DataFrame:
    """IVF+PQ composed (the IVFADC index of Jégou et al. 2011): probe
    the query's ``n_probe`` nearest coarse cells, then run the PQ ADC
    top-k over just those cells' vectors. Returns (neighbor_id,
    approx_dist) — identical to :func:`pq_topk` restricted to the
    probed cells (tested as an invariant).

    The probe is driver-side arithmetic on the literal centroids (same
    round-6 contract as the cell assignment, so probe and assignment
    can never disagree on a boundary); the cell filter is the same
    literal-centroid argmin projection as ``ivf_assign``. At lake
    scale, write the corpus partitioned by its coarse cell
    (``ivf_assign`` + partitionBy) and the filter becomes partition
    pruning — the ADC scan touches n_probe partitions of the corpus,
    never the rest."""
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    dim = len(centroids[0])
    if len(query) != dim:
        raise ValueError("query dimension does not match coarse centroids")
    dists = sorted(
        (r6(math.sqrt(sum((a - b) * (a - b) for a, b in zip(query, c)))), ci)
        for ci, c in enumerate(centroids)
    )
    probed = [ci for _, ci in dists[:n_probe]]
    cell = _pq_codes(vec_col, dim, [centroids], unroll)[0]
    cand = vectors.filter(cell.isin(probed))
    return pq_topk(
        cand,
        query,
        codebooks,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        exclude_id=exclude_id,
        unroll=unroll,
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 100_000,
    prefilter: bool = False,
    dim: int | None = None,
    num_bits: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding-level eval-set decontamination: score every corpus
    vector by its maximum cosine similarity to ANY benchmark vector and
    flag those at or above ``threshold`` — the semantic complement of
    n-gram decontamination (``corpus.decontaminate``), catching
    paraphrased eval leakage that token overlap misses.

    Returns (id, max_bench_sim, contaminated) for every corpus row
    whose norm is positive (zero vectors carry no direction to match);
    callers drop the flagged rows or route them to review. An EMPTY
    benchmark side (no rows, or all zero-vectors) yields every corpus
    row with a NULL max_bench_sim and contaminated = 0 — nothing to
    leak against means nothing is contaminated, and the per-row
    contract holds so join-based consumers never lose the corpus.

    Scale shape: the benchmark side is small by definition and is
    broadcast (guarded, like :func:`cosine_topk` — an oversized "bench"
    silently becomes an all-pairs scan); the corpus side is NEVER
    shuffled at pair grain — the per-vector max collapses map-side
    (partial aggregation) so the one exchange carries |corpus| rows,
    not |corpus| x |bench|. Norms are staged once per side before the
    join. Similarities are round(6) so the threshold decision is
    engine-portable (same contract as cosine_pairs).

    ``prefilter=True`` (requires ``dim``) inserts an SRP-LSH candidate
    pass before the exact max-cosine — the ``cosine_near_dup_pairs``
    banding machinery: corpus rows sharing NO signature band with any
    benchmark vector skip the exact phase entirely and come back with a
    NULL ``max_bench_sim`` and ``contaminated = 0``. Exact mode stays
    the default; the prefiltered decision has recall < 1 by design
    (raise ``bands`` to recover — :func:`semantic_prefilter_audit`
    measures it on real data before you trust it).

    Prefilter scale posture, measured honestly: the FLOP saving is
    (1 - candidate_fraction) x |corpus| x |bench| x dim, but a row is a
    candidate if ANY bench vector shares ANY band, so row-level pruning
    needs per-pair band selectivity well below 1/|bench|. That holds in
    the regime this operator is built for at scale — high thresholds
    (near-verbatim paraphrase leakage), small benchmarks, and
    high-dimensional real embeddings whose off-target cosines
    concentrate near 0 (sigma ~ 1/sqrt(dim)) — and does NOT hold for
    low thresholds over low-dim noisy vectors, where the candidate
    fraction approaches 1 and exact mode is simply better. Run the
    audit; enable on evidence. Plan shape with the prefilter: the
    banding matmul is a pure projection (zero shuffle), the bench band
    keys broadcast into a semi-join, candidate dedup is one
    candidates-only shuffle, and the fill join back to the full corpus
    id set is the single corpus-grain exchange."""
    _assert_broadcast_sized(
        bench, max_broadcast_rows, "semantic_decontaminate", "lsh_topk candidates"
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_nc"),
    ).filter(F.col("_nc") > 0)
    b = bench.select(
        F.col(vec_col).alias("_bv"), norm(F.col(vec_col)).alias("_nb")
    ).filter(F.col("_nb") > 0)
    sim = F.round(
        dot(F.col("_cv"), F.col("_bv")) / (F.col("_nc") * F.col("_nb")), 6
    )
    if not prefilter:
        return (
            c.join(F.broadcast(b), on=F.lit(True), how="left")
            .select(F.col(id_col), sim.alias("_s"))
            .groupBy(id_col)
            .agg(F.max("_s").alias("max_bench_sim"))
            .select(
                id_col,
                "max_bench_sim",
                F.coalesce(
                    (F.col("max_bench_sim") >= threshold).cast("long"),
                    F.lit(0),
                ).alias("contaminated"),
            )
        )

    if dim is None:
        raise ValueError("semantic_decontaminate: prefilter requires dim")
    planes = _hyperplanes(dim, num_bits, seed)
    band_udf = _srp_band_keys(planes, bands)
    bkeys = (
        bench.filter(norm(F.col(vec_col)) > 0)
        .select(
            F.posexplode(band_udf(F.col(vec_col))).alias(
                "band_id", "band_key"
            )
        )
        .distinct()
    )
    cand = (
        c.select(
            id_col,
            "_cv",
            "_nc",
            F.posexplode(band_udf(F.col("_cv"))).alias(
                "band_id", "band_key"
            ),
        )
        .join(F.broadcast(bkeys), ["band_id", "band_key"], "leftsemi")
        .groupBy(id_col)
        .agg(F.first("_cv").alias("_cv"), F.first("_nc").alias("_nc"))
    )
    scored = (
        cand.join(F.broadcast(b), on=F.lit(True), how="left")
        .select(F.col(id_col), sim.alias("_s"))
        .groupBy(id_col)
        .agg(F.max("_s").alias("max_bench_sim"))
    )
    return (
        c.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            "max_bench_sim",
            F.coalesce(
                (F.col("max_bench_sim") >= threshold).cast("long"), F.lit(0)
            ).alias("contaminated"),
        )
    )


def semantic_prefilter_audit(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Health check for the SRP prefilter (the ``lsh_audit`` pattern):
    run BOTH decontamination modes on the same split and report one row
    — corpus size, candidate count, contaminated counts per mode,
    decision recall (LSH flags / exact flags; precision is 1.0 by
    construction since every candidate is scored exactly), and the
    candidate fraction (the FLOP-saving knob: the prefiltered exact
    phase's cost scales with it). Run this at a representative scale
    BEFORE enabling the prefilter on a production decontamination pass;
    enable only on evidence (recall at target, candidate fraction
    meaningfully below 1)."""
    exact = semantic_decontaminate(
        corpus, bench, threshold, id_col, vec_col, max_broadcast_rows
    )
    lsh = semantic_decontaminate(
        corpus, bench, threshold, id_col, vec_col, max_broadcast_rows,
        prefilter=True, dim=dim, num_bits=num_bits, bands=bands, seed=seed,
    )
    joined = exact.alias("e").join(lsh.alias("l"), on=id_col, how="inner")
    return joined.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum(
            F.col("l.max_bench_sim").isNotNull().cast("long")
        ).alias("n_candidates"),
        F.sum("e.contaminated").alias("n_contaminated_exact"),
        F.sum("l.contaminated").alias("n_contaminated_lsh"),
    ).select(
        "n_corpus",
        "n_candidates",
        "n_contaminated_exact",
        "n_contaminated_lsh",
        F.when(
            F.col("n_contaminated_exact") > 0,
            F.round(
                F.col("n_contaminated_lsh") / F.col("n_contaminated_exact"),
                6,
            ),
        )
        .otherwise(F.lit(1.0))
        .alias("recall"),
        F.round(F.col("n_candidates") / F.col("n_corpus"), 6).alias(
            "candidate_fraction"
        ),
    )
