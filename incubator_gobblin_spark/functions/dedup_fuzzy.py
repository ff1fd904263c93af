"""Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these algorithms):
- The naive all-pairs O(n²) comparison is only ever applied WITHIN an
  LSH band bucket or a simhash prefix bucket — candidate generation is a
  groupBy on the bucket key (one shuffle), not a cross join.
- Hashes are computed with built-in ``xxhash64``/``crc32`` (JVM,
  codegen) over shingles; no Python in the signature-computation path.
- Signatures travel as fixed-width arrays; the self-join for candidate
  pairs joins on (band_id, band_hash) with ``id_l < id_r`` dedup, so
  each pair appears once.

MinHash math: sig[i] = min over shingles s of h_i(s), with h_i derived
from one 64-bit base hash via the standard (a*h+b mod p) family — same
construction as Spark MLlib's MinHashLSH, re-expressed over DataFrame
columns so it composes with the rest of the engine (MLlib needs a
Vector column; we keep plain arrays).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incubator_gobblin_spark.functions.text import ngrams, tokens

# 2^31-1: keeps a*h+b below 2^62, inside signed-long range even under
# ANSI arithmetic (Spark 4 default would reject a 61-bit family's
# overflow); collision probability ~2^-31 per hash is ample for dedup.
_MERSENNE_P = (1 << 31) - 1


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingle set for minhashing."""
    return F.array_distinct(ngrams(col, n))


def _hash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def _shingle_hash(col: Column, hash_mode: str) -> Column:
    """One 31-bit base hash per shingle string.

    ``xxhash64`` (default): JVM codegen, the throughput path.
    ``md5``: first 15 hex chars (60 bits) of md5 as an integer, mod p —
    byte-identical in any engine with an md5 function, so the DuckDB
    oracle can replicate the full signature -> band -> bucket pipeline
    value-for-value (the same determinism idiom as priority sampling's
    ``sketches.priority_key``). Both are uniform enough for LSH; md5
    costs ~2 murmur rounds more per shingle.
    """
    if hash_mode == "md5":
        return F.pmod(
            F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"),
            F.lit(_MERSENNE_P),
        )
    return F.pmod(F.xxhash64(col), F.lit(_MERSENNE_P))


def _band_hash(hash_mode: str) -> str:
    """SQL function that keys a bucket on a band's concatenated
    signature values: xxhash64 (8-byte shuffle key) by default, the md5
    hex digest (16-byte, engine-reproducible) in md5 mode."""
    return "md5" if hash_mode == "md5" else "xxhash64"


def base_hashes(shingle_col: Column, hash_mode: str = "xxhash64") -> Column:
    """One 31-bit base hash per shingle (reduced mod p)."""
    return F.transform(shingle_col, lambda s: _shingle_hash(s, hash_mode))


def minhash_signature(
    base_col: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """array<bigint> MinHash signature from a *materialized* base-hash
    array column (see :func:`base_hashes`), via num_hashes affine
    re-hashes min'd per row — entirely Column expressions.

    IMPORTANT: pass a physical column, not the base-hash expression
    itself — Catalyst inlines the argument into each of the num_hashes
    subtrees, so an unmaterialized expression gets recomputed
    num_hashes times per row (measured ~100x slowdown). Empty shingle
    sets get sentinel p (never collides).
    """
    return F.array(
        *[
            F.coalesce(
                F.array_min(
                    F.transform(
                        base_col,
                        lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P)),
                    )
                ),
                F.lit(_MERSENNE_P),
            )
            for (a, b) in _hash_coeffs(num_hashes, seed)
        ]
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    max_bucket_size: int = 512,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """LSH-banded candidate pairs: (id_l, id_r) with id_l < id_r.

    shingle -> minhash -> split signature into ``bands`` bands of
    ``num_hashes // bands`` rows -> bucket-join on (band_id, band_hash).
    The join is a self-equi-join on the bucket key — shuffle on a
    high-cardinality key, no cross product. Distinct at the end because
    a pair can collide in multiple bands.

    Skew guards (the things that kill this at corpus scale):
    - shingle-less docs (empty/whitespace text) all share the sentinel
      signature [p,...,p] and would pile into ONE bucket per band —
      they are excluded from banding entirely (empty docs are *exact*
      duplicates of each other; exact dedup owns them);
    - buckets larger than ``max_bucket_size`` are dropped (see
      :func:`_bucket_pairs`) — a giant bucket means the band hash is
      degenerate for that cluster (boilerplate floods), and expanding
      its O(m²) pairs inside one row would OOM the executor.
    """
    banded = minhash_band_keys(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed, hash_mode
    ).withColumnRenamed(id_col, "_id")
    # Candidate pairs via groupBy-bucket + in-bucket expansion rather
    # than a self-join: a self-join would recompute the whole
    # shingle->minhash pipeline on BOTH sides (Spark shares no subplans
    # without an explicit persist) and shuffle twice. One groupBy = one
    # shuffle, one signature computation.
    return _bucket_pairs(banded, ["band_id", "band_hash"], "_id", max_bucket_size)


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, band_id, band_hash) LSH band keys per document — the
    bucketable identity :func:`minhash_candidate_pairs` pairs on,
    exposed so INCREMENTAL consumers (jobs/fuzzy_ingest.py) can
    persist the keys as an index and bucket-join new batches against
    committed documents without recomputing the corpus side.
    Shingle-less documents are excluded (sentinel signature — exact
    dedup owns empty docs), exactly as in the pair path."""
    rows_per_band = num_hashes // bands
    coeffs = _hash_coeffs(num_hashes, seed)
    # Signature via explode + groupBy rather than array higher-order
    # functions: lambda expressions never enter whole-stage codegen (the
    # interpreted evaluator is ~10x slower per element), while
    # ``min(...)`` aggregates over exploded shingle rows are fully
    # codegen'd, vectorized JVM work. The explode multiplies rows by the
    # shingle count, but each row is 16 bytes and the partial (map-side)
    # aggregation collapses them back to one row per doc before the
    # shuffle — the exchange carries |docs| rows regardless of text size.
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(shingles(F.col(text_col), shingle_n)).alias("_s"),
    ).select(
        # xxhash64(NULL) returns the seed, not NULL — guard it so the
        # explode_outer null row of a shingle-less doc stays null, min()
        # ignores it, and coalesce restores the sentinel-p signature that
        # the banding stage then excludes
        "_id",
        F.when(
            F.col("_s").isNotNull(), _shingle_hash(F.col("_s"), hash_mode)
        ).alias("_h"),
    )
    # The signature aggregates and the banding below are SQL text, one
    # F.expr per aggregate and one for the whole banded array: built
    # from F.* calls the same trees cost thousands of py4j round-trips
    # per build (see functions/sql_text.py). Same literal types: every
    # coefficient and p fit an int, exactly as F.lit typed them.
    sig = exploded.groupBy("_id").agg(
        *[
            F.expr(
                f"coalesce(min(pmod(_h * {a} + {b}, {_MERSENNE_P})), "
                f"{_MERSENNE_P}) AS _m{i}"
            )
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    # sentinel exclusion: every real shingle hash is < p, so a doc whose
    # first signature slot equals p has NO shingles at all (all slots are
    # the coalesce sentinel) — banding it would put every empty doc of
    # the corpus into the same bucket in every band
    sig = sig.filter(f"_m0 < {_MERSENNE_P}")
    band_hash = _band_hash(hash_mode)
    bands_sql = ", ".join(
        f"named_struct('band_id', {b}, 'band_hash', {band_hash}(concat_ws(',', "
        + ", ".join(f"_m{b * rows_per_band + i}" for i in range(rows_per_band))
        + ")))"
        for b in range(bands)
    )
    banded = sig.selectExpr("_id", f"explode(array({bands_sql})) AS band").select(
        "_id", "band.band_id", "band.band_hash"
    )
    return banded.withColumnRenamed("_id", id_col)


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int = 512,
) -> DataFrame:
    """(id_l, id_r) distinct pairs of ids sharing a bucket key.

    groupBy(bucket) -> sorted id list -> all ordered pairs in-bucket via
    nested ``transform``/``flatten`` (pure Column expressions, JVM-side).

    Buckets larger than ``max_bucket_size`` are DROPPED, not expanded:
    one hot bucket (degenerate band hash over boilerplate-heavy corpora)
    would otherwise materialize O(m²) pair structs inside a single row —
    executor OOM at corpus scale. The dropped-bucket count rides on the
    plan as an ``observe`` metric (``fuzzy_dedup_dropped_buckets``) so
    runs can alert on it; members of a dropped bucket typically still
    meet in their other, non-degenerate bands.
    """
    ids = (
        df.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
        .observe(
            "fuzzy_dedup_dropped_buckets",
            F.sum(
                F.when(F.size("_ids") > max_bucket_size, 1).otherwise(0)
            ).alias("dropped_buckets"),
        )
        .filter(F.size("_ids") <= max_bucket_size)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda x, i: F.transform(
                    F.slice(
                        F.col("_ids"), i + 2, F.size(F.col("_ids")) - i - 1
                    ),
                    lambda y: F.struct(x.alias("id_l"), y.alias("id_r")),
                ),
            )
        )
    )
    return (
        ids.select(pair.alias("_p"))
        .select("_p.id_l", "_p.id_r")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    partition_by: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (or all pairs when
    ``candidates`` is None — only for small/test inputs; at scale always
    pass LSH candidates). Returns (id_l, id_r, jaccard) above threshold.

    ``partition_by`` restricts pairing to rows sharing a key (e.g. only
    dedup within one language): the all-pairs fallback then becomes an
    equi-join on the key instead of a cross join — pair count drops from
    O(n²) to Σ O(n_k²) per key group."""
    if candidates is not None:
        partition_by = None  # candidate list already fixes the pairing
    cols = [F.col(id_col).alias("_jid"), shingles(F.col(text_col), shingle_n).alias("_sh")]
    if partition_by is not None:
        cols.append(F.col(partition_by).alias("_pk"))
    sh = df.select(*cols)
    if candidates is None:
        l = sh.select(
            F.col("_jid").alias("id_l"), F.col("_sh").alias("_sh_l"),
            *([F.col("_pk")] if partition_by is not None else []),
        )
        r = sh.select(
            F.col("_jid").alias("id_r"), F.col("_sh").alias("_sh_r"),
            *([F.col("_pk")] if partition_by is not None else []),
        )
        if partition_by is not None:
            cand = l.join(r, "_pk").filter(F.col("id_l") < F.col("id_r"))
        else:
            cand = l.crossJoin(r).filter(F.col("id_l") < F.col("id_r"))
    else:
        cand = (
            candidates.join(
                sh.withColumnRenamed("_jid", "id_l").withColumnRenamed("_sh", "_sh_l"),
                "id_l",
            ).join(
                sh.withColumnRenamed("_jid", "id_r").withColumnRenamed("_sh", "_sh_r"),
                "id_r",
            )
        )
    inter = F.size(F.array_intersect("_sh_l", "_sh_r"))
    union = F.size(F.array_union("_sh_l", "_sh_r"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        cand.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    )


def simhash_from_hashes(hashes: Column, num_bits: int = 64) -> Column:
    """64-bit SimHash from a *materialized* array<bigint> token-hash
    column. Per bit: +1 if set else -1 over all token hashes; sign of
    the sum gives the output bit. Pure-Column fold — no UDF. Pass a
    physical column (see minhash_signature's note on inlining)."""

    def _vote(bit: int):
        # closure factory: pyspark lambda introspection requires exactly
        # the declared arity, so the bit index can't ride as a default arg
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return F.aggregate(hashes, F.lit(0), merge)

    out = F.lit(0).cast("long")
    for i in range(num_bits):
        vote = _vote(i)
        # bit 63 is the sign bit of a signed long
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        out = out.bitwiseOR(
            F.when(vote > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash(col: Column | str, num_bits: int = 64) -> Column:
    """Convenience single-expression SimHash over whitespace tokens.
    For hot paths prefer staging token hashes as a column and calling
    :func:`simhash_from_hashes` (this form recomputes the token-hash
    array once per bit)."""
    return simhash_from_hashes(
        F.transform(tokens(col), lambda t: F.xxhash64(t)), num_bits
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    max_bucket_size: int = 512,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by simhash: bucket on ``prefix_bits``-bit prefix
    (cheap LSH: near-identical docs share the prefix with high
    probability), then exact hamming filter within buckets.

    ``hash_mode="md5"`` swaps the per-token xxhash64 for 64 bits read
    out of the md5 hex digest (bit ``i`` = bit ``i%4`` of hex digit
    ``i//4``) and carries the signature as two unsigned 32-bit halves —
    every step replicable in ANSI SQL, so the whole pipeline goes under
    the DuckDB value oracle (q32). Throughput default stays xxhash64.
    md5 mode requires ``prefix_bits <= 32`` (the bucket prefix is taken
    from the high half).

    The per-bit votes are computed as 64 codegen'd ``sum`` aggregates
    over exploded token rows (see minhash_candidate_pairs for why this
    beats the higher-order-function fold: lambdas run interpreted);
    map-side partial aggregation keeps the shuffle at one row per doc.

    Skew guards mirror :func:`minhash_candidate_pairs`: token-less docs
    (simhash 0 — every empty doc in the corpus shares it) are excluded
    from bucketing, and prefix buckets larger than ``max_bucket_size``
    are dropped rather than pair-expanded (observe metric
    ``simhash_dropped_buckets``).
    """
    if hash_mode == "md5" and prefix_bits > 32:
        raise ValueError("simhash md5 mode supports prefix_bits <= 32")
    token_ok = F.col("_t").isNotNull() & (F.col("_t") != "")
    if hash_mode == "md5":
        # 16 hex digits = 64 bits; stage the digit VALUES (ints 0..15)
        # once per token so each of the 64 vote aggregates reads a bit
        # out of a precomputed int instead of re-running conv
        exploded = df.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(tokens(F.col(text_col))).alias("_t"),
        ).select(
            "_id",
            *[
                F.when(
                    token_ok,
                    F.conv(F.substring(F.md5("_t"), j + 1, 1), 16, 10).cast("int"),
                ).alias(f"_d{j}")
                for j in range(16)
            ],
        )

        def _bit(i: int) -> Column:
            return F.shiftright(F.col(f"_d{i // 4}"), i % 4).bitwiseAND(F.lit(1))

        votes = exploded.groupBy("_id").agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col(f"_d{i // 4}").isNull(), None)
                        .when(_bit(i) == 1, 1)
                        .otherwise(-1)
                    ),
                    F.lit(0),
                ).alias(f"_v{i}")
                for i in range(64)
            ],
            F.count("_d0").alias("_nt"),
        )
    else:
        exploded = df.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(tokens(F.col(text_col))).alias("_t"),
        ).select(
            # xxhash64 maps null to the seed, not null — keep null-text docs
            # vote-less (sum of no rows -> null -> coalesce 0 -> simhash 0,
            # matching the fold form). Empty-string tokens (split("") yields
            # [""]) are vote-less too, so ""-text docs count as token-less.
            "_id",
            F.when(token_ok, F.xxhash64("_t")).alias("_h"),
        )
        votes = exploded.groupBy("_id").agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col("_h").isNull(), None)
                        .when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                        .otherwise(-1)
                    ),
                    F.lit(0),
                ).alias(f"_v{i}")
                for i in range(64)
            ],
            F.count("_h").alias("_nt"),
        )
    # sentinel exclusion: token-less docs all hash to simhash 0 and would
    # flood one prefix bucket; empty docs belong to exact dedup
    votes = votes.filter(F.col("_nt") > 0)
    if hash_mode == "md5":
        # signature as two unsigned 32-bit halves: no sign bit to dodge,
        # and both halves (and their xor/bit_count) are plain nonnegative
        # BIGINT arithmetic in any SQL engine
        hi = F.lit(0).cast("long")
        lo = F.lit(0).cast("long")
        for i in range(64):
            bit = F.when(F.col(f"_v{i}") > 0, F.lit(1 << (i % 32)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            if i >= 32:
                hi = hi.bitwiseOR(bit)
            else:
                lo = lo.bitwiseOR(bit)
        h = votes.select("_id", hi.alias("_shhi"), lo.alias("_shlo"))
        bucketed = h.withColumn(
            "_bucket", F.shiftright(F.col("_shhi"), 32 - prefix_bits)
        )
        return _simhash_pairs_split(bucketed, max_hamming, max_bucket_size)
    sh = F.lit(0).cast("long")
    for i in range(64):
        # bit 63 is the sign bit of a signed long
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        sh = sh.bitwiseOR(
            F.when(F.col(f"_v{i}") > 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    h = votes.select("_id", sh.alias("_sh"))
    bucketed = h.withColumn("_bucket", F.shiftright(F.col("_sh"), 64 - prefix_bits))
    # Same one-shuffle bucket expansion as minhash candidates (see
    # _bucket_pairs): a self-join would run the 64-bit vote fold twice.
    members = (
        bucketed.groupBy("_bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id"), F.col("_sh")))
            ).alias("_ms")
        )
        .filter(F.size("_ms") > 1)
        .observe(
            "simhash_dropped_buckets",
            F.sum(
                F.when(F.size("_ms") > max_bucket_size, 1).otherwise(0)
            ).alias("dropped_buckets"),
        )
        .filter(F.size("_ms") <= max_bucket_size)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ms"), i + 2, F.size(F.col("_ms")) - i - 1),
                    lambda y: F.struct(
                        x["_id"].alias("id_l"),
                        y["_id"].alias("id_r"),
                        hamming_distance(x["_sh"], y["_sh"]).alias("hamming"),
                    ),
                ),
            )
        )
    )
    return (
        members.select(pair.alias("_p"))
        .select("_p.id_l", "_p.id_r", "_p.hamming")
        .filter(F.col("hamming") <= max_hamming)
    )


def _simhash_pairs_split(
    bucketed: DataFrame, max_hamming: int, max_bucket_size: int
) -> DataFrame:
    """Bucket expansion for the split-signature (md5-mode) simhash:
    same one-shuffle groupBy + in-bucket pair machinery as the 64-bit
    path, hamming summed over the two 32-bit halves."""
    members = (
        bucketed.groupBy("_bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id"), F.col("_shhi"), F.col("_shlo")))
            ).alias("_ms")
        )
        .filter(F.size("_ms") > 1)
        .observe(
            "simhash_dropped_buckets_md5",
            F.sum(
                F.when(F.size("_ms") > max_bucket_size, 1).otherwise(0)
            ).alias("dropped_buckets"),
        )
        .filter(F.size("_ms") <= max_bucket_size)
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_ms"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ms"), i + 2, F.size(F.col("_ms")) - i - 1),
                    lambda y: F.struct(
                        x["_id"].alias("id_l"),
                        y["_id"].alias("id_r"),
                        (
                            hamming_distance(x["_shhi"], y["_shhi"])
                            + hamming_distance(x["_shlo"], y["_shlo"])
                        ).alias("hamming"),
                    ),
                ),
            )
        )
    )
    return (
        members.select(pair.alias("_p"))
        .select("_p.id_l", "_p.id_r", "_p.hamming")
        .filter(F.col("hamming") <= max_hamming)
    )


def lsh_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 2,
    seed: int = 42,
    hash_mode: str = "xxhash64",
    max_sample_rows: int = 100_000,
) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH candidate generator
    against exact n-gram Jaccard ground truth, on an audit sample:
    one row — (n_truth, n_candidates, n_hit, precision, recall).

    ``n_truth`` counts pairs whose exact Jaccard (same shingling) meets
    ``threshold``; ``n_candidates`` counts LSH candidate pairs at the
    given banding; ``n_hit`` their intersection. This is the standing
    health check a production dedup pipeline runs on a sample each
    batch: a banding-parameter regression (or a hash change) moves
    recall, and the number quantifies what the band/row trade-off is
    actually delivering on THIS corpus rather than on the S-curve's
    idealized uniform similarity.

    Scale: ground truth needs exact pairwise Jaccard, so the input MUST
    be a bounded audit sample — enforced by ``max_sample_rows`` (a
    ``limit(max+1).count()`` probe, never a full scan): an oversized
    input raises and points at a deterministic slice like
    ``doc_id % K = 0`` (the q30 sampling idiom) instead of silently
    shipping an O(n²) cross product. Both legs and the join are
    computed in ONE Catalyst plan; the three counts are single-row
    aggregates combined by cross join (driver-free).

    Precision/recall are single IEEE divisions of exact integers,
    round(6) — engine-portable like every ratio in this library."""
    n = df.limit(max_sample_rows + 1).count()
    if n > max_sample_rows:
        raise ValueError(
            f"lsh_audit: input exceeds {max_sample_rows} rows; the exact-"
            "Jaccard ground truth is all-pairs — audit a deterministic "
            "sample (e.g. filter(id % K == 0)) or raise max_sample_rows "
            "explicitly"
        )
    truth = jaccard_pairs(
        df, id_col=id_col, text_col=text_col, threshold=threshold,
        shingle_n=shingle_n,
    )
    cand = minhash_candidate_pairs(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, seed=seed, hash_mode=hash_mode,
    )
    hits = truth.join(cand, ["id_l", "id_r"])
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hit"))
    ratio = lambda num, den: F.round(  # noqa: E731
        F.when(F.col(den) > 0, F.col(num) / F.col(den)).otherwise(F.lit(0.0)), 6
    )
    return (
        nt.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            ratio("n_hit", "n_candidates").alias("precision"),
            ratio("n_hit", "n_truth").alias("recall"),
        )
    )
