"""Incremental NEAR-duplicate dedup ingestion: admit each arriving
batch into a corpus lake only if no near-duplicate is already
committed, maintaining an LSH band-key index lake alongside the corpus
so admission costs O(batch) — the committed corpus is never rescanned
or re-signatured.

Reference: the reference's dedup ingestion is EXACT-key —
RecordKeyDedupReducerBase (gobblin-compaction
.../mapreduce/avro/AvroKeyDedupReducer.java:44) keeps one record per
key at compaction time, and the engine's insert-only MERGE
(`FileSink.merge_into(matched="ignore")`) gives the same contract
incrementally. This job extends that contract to NEAR-duplicates with
the MinHash/LSH machinery (functions/dedup_fuzzy.py): a new document
is a duplicate if it lands in an LSH band bucket shared with a
committed document AND its shingle-set Jaccard against that committed
partner clears the threshold.

Plan shape per batch (everything bounded by batch size, never corpus
size):
1. batch band keys: the minhash pipeline over the BATCH only;
2. within-batch dedup: banded candidate pairs -> keep the smallest id
   per connected component (the q80/q81 cluster-resolution shape,
   collapsed to one pass of pairwise min since candidates inside one
   batch are rare — a second pointer-jump pass would only matter for
   duplicate CHAINS inside a single batch, which the cross-batch path
   catches on the next arrival anyway);
3. cross-batch: committed index buckets pre-aggregate to bounded
   partner lists (the `_bucket_pairs` discipline: degenerate buckets
   above ``max_bucket_size`` are dropped, not expanded), the batch's
   keys equi-join them, and each (new doc, committed partner)
   candidate verifies shingle-Jaccard against the partner text —
   fetched by a key semi-join over the corpus scan, so only partner
   rows survive into the verify (when the partner set is driver-small,
   swap the semi-join for an ``isin`` point-lookup to engage the
   lake's bloom/min-max file skipping and avoid the scan entirely);
4. commit: survivors append to the corpus lake, their band keys to
   the index lake, both under run ids derived from ``run_id`` —
   CORPUS FIRST, then index. A crash between the two replays
   idempotently: the corpus publish of the same rid is a no-op, and
   because admission consults only the INDEX (which the crashed run
   never updated), the recomputed survivor set is identical.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.functions import dedup_fuzzy

__all__ = ["ingest_batch_fuzzy"]


def _shingle_set(text_col: str, shingle_n: int):
    return F.array_distinct(
        dedup_fuzzy.shingles(F.col(text_col), shingle_n)
    )


def ingest_batch_fuzzy(
    spark: SparkSession,
    batch: DataFrame,
    corpus_sink,
    index_sink,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    jaccard_threshold: float = 0.7,
    max_bucket_size: int = 512,
    run_id: str | None = None,
) -> dict[str, Any]:
    """One admission round: near-dup-dedup ``batch`` against itself and
    the committed corpus, append survivors + their LSH keys. Returns
    {"admitted", "dropped_within", "dropped_vs_committed", "run_id"}.

    Both sinks must be manifest-mode ``FileSink``s; the index lake's
    schema is (id, band_id, band_hash). ``jaccard_threshold`` guards
    against LSH false positives: bucket collision alone never drops a
    document.

    Admission rounds are SINGLE-WRITER (the streaming sink's foreachBatch
    serialization, or one batch job at a time): two rounds racing would
    each consult an index missing the other's keys and could both admit
    mutual near-dups — the put-if-absent manifest commit protects the
    lakes' integrity, not the admission decision."""
    from incubator_gobblin_spark.sinks.files import new_run_id

    for sink, name in ((corpus_sink, "corpus"), (index_sink, "index")):
        if getattr(sink, "commit_mode", None) != "manifest":
            raise ValueError(f"{name} sink must be manifest-mode")
    rid = run_id or new_run_id()

    n_in = batch.count()
    # the band keys feed THREE consumers (within-batch pairing, the
    # cross-batch index join, the admitted-keys write) and several
    # count() actions — cache them once instead of re-running the
    # shingle->minhash pipeline per consumer
    keys = dedup_fuzzy.minhash_band_keys(
        batch, id_col, text_col, num_hashes, bands, shingle_n, seed
    ).cache()

    # -- within-batch: keep the smallest id of every candidate pair.
    # Pair directly off the cached keys (minhash_candidate_pairs would
    # re-derive the identical band keys from the raw text)
    pairs = dedup_fuzzy._bucket_pairs(
        keys.withColumnRenamed(id_col, "_id"),
        ["band_id", "band_hash"],
        "_id",
        max_bucket_size,
    )
    sh = _shingle_set(text_col, shingle_n)
    texts = batch.select(F.col(id_col).alias("_tid"), sh.alias("_tsh"))
    verified = (
        pairs.join(texts.withColumnRenamed("_tid", "id_l")
                        .withColumnRenamed("_tsh", "_sh_l"), on="id_l")
        .join(texts.withColumnRenamed("_tid", "id_r")
                   .withColumnRenamed("_tsh", "_sh_r"), on="id_r")
        .filter(
            F.size(F.array_intersect("_sh_l", "_sh_r"))
            >= F.lit(jaccard_threshold)
            * F.size(F.array_union("_sh_l", "_sh_r"))
        )
    )
    # id_l < id_r by construction: dropping every id_r keeps exactly
    # the smallest id of each verified pair group
    within_drops = verified.select(F.col("id_r").alias(id_col)).distinct()
    kept_within = batch.join(within_drops, on=id_col, how="left_anti").cache()
    kept = kept_within
    n_within = within_drops.count()

    # -- cross-batch: bucket-join the committed index, verify Jaccard
    n_cross = 0
    try:
        index = index_sink.read_committed(spark)
        have_index = True
    except FileNotFoundError:
        have_index = False
    if have_index:
        partners = (
            index.groupBy("band_id", "band_hash")
            .agg(F.sort_array(F.collect_set(id_col)).alias("_partners"))
            .filter(F.size("_partners") <= max_bucket_size)
        )
        cand = (
            keys.join(within_drops, on=id_col, how="left_anti")
            .join(partners, on=["band_id", "band_hash"])
            .select(
                F.col(id_col),
                F.explode("_partners").alias("_partner"),
            )
            .distinct()
        )
        committed_texts = (
            corpus_sink.read_committed(spark)
            .join(
                cand.select(F.col("_partner").alias(id_col)).distinct(),
                on=id_col,
                how="left_semi",
            )
            .select(F.col(id_col).alias("_partner"), sh.alias("_psh"))
        )
        batch_texts = kept.select(F.col(id_col), sh.alias("_bsh"))
        cross_drops = (
            cand.join(batch_texts, on=id_col)
            .join(committed_texts, on="_partner")
            .filter(
                F.size(F.array_intersect("_bsh", "_psh"))
                >= F.lit(jaccard_threshold)
                * F.size(F.array_union("_bsh", "_psh"))
            )
            .select(id_col)
            .distinct()
        )
        n_cross = cross_drops.count()
        kept = kept.join(cross_drops, on=id_col, how="left_anti")

    # -- commit survivors: corpus first, then index (see module doc)
    n_admit = kept.count()
    if n_admit > 0:
        corpus_sink.write_staging(kept, rid)
        corpus_sink.publish(rid)
        admitted_keys = keys.join(
            kept.select(id_col), on=id_col, how="left_semi"
        )
        index_sink.write_staging(admitted_keys, rid)
        index_sink.publish(rid)
    keys.unpersist()
    kept_within.unpersist()
    return {
        "admitted": n_admit,
        "dropped_within": n_within,
        "dropped_vs_committed": n_cross,
        "run_id": rid,
        "batch_rows": n_in,
    }
