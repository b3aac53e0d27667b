"""Incremental MinHash-LSH near-dup index — dedup-at-ingest for a
document stream.

The batch near-dup operators (operators/dedup.py) answer "which pairs in
THIS corpus are near-duplicates"; a live ingestion pipeline needs the
incremental question: "is this NEW document a near-dup of anything already
ingested" — without rescanning or re-signing the corpus per batch (the
reference's pipeline is exactly such an ingest stream; its README defers
all content logic to consumers). This module maintains the LSH index as
TABLE STATE, the same pattern the CDC merger uses for row state:

- ``bands/``    (id, band, bucket) — the LSH blocking index, Hive-
  partitioned by ``__shard = pmod(bucket, n_shards)`` so a batch's probe
  join prunes to the shards its buckets hash into (partition pruning
  after the listing; a small batch touches few shards, a 100 TB index is
  never scanned wholesale).
- ``shingles/`` (id, sh) — per-doc distinct shingle hashes (xxhash64,
  8 bytes per distinct shingle, ~10-20 % of text size), enough to
  exact-verify candidate pairs without re-reading document text. Same
  shard layout keyed on ``pmod(xxhash64(id), n_shards)`` so verification
  reads only candidate ids' shards.
- ``pairs/``    (d1, d2, jaccard) with d1 < d2 — every verified near-dup
  pair, appended as discovered.

Each table is appended through ``state_table.append``, which records its
``_schema`` sidecar, so ``state_table.read`` opens it without a Parquet
footer-inference job.

Per epoch the work is O(batch + probed shards + candidate pairs): band
buckets for the batch only (``minhash_bands``, no signature array),
within-batch candidates from the batch's bucket groups
(``bucket_pairs``), one pruned probe join against the stored bands, and
exact Jaccard on candidates only (``jaccard_pairs``' array-intersection
scoring). Pair discovery is arrival-order independent: a pair is found
when its LATER-ARRIVING member is ingested (the earlier one is in the
index), or within-batch when both arrive together, and is always
normalized to (min_id, max_id) — so the accumulated pair set equals the
one-shot batch LSH's pair set regardless of how documents were split
into batches. ``read_dup_flags`` derives the
min-id-survivor verdict (doc_id, dup_of) from the pair table.

Replay safety: at-least-once ``foreachBatch`` delivery is handled by the
replay contract of ``streaming/markers.py`` (``once``), as for the CDC
merger — a ``_last_epoch`` marker skips committed epochs and commits after
the appends; a crash between append and marker re-appends one epoch's
rows, which ``read_dup_flags``'s min-aggregate and the distinct
candidate set make harmless for the flags (band/shingle duplicates cost
space until compaction, not correctness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.operators.dedup import (
    bucket_pairs,
    jaccard_pairs,
    minhash_bands,
    shingle_sets,
)
from split_kinesis_streams_with_glue_spark.streaming import state_table
from split_kinesis_streams_with_glue_spark.streaming.markers import once, start


def make_dedup_indexer(
    index_path: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 128,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Build the idempotent ``(doc_batch, epoch_id) -> None`` ingest
    function (exposed for direct replay testing, like the CDC merger's)."""

    def shard(id_col: str):
        # the shingle table's shard of a document id
        return F.pmod(F.xxhash64(id_col), F.lit(n_shards))

    def ingest(batch: DataFrame, epoch_id: int, last) -> None:
        spark = batch.sparkSession
        # batch-side blocking state; the shingle frame feeds the bands AND
        # verification, so materialize it once. Every census below comes
        # out of the pin it follows (metadata-sized: <= n_shards values),
        # not a job of its own.
        sh, sh_shards = state_table.pin(
            shingle_sets(batch, text_col, id_col, shingle_n).withColumn(
                "sh", F.xxhash64("shingle")
            ),
            shard("id"),
        )
        # no shingles (an empty batch, or only null or too-short texts):
        # write nothing, since a partitioned append of zero rows would
        # leave the index directories with no data file to read back
        if not sh_shards:
            return
        band_shard = F.pmod(F.col("bucket"), F.lit(n_shards))
        batch_bands, probe_shards = state_table.pin(
            minhash_bands(sh, num_hashes), band_shard
        )

        # ---- candidates: within-batch + batch-vs-stored (pruned probe)
        within = bucket_pairs(batch_bands)
        stored_bands = state_table.read(spark, f"{index_path}/bands", "__shard")
        if stored_bands is not None:
            s = stored_bands.filter(F.col("__shard").isin(list(probe_shards)))
            s = s.alias("s")
            n = batch_bands.alias("n")
            cross = s.join(
                n,
                (F.col("s.band") == F.col("n.band"))
                & (F.col("s.bucket") == F.col("n.bucket"))
                & (F.col("s.id") != F.col("n.id")),
            ).select(
                F.least(F.col("s.id"), F.col("n.id")).alias("d1"),
                F.greatest(F.col("s.id"), F.col("n.id")).alias("d2"),
            )
            cands = within.unionByName(cross).distinct()
        else:
            cands = within
        cands, id_shards = state_table.pin(cands, shard("d1"), shard("d2"))

        # ---- exact verification on hashed shingle sets (batch + stored)
        batch_sh = sh.select("id", "sh")
        stored_sh = state_table.read(spark, f"{index_path}/shingles", "__shard")
        if stored_sh is not None:
            cand_ids = cands.select(F.col("d1").alias("id")).unionByName(
                cands.select(F.col("d2").alias("id"))
            ).distinct()
            pool = (
                stored_sh.filter(F.col("__shard").isin(list(id_shards)))
                .join(F.broadcast(cand_ids), "id", "left_semi")
                .select("id", "sh")
                .unionByName(batch_sh)
            )
        else:
            pool = batch_sh
        verified = jaccard_pairs(
            pool.withColumnRenamed("sh", "shingle"), threshold, candidates=cands
        )

        # ---- appends; ``once`` commits the epoch marker after them
        state_table.append(verified, f"{index_path}/pairs")
        state_table.append(
            batch_bands.withColumn("__shard", band_shard), f"{index_path}/bands", "__shard"
        )
        state_table.append(
            batch_sh.withColumn("__shard", shard("id")), f"{index_path}/shingles", "__shard"
        )

    return once(f"{index_path}/_last_epoch", ingest)


def dedup_index_stream(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    **kwargs,
):
    """Maintain the near-dup index from a document stream; returns the
    started StreamingQuery."""
    ingest = make_dedup_indexer(index_path, threshold, **kwargs)
    return start(stream, ingest, checkpoint)


def read_dup_pairs(spark, index_path: str) -> DataFrame:
    """All verified near-dup pairs discovered so far (d1 < d2)."""
    pairs = state_table.read(spark, f"{index_path}/pairs", None)
    if pairs is None:
        return spark.createDataFrame([], "d1 bigint, d2 bigint, jaccard double")
    return pairs.select("d1", "d2", "jaccard").distinct()


def read_dup_flags(spark, index_path: str) -> DataFrame:
    """The min-id-survivor verdict: (doc_id, dup_of) for every ingested
    document that has a smaller-id near-dup — identical to what the batch
    LSH + min-id rule would flag over the union of all batches."""
    return (
        read_dup_pairs(spark, index_path)
        .groupBy(F.col("d2").alias("doc_id"))
        .agg(F.min("d1").alias("dup_of"))
    )
