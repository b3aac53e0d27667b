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

Per epoch the work is O(batch + probed shards + candidate pairs):
signatures/bands for the batch only, one pruned probe join against the
stored bands, exact Jaccard on candidates only. Pair discovery is
arrival-order independent: a pair is found when its LATER-ARRIVING member
is ingested (the earlier one is in the index), or within-batch when both
arrive together, and is always normalized to (min_id, max_id) — so the
accumulated pair set equals the one-shot batch LSH's pair set regardless
of how documents were split into batches. ``read_dup_flags`` derives the
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
    jaccard_pairs,
    minhash_signatures,
    shingle_sets,
)
from split_kinesis_streams_with_glue_spark.streaming.markers import _fs, once, start
from split_kinesis_streams_with_glue_spark.streaming.state_table import pin


def _read_or_none(spark, path: str) -> DataFrame | None:
    """The index table at ``path``, or None before its first append (a
    filesystem check; no Spark read of an absent path)."""
    fs, p, _ = _fs(spark, path)
    return spark.read.parquet(path) if fs.exists(p) else None


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
        # batch-side blocking state; the shingle frame feeds signatures AND
        # verification, so materialize it once (same rationale as
        # minhash_near_dups). Every census below comes out of the pin it
        # follows (metadata-sized: <= n_shards values), not a job of its own.
        sh, sh_shards = pin(
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
        sigs = minhash_signatures(sh, num_hashes).localCheckpoint(eager=True)
        # banding inline (lsh_candidate_pairs pairs within ONE frame; here
        # the two sides differ, so band the batch and probe the store)
        rows_per_band = 2
        n_bands = num_hashes // rows_per_band
        bands = sigs.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.xxhash64(
                                *[
                                    F.col("sig")[bi * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ]
                            ).alias("bucket"),
                        )
                        for bi in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select("id", "bb.band", "bb.bucket")
        band_shard = F.pmod(F.col("bucket"), F.lit(n_shards))
        batch_bands, probe_shards = pin(bands, band_shard)

        # ---- candidates: within-batch + batch-vs-stored (pruned probe)
        a = batch_bands.alias("a")
        b = batch_bands.alias("b")
        within = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
        )
        stored_bands = _read_or_none(spark, f"{index_path}/bands")
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
            cands = within.distinct()
        cands, id_shards = pin(cands, shard("d1"), shard("d2"))

        # ---- exact verification on hashed shingle sets (batch + stored)
        batch_sh = sh.select("id", "sh")
        stored_sh = _read_or_none(spark, f"{index_path}/shingles")
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
        verified.write.mode("append").parquet(f"{index_path}/pairs")
        batch_bands.withColumn("__shard", band_shard).write.partitionBy(
            "__shard"
        ).mode("append").parquet(f"{index_path}/bands")
        batch_sh.withColumn("__shard", shard("id")).write.partitionBy(
            "__shard"
        ).mode("append").parquet(f"{index_path}/shingles")

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
    pairs = _read_or_none(spark, f"{index_path}/pairs")
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
