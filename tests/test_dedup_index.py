"""Incremental MinHash-LSH near-dup index (streaming/dedup_index.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.operators.dedup import minhash_near_dups
from split_kinesis_streams_with_glue_spark.streaming.dedup_index import (
    make_dedup_indexer,
    read_dup_flags,
    read_dup_pairs,
)


def _batch_flags(docs):
    pairs = minhash_near_dups(docs, threshold=0.5)
    return {
        (r["doc_id"], r["dup_of"])
        for r in pairs.groupBy(F.col("d2").alias("doc_id"))
        .agg(F.min("d1").alias("dup_of"))
        .collect()
    }


def test_incremental_equals_batch_over_interleaved_batches(spark, sf_dir, tmp_path):
    """Three mod-3 interleaved batches (so neither batch boundaries nor
    arrival order align with doc ids) accumulate exactly the pair set and
    min-id flags the one-shot batch LSH computes over the whole corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    path = str(tmp_path / "idx")
    ingest = make_dedup_indexer(path, threshold=0.5)
    # epoch ids increase (the streaming contract); DOC id order across
    # batches is deliberately shuffled
    for epoch, i in enumerate((1, 0, 2), start=1):
        ingest(docs.filter(F.col("doc_id") % 3 == i), epoch_id=epoch)

    got_pairs = {
        (r["d1"], r["d2"]) for r in read_dup_pairs(spark, path).collect()
    }
    exp_pairs = {
        (r["d1"], r["d2"]) for r in minhash_near_dups(docs, threshold=0.5).collect()
    }
    assert got_pairs == exp_pairs
    got = {
        (r["doc_id"], r["dup_of"]) for r in read_dup_flags(spark, path).collect()
    }
    assert got == _batch_flags(docs)
    assert got, "fixture should contain at least one near-dup pair"


def test_replayed_epoch_is_a_no_op(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    ingest = make_dedup_indexer(path, threshold=0.5)
    ingest(docs, epoch_id=1)
    n1 = read_dup_pairs(spark, path).count()
    ingest(docs, epoch_id=1)  # replay — marker short-circuits
    assert read_dup_pairs(spark, path).count() == n1 == 1


def test_epoch_without_shingles_leaves_the_index_readable(spark, tmp_path):
    """An epoch whose documents are all shorter than ``shingle_n`` words
    (or have null text) yields no shingles; it must not leave ``bands/``
    or ``shingles/`` as directories without data files, or every later
    epoch fails to read them back."""
    short = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma"), (3, None)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (4, "alpha beta gamma delta epsilon zeta eta theta"),
            (5, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    ingest = make_dedup_indexer(path, threshold=0.5)
    ingest(short, epoch_id=1)
    ingest(docs, epoch_id=2)
    got = {(r["d1"], r["d2"]) for r in read_dup_pairs(spark, path).collect()}
    assert got == {(4, 5)}


def test_dedup_index_stream_file_source(spark, tmp_path):
    """End-to-end through the real streaming path: two parquet drops with
    ordered mtimes, maxFilesPerTrigger=1 → two epochs, flags identical to
    two direct ingest calls."""
    import os

    from split_kinesis_streams_with_glue_spark.streaming.dedup_index import (
        dedup_index_stream,
    )

    src = str(tmp_path / "src")
    d1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    d2 = spark.createDataFrame(
        [(5, "alpha beta gamma delta epsilon zeta eta iota")],
        "doc_id long, text string",
    )
    d1.coalesce(1).write.mode("append").parquet(src)
    first = {os.path.join(src, f) for f in os.listdir(src)}
    for p in first:
        os.utime(p, (1_600_000_000, 1_600_000_000))
    d2.coalesce(1).write.mode("append").parquet(src)
    for f in os.listdir(src):
        p = os.path.join(src, f)
        if p not in first:
            os.utime(p, (1_600_000_001, 1_600_000_001))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = dedup_index_stream(
        stream, str(tmp_path / "idx"), str(tmp_path / "ckpt"), threshold=0.5
    )
    q.awaitTermination(120)
    flags = {
        (r["doc_id"], r["dup_of"])
        for r in read_dup_flags(spark, str(tmp_path / "idx")).collect()
    }
    assert flags == {(5, 1)}


def test_out_of_order_arrival_still_flags_the_larger_id(spark, tmp_path):
    """The near-dup with the SMALLER id arrives in a later epoch; the pair
    must still be discovered (new batch probes the stored bands) and the
    flag must land on the larger id."""
    d_big = spark.createDataFrame(
        [(10, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    d_small = spark.createDataFrame(
        [(2, "one two three four five six seven eight nine eleven")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    ingest = make_dedup_indexer(path, threshold=0.5)
    ingest(d_big, epoch_id=1)
    ingest(d_small, epoch_id=2)
    flags = {(r["doc_id"], r["dup_of"]) for r in read_dup_flags(spark, path).collect()}
    assert flags == {(10, 2)}


def test_index_reads_start_no_footer_inference_job(spark, sf_dir, tmp_path, monkeypatch):
    """Every index table carries the ``_schema`` sidecar, so opening it
    builds a DataFrame from the listing alone: the reads of a second epoch
    (stored bands and shingles) and of ``read_dup_pairs`` start no Parquet
    footer-inference job."""
    from split_kinesis_streams_with_glue_spark.streaming import state_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    path = str(tmp_path / "idx")
    ingest = make_dedup_indexer(path, threshold=0.5)
    ingest(docs.filter(F.col("doc_id") % 2 == 0), epoch_id=1)

    sc = spark.sparkContext
    group = "dedup-index-reads"
    read, tables = state_table.read, []

    def read_in_group(spark, table, col="__bucket"):
        sc.setJobGroup(group, "dedup index table read")
        try:
            tables.append(table.rsplit("/", 1)[-1])
            return read(spark, table, col)
        finally:
            sc.setJobGroup(f"{group}-done", "")

    monkeypatch.setattr(state_table, "read", read_in_group)
    ingest(docs.filter(F.col("doc_id") % 2 == 1), epoch_id=2)
    pairs = read_dup_pairs(spark, path)
    assert tables == ["bands", "shingles", "pairs"]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert pairs.count() > 0
