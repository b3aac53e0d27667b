"""MinHash-LSH building blocks: ``text_shingles`` (functions/textfns.py),
``minhash_bands`` and ``bucket_pairs`` (operators/dedup.py)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.functions.textfns import (
    text_shingles,
    whitespace_tokens,
    word_shingles,
)
from split_kinesis_streams_with_glue_spark.operators.dedup import (
    _hash_family,
    bucket_pairs,
    minhash_bands,
    shingle_sets,
)

#: the sf0.1 documents fixture, kept in the repository for the benchmark
SF01_DOCUMENTS = (
    Path(__file__).resolve().parents[1] / "perfbench" / "fixtures" / "documents.parquet"
)

SHINGLE_NS = (1, 2, 3, 5)

EDGE_TEXTS = [
    "  leading and trailing spaces  ",
    "tabs\tbetween\tthe\twords",
    "new\nlines\r\nand\n\nblank lines",
    "repeated    spaces   between  words",
    "two words",
    "one",
    "",
    None,
    " \t\n ",
    "Ünïcödé ÉCOLE Straße naïve façade",
    "nbsp\u00a0joins two words into\u00a0one token",
    "dup dup dup dup dup dup",
]


def _lambda_shingles(text, n):
    """The lambda composition ``text_shingles`` replaces."""
    return word_shingles(whitespace_tokens(F.lower(text)), n)


def _mismatches(df):
    """Per n, the rows where the two formulations differ (one pass)."""
    checks = [
        F.sum(
            F.when(
                F.equal_null(text_shingles(F.col("text"), n), _lambda_shingles(F.col("text"), n)),
                0,
            ).otherwise(1)
        ).alias(f"n{n}")
        for n in SHINGLE_NS
    ]
    return df.agg(*checks).first().asDict()


def test_text_shingles_equals_lambda_composition_on_edge_cases(spark):
    df = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "id long, text string")
    assert _mismatches(df) == {f"n{n}": 0 for n in SHINGLE_NS}
    got = {
        r["id"]: r["s"] for r in df.select("id", text_shingles("text", 2).alias("s")).collect()
    }
    assert got[0] == ["leading and", "and trailing", "trailing spaces"]
    assert got[5] == got[6] == got[7] == got[8] == []
    # NBSP is not whitespace to either formulation: it joins two words
    assert got[10][:2] == ["nbsp\u00a0joins two", "two words"]


def test_text_shingles_equals_lambda_composition_on_sf01_documents(spark):
    docs = spark.read.parquet(str(SF01_DOCUMENTS))
    assert _mismatches(docs) == {f"n{n}": 0 for n in SHINGLE_NS}
    assert shingle_sets(docs).count() == 260_388


def _signature_band_buckets(shingles, num_hashes=128, rows_per_band=2):
    """Reference: the ``num_hashes``-lane signature array aggregated per
    document, then banded as ``xxhash64(sig[b*r], ..., sig[b*r + r-1])``."""
    a, b = _hash_family(num_hashes)
    p = (1 << 31) - 1
    h0 = F.xxhash64("shingle").bitwiseAND(F.lit(0xFFFFFFFF))
    sigs = (
        shingles.withColumn("__h0", h0)
        .groupBy("id")
        .agg(
            F.array(
                *[
                    F.min(F.pmod(F.col("__h0") * F.lit(a[i]) + F.lit(b[i]), F.lit(p)))
                    for i in range(num_hashes)
                ]
            ).alias("sig")
        )
    )
    bands = [
        F.struct(
            F.lit(band).alias("band"),
            F.xxhash64(
                *[F.col("sig")[band * rows_per_band + j] for j in range(rows_per_band)]
            ).alias("bucket"),
        )
        for band in range(num_hashes // rows_per_band)
    ]
    return sigs.select("id", F.explode(F.array(*bands)).alias("bb")).select(
        "id", "bb.band", "bb.bucket"
    )


def test_minhash_bands_equal_the_signature_band_buckets(spark, sf_dir):
    sh = shingle_sets(spark.read.parquet(f"{sf_dir}/documents.parquet")).localCheckpoint()
    got = minhash_bands(sh)
    want = _signature_band_buckets(sh)
    assert got.columns == ["id", "band", "bucket"]
    n = want.count()
    assert n == 64 * sh.select("id").distinct().count() > 0
    assert got.count() == n
    assert got.exceptAll(want).count() == 0


def test_bucket_pairs_pairs_each_bucket_group_once(spark):
    bands = spark.createDataFrame(
        [
            (3, 0, 10), (1, 0, 10), (2, 0, 10),  # one group of three
            (1, 1, 11), (2, 1, 11),  # the pair (1, 2) again, in another band
            (4, 0, 11), (4, 1, 10),  # 4 shares a bucket value only across bands
            (5, 2, 12),  # a singleton group
        ],
        "id long, band int, bucket long",
    )
    got = sorted(tuple(r) for r in bucket_pairs(bands).collect())
    assert got == [(1, 2), (1, 3), (2, 3)]
