"""Multimodal columns (SURVEY.md X4): image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side plumbing — schema, partition flow, ``mapInPandas`` batch
iteration, binary Parquet round-trip — is real and tested. The actual media
codecs are NOT in this container, so the decode step is split:

- ``decode_meta`` parses the engine's deterministic container header
  (``SGIM`` fake format) — real parsing logic, works everywhere.
- ``decode_pixels`` is the genuine codec hook and raises
  ``NotImplementedError`` unless an image library is importable — the
  clearly-marked stub the deployment fills in.

Batch shape: ``mapInPandas`` receives an iterator of pandas DataFrames
(one per Arrow batch, bounded by spark.sql.execution.arrow.maxRecordsPerBatch)
— memory stays bounded regardless of partition size, which is what lets a
binary-heavy 100 TB scan stream through fixed-size executor memory.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

#: fake container magic: 4 bytes magic + u16 width + u16 height + u8 channels
_MAGIC = b"SGIM"
_HEADER = ">4sHHB"
HEADER_LEN = struct.calcsize(_HEADER)

META_SCHEMA = "doc_id bigint, width int, height int, channels int, n_bytes int"


def pack_fake_image(doc_id_col, width_col, height_col):
    """Deterministic fake image blob: SGIM header + payload derived from the
    doc id. Pure Column expression (hex-assemble + unhex + concat) — the
    blob synthesis never leaves the JVM."""
    header_hex = F.concat(
        F.lit(_MAGIC.hex()),
        F.lpad(F.hex(width_col.cast("int")), 4, "0"),
        F.lpad(F.hex(height_col.cast("int")), 4, "0"),
        F.lit("03"),
    )
    payload = F.encode(
        F.concat(F.lit("pixels:"), doc_id_col.cast("string")), "utf-8"
    )
    return F.concat(F.unhex(header_hex), payload)


def attach_fake_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Give a table a deterministic ``image`` binary column + claimed
    dimensions (width from id, height fixed-ish) — the fixture for the
    decode path."""
    w = (F.col(id_col) % 512 + 16).cast("int")
    h = (F.col(id_col) % 384 + 16).cast("int")
    return df.withColumns(
        {
            "claimed_width": w,
            "claimed_height": h,
            "image": pack_fake_image(F.col(id_col), w, h),
        }
    )


def decode_meta(df: DataFrame, id_col: str = "doc_id", bin_col: str = "image") -> DataFrame:
    """Parse container headers out of the binary column via ``mapInPandas``.

    Returns (doc_id, width, height, channels, n_bytes). Malformed blobs
    yield nulls (DLQ-filterable) rather than failing the task.
    """
    id_name, bin_name = id_col, bin_col

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for i, blob in zip(pdf[id_name], pdf[bin_name]):
                raw = bytes(blob) if blob is not None else b""
                if len(raw) >= HEADER_LEN and raw[:4] == _MAGIC:
                    _, w, h, c = struct.unpack(_HEADER, raw[:HEADER_LEN])
                    out.append((int(i), w, h, c, len(raw)))
                else:
                    out.append((int(i), None, None, None, len(raw)))
            yield pd.DataFrame(
                out, columns=["doc_id", "width", "height", "channels", "n_bytes"]
            )

    return df.select(id_col, bin_col).mapInPandas(parse, META_SCHEMA)


def decode_pixels(df: DataFrame, bin_col: str = "image") -> DataFrame:
    """Real media decode — requires an image library not present in this
    container. The Spark plumbing (signature, schema, batching) is the same
    as ``decode_meta``; only the per-blob function differs."""
    try:
        import PIL.Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise NotImplementedError(
            "decode_pixels requires an image codec library (e.g. Pillow); "
            "not available in this environment — use decode_meta for the "
            "container-header path, which is fully implemented."
        ) from exc
    raise NotImplementedError("codec integration point")  # pragma: no cover


def frame_sample(
    df: DataFrame,
    every_n: int = 10,
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic 1-in-N sampling by key hash — the frame-sampling shape
    for video tables (select every Nth frame) without an order-dependent
    ``sample()``. Pure filter: pushes down, no shuffle.

    ``hash_fn``: ``xxhash64`` (default — fastest JVM hash) or ``md5``
    (32 content-hash bits; slower, but standard across engines, so the
    exact kept set reproduces anywhere — the cross-engine-auditable form,
    same trick the PPS sampler uses)."""
    if hash_fn == "xxhash64":
        keyed = F.xxhash64(F.col(id_col))
    elif hash_fn == "md5":
        keyed = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return df.filter(F.pmod(keyed, F.lit(every_n)) == 0)


RESIZE_SCHEMA = "doc_id bigint, width int, height int, image binary"


def resize_images(
    df: DataFrame,
    target_width: int,
    id_col: str = "doc_id",
    bin_col: str = "image",
) -> DataFrame:
    """Aspect-preserving resize over the binary column (``mapInPandas``).

    Real codecs are absent here, so the TRANSFORM is a deterministic fake:
    the SGIM header is rewritten to the target dimensions and the payload is
    tagged — which keeps every piece of Spark plumbing (Arrow batch shape,
    binary-in/binary-out schema, bounded memory) real and testable. The
    deployment swaps ``_resize_blob`` for a codec call; nothing else
    changes.
    """

    def _resize_blob(raw: bytes) -> tuple[int, int, bytes] | None:
        if len(raw) < HEADER_LEN or raw[:4] != _MAGIC:
            return None
        _, w, h, c = struct.unpack(_HEADER, raw[:HEADER_LEN])
        if w == 0 or h == 0:
            return None
        nw = target_width
        # explicit half-up (Python round() is half-to-even, which a SQL
        # oracle can't reproduce)
        nh = max(1, int(h * nw / w + 0.5))
        header = struct.pack(_HEADER, _MAGIC, nw, nh, c)
        return nw, nh, header + b"resized:" + raw[HEADER_LEN:]

    id_name, bin_name = id_col, bin_col

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out = []
            for i, blob in zip(pdf[id_name], pdf[bin_name]):
                r = _resize_blob(bytes(blob) if blob is not None else b"")
                out.append(
                    (int(i), r[0], r[1], r[2]) if r else (int(i), None, None, None)
                )
            yield pd.DataFrame(out, columns=["doc_id", "width", "height", "image"])

    return df.select(id_col, bin_col).mapInPandas(run, RESIZE_SCHEMA)


FEATURE_SCHEMA = "doc_id bigint, feature array<float>"


def extract_features(
    df: DataFrame,
    dim: int = 16,
    id_col: str = "doc_id",
    bin_col: str = "image",
) -> DataFrame:
    """Feature extraction over binary media (``mapInPandas`` → fixed-size
    ``array<float>``), the embed-everything stage of a multimodal pipeline.

    Deterministic stand-in featurizer: a seeded byte-histogram projection of
    the payload (stable across runs/workers). The output column composes
    with the engine's similarity operators (cosine/IVF/LSH) unchanged —
    that composition is the point; swap in a real model server call at
    deployment."""
    id_name, bin_name = id_col, bin_col

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, feats = [], []
            for i, blob in zip(pdf[id_name], pdf[bin_name]):
                raw = bytes(blob) if blob is not None else b""
                hist = np.bincount(
                    np.frombuffer(raw, dtype=np.uint8) % dim, minlength=dim
                ).astype(np.float64)
                norm = np.linalg.norm(hist)
                feats.append((hist / norm if norm else hist).astype(np.float32).tolist())
                ids.append(int(i))
            yield pd.DataFrame({"doc_id": ids, "feature": feats})

    return df.select(id_col, bin_col).mapInPandas(run, FEATURE_SCHEMA)


def attach_fake_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic ``audio`` binary column: 8 kHz mono 8-bit PCM stand-in
    whose payload length is a fast-varying function of the id
    (1000..9999 bytes, i.e. 125..1250 ms). Content is synthetic; every structural property the
    chunker relies on (length, sample rate) is real."""
    n_bytes = ((F.col(id_col) * 37) % 9000 + 1000).cast("int")
    return df.withColumn(
        "audio", F.repeat(F.lit("a"), n_bytes).cast("binary")
    )


def audio_chunks(
    df: DataFrame,
    chunk_ms: int = 250,
    sample_rate: int = 8000,
    bytes_per_sample: int = 1,
    id_col: str = "doc_id",
    bin_col: str = "audio",
) -> DataFrame:
    """Split audio binaries into fixed-duration chunks — entirely JVM-side
    (sequence + posexplode + binary substring), no Python in the plan: the
    frame-segmentation pattern for feature extraction over long recordings.

    Output: (id, chunk_idx, chunk, chunk_bytes, start_ms, end_ms); the last
    chunk is short. One narrow pass: rows explode to ceil(len/chunk) chunks
    with no shuffle, so the operator is linear and partition-local at any
    scale."""
    bps_ms = sample_rate * bytes_per_sample / 1000.0
    sz = int(chunk_ms * bps_ms)
    n = F.ceil(F.length(F.col(bin_col)) / F.lit(sz)).cast("int")
    ms_per_byte = 1000.0 / (sample_rate * bytes_per_sample)
    out = (
        df.select(
            F.col(id_col),
            F.col(bin_col),
            F.posexplode(F.sequence(F.lit(0), n - 1)).alias("chunk_idx", "_i"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.substring(F.col(bin_col), F.col("chunk_idx") * sz + 1, sz).alias("chunk"),
        )
        .withColumn("chunk_bytes", F.length("chunk"))
        .withColumn("start_ms", (F.col("chunk_idx") * sz * ms_per_byte).cast("double"))
        .withColumn(
            "end_ms",
            ((F.col("chunk_idx") * sz + F.col("chunk_bytes")) * ms_per_byte).cast(
                "double"
            ),
        )
    )
    return out


def phash_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "image",
    n_bands: int = 4,
    band_hex: int = 2,
) -> DataFrame:
    """Perceptual-hash LSH banding over the binary media column — the
    image near-dup CANDIDATE stage (Monga & Evans, "Perceptual image
    hashing via feature points", IEEE TIP 2006; banding per Leskovec–
    Rajaraman–Ullman MMDS §3.4, the same geometry as dedup_minhash_lsh).
    The first ``n_bands``·``band_hex`` hex chars of each image's
    128-bit md5 fingerprint split into ``n_bands`` bands of
    ``band_hex`` hex chars (the default 4×2 consumes 32 bits); images
    sharing any band value land in one bucket, and candidate pairs are
    read off bucket sizes as Σ c·(c−1)/2 — never materializing the
    pairs. ``n_bands``·``band_hex`` must fit the 32-char digest — an
    overrun would silently band empty substrings (one giant bucket,
    quadratic candidates), so it is rejected up front.

    The fingerprint here is the DOCUMENTED STAND-IN for a real DCT
    pHash: a true pHash hashes decoded pixels, and pixel decode is
    env-gated exactly like ``decode_pixels`` (no codec libs in this
    sandbox). What IS real — and what this operator exercises — is the
    full at-scale plumbing: binary column → Arrow-batched
    ``mapInPandas`` header decode (``decode_meta``) → md5 fingerprint
    of the decoded metadata → band explode → bucket aggregation.
    Swapping the fingerprint expression for a pixel pHash changes no
    plan shape. Malformed blobs (NULL decoded width) are excluded from
    fingerprinting — the decode path's documented DLQ behavior.

    Output: one row per band — (band, n_buckets, n_candidate_pairs,
    max_bucket). Pair counts are int64 (ceiling: a single bucket of
    ~4.3e9 duplicates overflows c·(c−1)/2 — far beyond any real shard)."""
    if n_bands < 1 or band_hex < 1:
        # non-positive values pass the upper-bound check but produce bogus
        # bands: sequence(0, n_bands-1) with n_bands<=0 is the DESCENDING
        # [0, -1], yielding a band -1 with a negative substring offset
        raise ValueError(
            f"n_bands ({n_bands}) and band_hex ({band_hex}) must both be >= 1"
        )
    if n_bands * band_hex > 32:
        raise ValueError(
            f"n_bands*band_hex = {n_bands * band_hex} exceeds the 32 hex "
            "chars of the md5 fingerprint — overrun bands would bucket "
            "empty substrings"
        )
    meta = decode_meta(df, id_col, bin_col)
    # content signature only (no id): identical decoded signatures MUST
    # collide — that is what makes the buckets a near-dup candidate set
    fp = meta.filter(F.col("width").isNotNull()).select(
        F.md5(
            F.concat_ws(":", "width", "height", "channels", "n_bytes")
        ).alias("__fp")
    )
    bands = fp.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
        "__fp",
    ).select(
        "band",
        F.expr(f"substring(__fp, 1 + band * {band_hex}, {band_hex})").alias(
            "__v"
        ),
    )
    buckets = bands.groupBy("band", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.expr("__c * (__c - 1) DIV 2")).cast("bigint").alias(
            "n_candidate_pairs"
        ),
        F.max("__c").cast("bigint").alias("max_bucket"),
    )


def phash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "image",
    n_bands: int = 4,
    band_hex: int = 2,
) -> DataFrame:
    """Image near-dup candidate PAIRS with Hamming verification — the
    verify stage that completes ``phash_buckets``' candidate stage into
    the full LSH candidates→verify geometry (Leskovec–Rajaraman–Ullman
    MMDS §3.4; the two-stage shape of ``dedup.minhash_near_dups``, which
    pairs bucket members from their collected id groups instead):
    images sharing ANY band of their fingerprint become a candidate
    pair, each pair is checked ONCE (bucket-confined self-join,
    de-duplicated across bands by the id ordering), and the verdict is
    the nibble-Hamming distance between the full 32-hex-char
    fingerprints (the count of differing hex digits, 0..32 — an upper
    bound of bit-Hamming/4; 0 means identical signatures).

    Candidate generation NEVER goes all-pairs: the join key is (band,
    band-value), so work is Σ over buckets of c², exactly the quantity
    ``phash_buckets`` prices beforehand — run the counting stage first
    and widen ``band_hex`` if a bucket explodes (2 hex chars = 256
    buckets/band suits fixture scale; production banding over a pixel
    pHash would use 4+). The fingerprint frame is pinned
    (``localCheckpoint``) so the Arrow ``mapInPandas`` decode runs once,
    not once per join side. The same stand-in contract as
    ``phash_buckets`` applies: md5-of-decoded-metadata stands in for a
    pixel DCT pHash (codec-gated env); every plan stage — decode,
    fingerprint, band explode, bucket join, pair dedup, Hamming filter —
    is the real at-scale shape and swapping the fingerprint expression
    changes none of it.

    Returns one row per distinct candidate pair: (<id_col>_a,
    <id_col>_b, hamming), with id_a < id_b."""
    if n_bands < 1 or band_hex < 1:
        raise ValueError(
            f"n_bands ({n_bands}) and band_hex ({band_hex}) must both be >= 1"
        )
    if n_bands * band_hex > 32:
        raise ValueError(
            f"n_bands*band_hex = {n_bands * band_hex} exceeds the 32 hex "
            "chars of the md5 fingerprint — overrun bands would bucket "
            "empty substrings"
        )
    meta = decode_meta(df, id_col, bin_col)
    fp = (
        meta.filter(F.col("width").isNotNull())
        .select(
            F.col("doc_id").alias("__id"),
            F.md5(
                F.concat_ws(":", "width", "height", "channels", "n_bytes")
            ).alias("__fp"),
        )
        .localCheckpoint(eager=False)
    )
    bands = fp.select(
        "__id",
        "__fp",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("__band"),
    ).select(
        "__id",
        "__fp",
        "__band",
        F.expr(
            f"substring(__fp, 1 + __band * {band_hex}, {band_hex})"
        ).alias("__v"),
    )
    left = bands.select(
        "__band", "__v", F.col("__id").alias("__ida"), F.col("__fp").alias("__fa")
    )
    right = bands.select(
        "__band", "__v", F.col("__id").alias("__idb"), F.col("__fp").alias("__fb")
    )
    cand = (
        left.join(right, ["__band", "__v"])
        .filter(F.col("__ida") < F.col("__idb"))
        .select("__ida", "__idb", "__fa", "__fb")
        .distinct()  # a pair sharing several bands is verified once
    )
    ham = F.expr(
        "size(filter(sequence(1, 32),"
        " i -> substring(__fa, i, 1) != substring(__fb, i, 1)))"
    )
    return cand.select(
        F.col("__ida").alias(f"{id_col}_a"),
        F.col("__idb").alias(f"{id_col}_b"),
        ham.cast("int").alias("hamming"),
    )
