"""Multimodal columns: opaque binary payloads + typed metadata.

Treats image/audio/video as ``binary`` columns with a metadata struct,
per the training-data-pipeline contract.  The Spark-side plumbing —
schema, partitioning, Arrow batch shape, mapInPandas signatures — is
real and tested; the actual codec calls are STUBBED (this container
ships no image/audio libraries): ``decode_image`` raises
NotImplementedError behind an import-try, and ``fake_decode`` is the
deterministic stand-in used by tests.

Real (no stub) operators:
* byte_stats     — size/entropy-ish stats via built-ins (JVM-side)
* byte_histogram — 16-bucket byte histogram via mapInPandas (Arrow
                   batches of binary -> fixed-size array<double>): the
                   exact batch shape a real decode-and-featurize UDF has.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta_format", StringType()),
        StructField("meta_width", LongType()),
        StructField("meta_height", LongType()),
    ]
)

HIST_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("hist", ArrayType(DoubleType())),
    ]
)

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in: pretend dimensions derived from bytes."""
    if not payload:
        return (0, 0)
    return (1 + payload[0] % 64, 1 + payload[-1] % 64)


def byte_stats(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Pure built-in stats over binary columns (no Python)."""
    return media.select(
        "media_id",
        F.length(F.col(payload_col)).alias("n_bytes"),
        F.md5(F.col(payload_col)).alias("payload_md5"),
    )


def byte_histogram(media: DataFrame, payload_col: str = "payload", bins: int = 16) -> DataFrame:
    """mapInPandas over Arrow batches: binary -> normalized histogram.

    This is the canonical decode-and-featurize shape: executor-side
    vectorized loop, fixed-size float array out, no driver involvement.
    The per-payload work is numpy (``frombuffer`` + ``bincount``), never
    a per-byte Python loop — at real media sizes (MBs/payload) that loop
    is the difference between Arrow-speed and row-at-a-time Python.
    Fractions are emitted UNROUNDED (exact IEEE division counts/n):
    callers round with F.round, whose HALF_UP matches SQL engines, while
    Python/numpy round are half-even — rounding here would bake in a
    cross-engine mismatch.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        width = 256 // bins
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                if payload is None or len(payload) == 0:
                    rows.append((mid, 0, [0.0] * bins))
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr // width, minlength=bins)
                rows.append((mid, len(arr), (hist / len(arr)).tolist()))
            yield pd.DataFrame(rows, columns=["media_id", "n_bytes", "hist"])

    return media.select("media_id", payload_col).mapInPandas(run, HIST_SCHEMA)


def entropy_of_hist(hist_col) -> F.Column:
    """Shannon entropy (bits) of a normalized histogram column."""
    return F.aggregate(
        hist_col,
        F.lit(0.0),
        lambda acc, p: acc
        + F.when(p > 0, -p * F.log2(p)).otherwise(F.lit(0.0)),
    )


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table exercising the schema/partitioning."""
    df = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(
            F.concat(F.lit("payload-"), F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(seed))), 256)),
            "UTF-8",
        ).cast("binary").alias("payload"),
        F.lit("synthetic").alias("meta_format"),
        (F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(512)) + 16).alias("meta_width"),
        (F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(512)) + 16).alias("meta_height"),
    )
    return df


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def frame_sample(
    media: DataFrame, n_frames: int = 4, payload_col: str = "payload"
) -> DataFrame:
    """UDTF-shaped 1->N frame sampling plumbing: split each payload into
    ``n_frames`` contiguous chunks (deterministic stand-in for keyframe
    extraction — the real codec call would replace the slicing, the
    Arrow batch shape and fan-out stay identical).  Frame k of a
    b-byte payload is bytes [k*(b//n), (k+1)*(b//n)) with the remainder
    appended to the last frame; payloads shorter than ``n_frames``
    bytes emit one frame.

    Plumbing notes at real media scale: binary in/binary out through
    Arrow both ways, one output row per frame (pre-partition by
    media_id hash upstream if frames feed a keyed stage), zero
    driver involvement.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                b = b"" if payload is None else bytes(payload)
                if len(b) < n_frames:
                    rows.append((mid, 0, b))
                    continue
                size = len(b) // n_frames
                for k in range(n_frames):
                    end = (k + 1) * size if k < n_frames - 1 else len(b)
                    rows.append((mid, k, b[k * size : end]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return media.select("media_id", payload_col).mapInPandas(run, FRAME_SCHEMA)


def fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic resize stand-in: truncate/stride the byte stream to
    width*height bytes (a real implementation decodes, resamples and
    re-encodes; tests pin the plumbing with this)."""
    b = bytes(payload or b"")
    target = max(1, width * height)
    if len(b) <= target:
        return b
    step = len(b) // target
    return b[:: max(1, step)][:target]


def resize_media(
    media: DataFrame, width: int, height: int, payload_col: str = "payload"
) -> DataFrame:
    """Batch resize plumbing over mapInPandas: same schema out as in,
    payload replaced by the resized bytes and meta_width/meta_height
    updated.  Uses the real codec when available (HAVE_PIL), else the
    deterministic ``fake_resize`` — the stub boundary is the codec
    call only, never the Spark plumbing."""
    if HAVE_PIL:  # pragma: no cover - no image libs in this container
        raise NotImplementedError("wire PIL resize into the batch loop here")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out[payload_col] = [
                fake_resize(p, width, height) for p in out[payload_col]
            ]
            out["meta_width"] = width
            out["meta_height"] = height
            yield out

    return media.mapInPandas(run, media.schema)


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("hi", LongType()),
        StructField("lo", LongType()),
    ]
)


def phash64(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Average-hash perceptual fingerprint over the decoded byte stream
    (the aHash member of the pHash family): the payload (stand-in for
    decoded pixels — a real codec call slots in before the grid step,
    exactly like frame_sample's boundary) is truncated to 64 equal
    cells; bit i is set iff cell i's mean exceeds the global mean.

    The comparison is ALL-INTEGER (64 * cell_sum > total_sum — equal
    cell sizes cancel the denominators), so the bit pattern is exact
    and SQL-replayable; payloads shorter than 64 bytes hash to 0.

    -> (media_id, n_bytes, hi, lo): the 64 bits packed as two
    non-negative 32-bit halves (cells 0-31 -> hi, MSB-first; 32-63 ->
    lo) — xor + bit_count on the halves gives Hamming distance without
    int64 sign traps.

    Scale shape: one mapInPandas pass, numpy-vectorized per Arrow
    batch, no shuffle.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = (1 << np.arange(31, -1, -1)).astype(np.int64)
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                b = b"" if payload is None else bytes(payload)
                n = len(b)
                s = n // 64
                if s == 0:
                    rows.append((mid, n, 0, 0))
                    continue
                arr = np.frombuffer(b[: 64 * s], dtype=np.uint8)
                cells = arr.reshape(64, s).sum(axis=1, dtype=np.int64)
                total = int(cells.sum())
                bits = (64 * cells > total).astype(np.int64)
                hi = int((bits[:32] * w).sum())
                lo = int((bits[32:] * w).sum())
                rows.append((mid, n, hi, lo))
            yield pd.DataFrame(rows, columns=["media_id", "n_bytes", "hi", "lo"])

    return media.select("media_id", payload_col).mapInPandas(run, PHASH_SCHEMA)


def phash_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 6, n_blocks: int | None = None
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance
    (Manku-style pigeonhole blocking, the dedup.simhash_near_dup_pairs
    argument transplanted to the 64-bit aHash): two hashes within
    ``max_hamming`` bits MUST agree on at least one of
    ``max_hamming + 1`` disjoint bit blocks, so candidate generation
    is (k+1) equi-joins on ~9-bit block keys — complete, never an
    all-pairs scan; the verify step is xor + bit_count codegen per
    candidate.

    -> (id1, id2, hamming) with id1 < id2, hamming <= max_hamming.
    """
    k = max_hamming
    nb = n_blocks or (k + 1)
    if nb < k + 1:
        raise ValueError("need at least max_hamming + 1 blocks")
    h = hashes.select(
        F.col("media_id").alias("id"), "hi", "lo"
    )
    # block b covers bits [b*64//nb, (b+1)*64//nb) of the 64-bit key
    bounds = [b * 64 // nb for b in range(nb)] + [64]

    def block_key(b: int):
        s, e = bounds[b], bounds[b + 1]

        def bits_of(col, lo_bit, hi_bit):
            # bits [lo_bit, hi_bit) of a 32-bit half, MSB-first layout
            if lo_bit >= hi_bit:
                return F.lit(0).cast("bigint")
            shift = 32 - hi_bit
            width = hi_bit - lo_bit
            return F.shiftrightunsigned(col.cast("bigint"), shift) % F.lit(
                1 << width
            )

        hi_part = bits_of(F.col("hi"), min(s, 32), min(e, 32))
        lo_part = bits_of(F.col("lo"), max(s - 32, 0), max(e - 32, 0))
        lo_width = max(e, 32) - max(s, 32) if e > 32 else 0
        return hi_part * F.lit(1 << max(lo_width, 0)) + lo_part

    cands = None
    for b in range(nb):
        a = h.select(
            F.col("id").alias("id1"),
            F.col("hi").alias("hi1"),
            F.col("lo").alias("lo1"),
            block_key(b).alias("_bk"),
        )
        c = h.select(
            F.col("id").alias("id2"),
            F.col("hi").alias("hi2"),
            F.col("lo").alias("lo2"),
            block_key(b).alias("_bk"),
        )
        p = a.join(c, "_bk").filter(F.col("id1") < F.col("id2")).drop("_bk")
        cands = p if cands is None else cands.unionByName(p)
    ham = F.bit_count(
        F.col("hi1").bitwiseXOR(F.col("hi2"))
    ) + F.bit_count(F.col("lo1").bitwiseXOR(F.col("lo2")))
    return (
        cands.dropDuplicates(["id1", "id2"])
        .select("id1", "id2", ham.alias("hamming"))
        .filter(F.col("hamming") <= k)
    )


ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sum_b", LongType()),
        StructField("sumsq_b", LongType()),
    ]
)


def frame_energy(
    media: DataFrame, n_frames: int = 4, payload_col: str = "payload"
) -> DataFrame:
    """Per-frame energy statistics over the decoded byte stream (the
    audio/video feature-extraction shape: silence detection, scene
    cuts, loudness normalization all start from per-frame
    mean/variance; the real codec decode slots in before the frame
    split, exactly the frame_sample boundary).  Emits EXACT integer
    byte sums so the derived mean/variance replay with no float
    accumulation drift.

    -> (media_id, frame_idx, n_bytes, sum_b, sumsq_b); mean =
    sum_b / n_bytes, var = sumsq_b/n - mean² — caller-side algebra.

    Scale shape: one mapInPandas pass, numpy-vectorized, frames
    partitioned exactly like frame_sample's output.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf[payload_col]):
                b = b"" if payload is None else bytes(payload)
                if len(b) < n_frames:
                    arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                    rows.append(
                        (mid, 0, len(b), int(arr.sum()), int((arr * arr).sum()))
                    )
                    continue
                size = len(b) // n_frames
                for f in range(n_frames):
                    end = (f + 1) * size if f < n_frames - 1 else len(b)
                    arr = np.frombuffer(
                        b[f * size : end], dtype=np.uint8
                    ).astype(np.int64)
                    rows.append(
                        (
                            mid,
                            f,
                            int(arr.size),
                            int(arr.sum()),
                            int((arr * arr).sum()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "n_bytes", "sum_b", "sumsq_b"],
            )

    return media.select("media_id", payload_col).mapInPandas(
        run, ENERGY_SCHEMA
    )
