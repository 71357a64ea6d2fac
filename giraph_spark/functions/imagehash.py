"""Perceptual image hashing + near-duplicate detection — the image
half of the dedup story (the text half is ``functions/dedup.py``):
multimodal training sets carry the same photo re-encoded, resized, or
lightly recompressed thousands of times, and byte-level hashing can
never catch that. dHash (difference hash: downsample to a 9x8
grayscale grid, emit one bit per horizontal gradient sign) is the
standard cheap perceptual fingerprint — robust to re-encode/resize,
64 bits, Hamming distance ≈ visual distance.

Scale shape mirrors the text tier exactly: the hash is ONE
Arrow-batched ``mapInPandas`` pass over payload bytes (the only place
Python touches a pixel — decode via the package's own zero-dep BMP/
PNG/JPEG/GIF codecs, ``media_codecs``, plus lossless-WebP VP8L,
``webp``), and near-dup candidate
generation is LSH banding — the 64-bit hash splits into four 16-bit
bands, a pair is a candidate iff it collides on ANY band (guaranteed
for Hamming ≤ 3 by pigeonhole; overwhelmingly likely for ≤ 8), and
candidates verify with one JVM-side ``bit_count(xor)``. Nothing is
all-pairs; shuffle ∝ band-bucket sizes, same as
``minhash_lsh_pairs`` / ``simhash_near_pairs``.

Reference parity note: the reference engine has no image tier; this
extends the LLM-data-pipeline surface (dedup family) the same way the
WARC/CDX sources extend ingestion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lsh import band_pairs, explode_bands

#: output schema of :func:`image_dhash` — bands ride along so the
#: near-dup join never has to shift a SIGNED long (band extraction
#: happens in Python on the unsigned value, sign-safety by design)
DHASH_SCHEMA = (
    "media_id long, width int, height int, dhash long, "
    "b0 int, b1 int, b2 int, b3 int, error string"
)


def u64_hash_fields(u: int) -> tuple:
    """``(signed, b0, b1, b2, b3)`` of an unsigned 64-bit fingerprint
    — the one two's-complement + band-extraction rule every tier's
    Arrow loop (image dHash, audio contour) must agree on; a fix here
    reaches them all."""
    signed = u - (1 << 64) if u >= 1 << 63 else u
    return (
        signed,
        u & 0xFFFF,
        (u >> 16) & 0xFFFF,
        (u >> 32) & 0xFFFF,
        (u >> 48) & 0xFFFF,
    )


def _decode_gray(payload: bytes):
    """payload bytes → float grayscale array (h, w): sniff the format
    by magic bytes and decode through the package's zero-dep codecs;
    gray = per-pixel channel mean (fixtures and re-encodes with equal
    channels are exact under any luma convention)."""
    from .media_codecs import (
        PNG_SIGNATURE,
        parse_bmp_pixels,
        parse_gif_pixels,
        parse_jpeg_pixels,
        parse_png_pixels,
    )
    from .webp import parse_webp_pixels

    if payload[:8] == PNG_SIGNATURE:
        h, w, px = parse_png_pixels(payload)
    elif payload[:2] == b"\xff\xd8":
        h, w, px = parse_jpeg_pixels(payload)
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        h, w, px = parse_gif_pixels(payload)
    elif payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # lossless VP8L decodes (r12); lossy VP8 raises with a clear
        # out-of-scope message -> error row, never fabricated pixels
        h, w, px = parse_webp_pixels(payload)
    else:
        h, w, px = parse_bmp_pixels(payload)
    return px.reshape(h, w, -1).mean(axis=2)


def dhash64(gray) -> int:
    """9x8-grid difference hash of a float grayscale array as an
    UNSIGNED 64-bit int: bit ``r*8 + c`` is set iff
    ``grid[r, c+1] > grid[r, c]``. The grid is the image itself at
    exactly 9x8; an integer multiple downsamples by exact block
    averaging; anything else samples the nearest source pixel at
    ``floor(k*w/9), floor(r*h/8)`` (deterministic, no interpolation
    dependency to pin)."""
    import numpy as np

    h, w = gray.shape
    if (h, w) == (8, 9):
        grid = gray
    elif h % 8 == 0 and w % 9 == 0:
        grid = gray.reshape(8, h // 8, 9, w // 9).mean(axis=(1, 3))
    else:
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(9) * w) // 9
        grid = gray[np.ix_(ys, xs)]
    bits = grid[:, 1:] > grid[:, :-1]  # (8, 8)
    val = 0
    for r in range(8):
        for c in range(8):
            if bits[r, c]:
                val |= 1 << (r * 8 + c)
    return val


def image_dhash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_bytes: int = 64 << 20,
) -> DataFrame:
    """Perceptual fingerprints for an image relation:
    ``(media_id, width, height, dhash, b0..b3, error)`` — ``dhash``
    is the signed-long two's-complement form of :func:`dhash64` (what
    fits a Spark ``long``), ``b0..b3`` its four 16-bit LSH bands
    extracted from the unsigned value. One Arrow-batched pass;
    undecodable or oversized payloads yield a null-hash row with
    ``error`` set (the codecs' no-fake contract — a corrupt image
    must never abort the corpus job)."""
    import pandas as pd

    cols = df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).alias("_payload"),
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["_payload"]):
                mid = None if pd.isna(mid) else int(mid)
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    b = bytes(payload)
                    if len(b) > max_bytes:
                        raise ValueError(f"payload over {max_bytes} bytes")
                    gray = _decode_gray(b)
                    h, w = gray.shape
                    signed, b0, b1, b2, b3 = u64_hash_fields(dhash64(gray))
                    rows.append([mid, w, h, signed, b0, b1, b2, b3, None])
                except Exception as ex:  # noqa: BLE001 - error-row contract
                    rows.append(
                        [mid, None, None, None, None, None, None, None,
                         f"{type(ex).__name__}: {ex}"]
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "dhash",
                    "b0", "b1", "b2", "b3", "error",
                ],
            )

    return cols.mapInPandas(run, schema=DHASH_SCHEMA)


def dhash_near_duplicates(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-duplicate image pairs from an :func:`image_dhash`
    relation: ``(id_a, id_b, hamming)`` with ``id_a < id_b`` and
    Hamming distance ≤ ``max_hamming`` —
    :func:`banded_hamming_pairs` over the ``dhash`` column."""
    return banded_hamming_pairs(
        hashes, max_hamming=max_hamming, id_col=id_col, hash_col="dhash"
    )


def banded_hamming_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Near-duplicate pairs for ANY 64-bit perceptual fingerprint
    relation carrying ``(id, <hash_col>, b0..b3, error)`` — shared by
    the image (:func:`image_dhash`) and audio
    (``audiohash.audio_fingerprint``) tiers: ``(id_a, id_b, hamming)``
    with ``id_a < id_b`` and Hamming ≤ ``max_hamming``. Candidates
    come from the four 16-bit band buckets (any-band collision —
    complete for ``max_hamming`` ≤ 3 by pigeonhole, the standard
    recall trade above that, identical to the SimHash tier's
    contract); the exact distance check is one JVM-side
    ``bit_count(xor)`` per candidate. Shuffle ∝ band-bucket sizes — a
    degenerate corpus (all-black thumbnails, silence) makes one giant
    bucket, the same documented skew the text LSH tiers carry.

    ``key_cols`` (r12) restricts candidacy to rows AGREEING on those
    columns (they join alongside the band key and ride along in the
    output) — the frame-aligned video tier
    (``framehash.frame_near_duplicates``) banding per
    ``frame_index`` through the same machinery instead of a fork."""
    if not 0 <= max_hamming <= 64:
        raise ValueError(
            f"banded_hamming_pairs: max_hamming in [0, 64], got {max_hamming}"
        )
    h = hashes.where(F.col("error").isNull())
    buckets = [F.col(f"b{i}") for i in range(4)]
    cand = band_pairs(
        explode_bands(h, [id_col, *key_cols, hash_col], buckets),
        id_col,
        key_cols,
        (hash_col,),
    )
    dist = F.bit_count(F.col(f"{hash_col}_a").bitwiseXOR(F.col(f"{hash_col}_b")))
    return cand.select(
        "id_a", "id_b", *key_cols, dist.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)
