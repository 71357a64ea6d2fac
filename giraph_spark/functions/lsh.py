"""LSH blocking: the one band/bucket step every near-duplicate tier
shares.

Each tier sketches its rows (MinHash signature, SimHash, hyperplane
bits, dHash bands), keys every band of the sketch to a bucket, and
verifies only the rows that share a ``(band, bucket)``, so candidate
generation is an equi-join bounded by bucket sizes, never all-pairs:

- :func:`explode_bands` — the ``(band, bucket)`` relation, one row per
  band of each input row;
- :func:`minhash_band_keys` — the MinHash band-key rule, and
  :func:`bit_bands` — fixed-width bit fields of a packed long sketch;
- :func:`minhash_bands` — the batch MinHash blocking relation, with
  the bucket-size cap;
- :func:`band_pairs` — the ``id_a < id_b`` self-join candidates;
- :func:`est_jaccard` — the signature-agreement estimate of Jaccard.

It lives apart from ``hashing`` so that an edit here re-flags only the
keys that block on LSH, not every key that hashes an id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def explode_bands(
    df: DataFrame, keep: list[str], buckets: list[Column]
) -> DataFrame:
    """``(*keep, band, bucket)``: one row per band of each row of ``df``,
    band ``b`` (an int) keyed by ``buckets[b]``."""
    bb = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("band"), key.alias("bucket"))
                for b, key in enumerate(buckets)
            ]
        )
    ).alias("_bb")
    return df.select(*keep, bb).select(
        *keep, F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket")
    )


def minhash_band_keys(
    num_hashes: int, bands: int, portable: bool = False
) -> list[Column]:
    """Band ``b`` of the ``sig`` column covers ``num_hashes // bands``
    consecutive positions; its key is their values joined by ``,`` —
    the raw string when ``portable`` (engine-neutral, so a SQL oracle
    replays the candidate set), else that string's xxhash64 long."""
    rows = num_hashes // bands
    keys = []
    for b in range(bands):
        joined = F.concat_ws(
            ",", *[F.col("sig").getItem(b * rows + r).cast("string") for r in range(rows)]
        )
        keys.append(joined if portable else F.xxhash64(joined))
    return keys


def minhash_bands(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    portable: bool,
    max_bucket: int,
) -> DataFrame:
    """The batch MinHash blocking relation ``(id, band, bucket)`` of an
    ``(id, sig)`` frame: string bucket keys, buckets above
    ``max_bucket`` rows dropped."""
    keys = minhash_band_keys(num_hashes, bands, portable)
    if not portable:
        keys = [key.cast("string") for key in keys]
    banded = explode_bands(sig, [id_col], keys)
    # a bucket nearly every row falls into (empty documents) carries no
    # signal and would make the candidate join quadratic
    sizes = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("bs"))
    return banded.join(
        sizes.where(F.col("bs") <= max_bucket), on=["band", "bucket"], how="left_semi"
    )


def bit_bands(col: str, bands: int, bits: int) -> list[Column]:
    """The ``bands`` low ``bits``-bit fields of the long column ``col``
    (unsigned shifts, so the sign bit is an ordinary bit)."""
    mask = (1 << bits) - 1
    return [
        F.shiftrightunsigned(F.col(col), b * bits).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]


def band_pairs(
    banded: DataFrame,
    id_col: str,
    keys: tuple[str, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct candidate pairs ``(id_a, id_b, *keys, <c>_a, <c>_b for c
    in carry)`` with ``id_a < id_b`` of the rows of ``banded`` that
    share a ``(band, bucket)`` and agree on every column of ``keys``.
    ``carry`` columns ride along from both sides for the caller's
    exact check; ids are assumed to name one row per ``keys`` value."""
    a, b = banded.alias("a"), banded.alias("b")
    on = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in ("band", "bucket", *keys)]
    on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        a.join(b, reduce(Column.__and__, on))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{c}").alias(c) for c in keys],
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
        .dropDuplicates(["id_a", "id_b", *keys])
    )


def est_jaccard(sig_a: str, sig_b: str, num_hashes: int) -> Column:
    """Estimated Jaccard of two MinHash signatures: the share of their
    ``num_hashes`` positions that agree, rounded to 6 places."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m))
    return F.round(agree / F.lit(float(num_hashes)), 6)
