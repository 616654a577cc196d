"""Bucket funnels: the one place that knows how LSH candidates are built.

Every near-dup funnel in the engine has the same shape — rows of
(doc, bucket key columns, carried columns) → optional occupancy cap →
bucket join → ordered id pair — whatever the bucket key is:

- MinHash band keys (`dedup.lsh_candidates`,
  `dedup.incremental_lsh_candidates`);
- 16-bit slices of a 64-bit perceptual hash (`phash.phash_near_dup`,
  `phash.incremental_phash_candidates`, `phash.video_near_dup`);
- hyperplane sign buckets (`similarity.lsh_near_dup`).

This module owns those steps; verify, `distinct`/`dropDuplicates` and
broadcast hints stay with the callers (pass `F.broadcast(new)` to
`probe_pairs` to keep the hint), so each funnel's dedup order and plan
is exactly its own.

Every banded frame names its document id ``doc``. Pairs come back as
``id_a < id_b``; a carried column ``c`` comes back once per side.

The occupancy cap (`cap_occupancy`) is the production LSH skew guard:
candidate volume is Σ_buckets c·(c-1)/2, and a corpus dense at the
collision threshold (tiny shared vocabulary, boilerplate, flat-colour
frames, near-constant regions of the sphere) grows that sum as ~n²
even though every single bucket stays modest — the round-15 scale
probe measured q72 candidates 9.1k → 31.8k → 128k for 5k → 10k → 20k
docs. Buckets holding more than ``max_bucket`` rows are dropped BEFORE
the pair join: such a bucket is near-constant content whose pairs
flood the verify stage with near-zero information. The recall trade is
documented: a pair whose ONLY shared bucket is over-occupied is lost;
real near-dups collide in several buckets and survive. ``None`` (every
funnel's default) keeps exact, oracle-checked semantics. The occupancy
aggregate groups on the same keys as the pair join, so it rides the
join's hash partitioning — no extra shuffle of the banded relation.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cap_occupancy(
    banded: DataFrame, keys: Sequence[str], max_bucket: int | None
) -> DataFrame:
    """`banded` without the rows of buckets (equal `keys`) holding more
    than `max_bucket` rows; `banded` itself when `max_bucket` is None.
    A bucket at exactly `max_bucket` rows is kept."""
    if max_bucket is None:
        return banded
    occ = (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("__occ"))
        .filter(F.col("__occ") <= max_bucket)
        .select(*keys)
    )
    return banded.join(occ, list(keys))


def _same_bucket(x: str, y: str, keys: Sequence[str]) -> Column:
    return reduce(
        lambda acc, c: acc & c,
        [F.col(f"{x}.{k}") == F.col(f"{y}.{k}") for k in keys],
    )


def bucket_pairs(
    banded: DataFrame, keys: Sequence[str], carry: Sequence[str] = ()
) -> DataFrame:
    """The bucket self-join: every pair of rows sharing `keys`, with
    ``id_a < id_b`` — never all-pairs, never a pair twice per bucket.
    Returns (id_a, id_b, c_a, c_b for each c in `carry`); a pair
    colliding in several buckets appears once per bucket."""
    a, b = banded.alias("a"), banded.alias("b")
    return a.join(
        b, _same_bucket("a", "b", keys) & (F.col("a.doc") < F.col("b.doc"))
    ).select(
        F.col("a.doc").alias("id_a"),
        F.col("b.doc").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )


def probe_pairs(
    new: DataFrame,
    pool: DataFrame,
    keys: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """The incremental probe: each `new` row against every `pool` row
    (history ∪ batch) sharing `keys`, never history×history. A row
    never pairs with itself; ids come back ordered (id_a = least,
    id_b = greatest), so an in-batch pair appears once per join
    ordering. Returns (id_a, id_b, c_n, c_p for each c in `carry`)."""
    n, p = new.alias("n"), pool.alias("p")
    return n.join(
        p, _same_bucket("n", "p", keys) & (F.col("n.doc") != F.col("p.doc"))
    ).select(
        F.least("n.doc", "p.doc").alias("id_a"),
        F.greatest("n.doc", "p.doc").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "np"],
    )


def hash_bands(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bands: int,
    carry: Sequence[str] = (),
) -> DataFrame:
    """(doc, h, *carry, band, key) rows, `bands` per input row: h is
    the 64-bit `hash_col` and key its band-th (64/`bands`)-bit slice
    (arithmetic shift + mask — identical bits in any BIGINT engine).
    By pigeonhole, two hashes within Hamming distance < `bands` share
    at least one clean band."""
    assert 64 % bands == 0, "bands must divide 64"
    width = 64 // bands
    h = F.col(hash_col)
    slices = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(h, i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("key"),
        )
        for i in range(bands)
    ]
    return df.select(
        F.col(id_col).alias("doc"),
        h.alias("h"),
        *carry,
        F.explode(F.array(*slices)).alias("__bk"),
    ).select("doc", "h", *carry, "__bk.band", "__bk.key")
