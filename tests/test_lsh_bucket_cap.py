"""The ``max_bucket`` occupancy guard on both LSH candidate funnels
(round 15). The scale probe's x2/x4 points measured the funnels'
documented-but-previously-unmeasured quadratic term (q72 candidate
pairs 9.1k → 31.8k → 128k for 5k → 10k → 20k docs; q80 'neardup'
growth exponent ~1.5): candidate volume is Σ_buckets c·(c-1)/2, and a
corpus dense at the collision threshold grows it as ~n². The guard
drops over-occupied buckets BEFORE the pair join — the standard
production LSH skew cap, with an explicit recall trade. Default None
must keep the exact (oracle-checked) semantics.
"""

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bigdatabowl2024_25_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidates,
)
from bigdatabowl2024_25_spark.operators.similarity import lsh_near_dup
from bigdatabowl2024_25_spark.sources.io import literal_df

_SIG_SCHEMA = "doc_id long, " + ", ".join(
    f"mh_{i} long" for i in range(8)
)


def _sigs(spark):
    """12 docs with one shared signature (a mega-bucket in every band)
    plus 2 docs sharing only band 0 between themselves."""
    rows = [tuple([i] + [7, 7, 13, 13, 19, 19, 23, 23]) for i in range(12)]
    rows += [
        (100, 1, 2, 30, 31, 32, 33, 34, 35),
        (101, 1, 2, 40, 41, 42, 43, 44, 45),
    ]
    return literal_df(spark, rows, _SIG_SCHEMA)


def test_minhash_cap_drops_only_mega_bucket_pairs(spark):
    sigs = _sigs(spark)
    full = lsh_candidates(sigs, "doc_id")
    assert full.count() == 12 * 11 // 2 + 1
    capped = lsh_candidates(sigs, "doc_id", max_bucket=5)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # the 66 mega-bucket pairs are gone; the small-bucket pair stays
    assert got == {(100, 101)}


def test_minhash_cap_at_occupancy_boundary(spark):
    sigs = _sigs(spark)
    # cap == occupancy keeps the bucket (<=, not <)
    assert lsh_candidates(sigs, "doc_id", max_bucket=12).count() == 67


def _vectors(spark):
    """10 identical vectors (one bucket per table) and 2 identical
    vectors of the OPPOSITE sign — complementary sign pattern on every
    hyperplane, so the two groups can never share a bucket."""
    v = [1.0, -0.5, 0.25, 2.0]
    w = [-x for x in v]
    rows = [(i, v) for i in range(10)] + [(100, w), (101, w)]
    return literal_df(spark, rows, "vec_id long, embedding array<float>")


def test_near_dup_cap_drops_only_mega_bucket_pairs(spark):
    e = _vectors(spark)
    kw = dict(threshold=0.5, planes=6, tables=2, dims=4)
    full = lsh_near_dup(e, "vec_id", "embedding", **kw)
    assert full.count() == 10 * 9 // 2 + 1
    capped = lsh_near_dup(
        e, "vec_id", "embedding", max_bucket=5, **kw
    )
    got = {(r.q_id, r.d_id) for r in capped.collect()}
    assert got == {(100, 101)}
    # and the surviving pair is still exactly scored
    [row] = capped.collect()
    assert abs(row.cosine - 1.0) < 1e-9


def test_near_dup_cap_boundary_keeps_all(spark):
    e = _vectors(spark)
    kw = dict(threshold=0.5, planes=6, tables=2, dims=4)
    assert (
        lsh_near_dup(e, "vec_id", "embedding", max_bucket=10, **kw).count()
        == 46
    )


_HOT = "alpha beta gamma delta epsilon zeta"
_COLD = "one two three four five six"


def test_incremental_cap_on_total_occupancy_state_complete(spark):
    from bigdatabowl2024_25_spark.operators.dedup import (
        incremental_lsh_candidates,
    )

    empty = literal_df(spark, [], "doc long, band_key string")
    hist = literal_df(
        spark,
        [(i, _HOT) for i in range(10)],
        "doc_id long, text string",
    )
    _, hist_banded = incremental_lsh_candidates(hist, empty, "doc_id")
    new = literal_df(
        spark,
        [(100, _HOT), (200, _COLD), (201, _COLD)],
        "doc_id long, text string",
    )
    full, _ = incremental_lsh_candidates(new, hist_banded, "doc_id")
    # doc 100 pairs with all 10 history docs; 200-201 pair in-batch
    assert full.count() == 11
    capped, nb = incremental_lsh_candidates(
        new, hist_banded, "doc_id", max_bucket=5
    )
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # total occupancy of the hot key is 10 + 1 > 5 -> its pairs drop;
    # the cold key holds 2 <= 5 -> its pair survives
    assert got == {(200, 201)}
    # the returned state is NEVER capped: persisted LSH history must
    # stay exact for future batches
    assert nb.count() == 3 * 4  # 3 docs x 4 bands


_D1 = 0x1111_2222_3333_4444
_D2 = 0x0123_4567_89AB_CDEF


def test_phash_cap_drops_only_mega_bucket_pairs(spark):
    from bigdatabowl2024_25_spark.operators.phash import phash_near_dup

    rows = [(i, _D1) for i in range(12)] + [(100, _D2), (101, _D2)]
    hashes = literal_df(spark, rows, "media_id long, dhash long")
    assert phash_near_dup(hashes).count() == 12 * 11 // 2 + 1
    capped = phash_near_dup(hashes, max_bucket=5)
    assert {(r.id_a, r.id_b) for r in capped.collect()} == {(100, 101)}


def test_incremental_phash_cap_state_complete(spark):
    from bigdatabowl2024_25_spark.operators.phash import (
        incremental_phash_candidates,
    )

    state = literal_df(
        spark, [(i, _D1) for i in range(10)], "doc long, dhash long"
    )
    new = literal_df(
        spark,
        [(100, _D1), (200, _D2), (201, _D2)],
        "media_id long, dhash long",
    )
    full, _ = incremental_phash_candidates(new, state)
    assert full.count() == 11
    capped, nr = incremental_phash_candidates(new, state, max_bucket=5)
    assert {(r.id_a, r.id_b) for r in capped.collect()} == {(200, 201)}
    assert nr.count() == 3  # new_rows never capped


def test_video_cap_drops_only_mega_bucket_pairs(spark):
    from bigdatabowl2024_25_spark.operators.phash import video_near_dup

    # 12 single-frame clips sharing one hash; two 2-frame clips
    # sharing a distinct pair of hashes (offset-0 twins)
    rows = [(i, 0, _D1) for i in range(12)]
    rows += [(100, 0, _D2), (100, 1, _D2 + 1),
             (101, 0, _D2), (101, 1, _D2 + 1)]
    fh = literal_df(spark, rows, "media_id long, frame long, dhash long")
    full = video_near_dup(fh, min_matching_frames=1)
    assert full.count() == 12 * 11 // 2 + 1
    capped = video_near_dup(fh, min_matching_frames=1, max_bucket=5)
    got = {(r.id_a, r.id_b, r.offset, r.n_match) for r in capped.collect()}
    assert got == {(100, 101, 0, 2)}


_PKG = Path(__file__).resolve().parent.parent / "bigdatabowl2024_25_spark"

#: the steps every bucket funnel shares, each of which must have ONE
#: implementation (`operators/banding.py`): the occupancy cap, the
#: bucket self-join, the new x pool probe and the dhash band explode
_BANDING_STEPS = {
    "occupancy cap": r'"__occ"',
    "bucket self-join": r'\.doc"\)\s*<\s*F\.col\("\w+\.doc"\)',
    "incremental probe": r'\.doc"\)\s*!=\s*F\.col\("\w+\.doc"\)',
    "hash band explode": r'\.alias\("band"\)',
}


@pytest.mark.parametrize("step", sorted(_BANDING_STEPS))
def test_banding_steps_live_only_in_banding_module(step):
    """A seventh hand-written copy of a funnel step fails here: build
    it from `operators.banding` instead. Source grep, no Spark."""
    pattern = re.compile(_BANDING_STEPS[step])
    homes = sorted(
        str(p.relative_to(_PKG))
        for p in _PKG.rglob("*.py")
        if pattern.search(p.read_text())
    )
    assert homes == ["operators/banding.py"], (step, homes)


def test_jaccard_pairs_rejects_zero_threshold():
    """Zero-overlap candidates score 0.0, so threshold 0 would pass
    every candidate; the guard fires before any plan is built."""
    with pytest.raises(ValueError, match="threshold must be > 0"):
        jaccard_pairs(None, None, "doc_id", threshold=0)
