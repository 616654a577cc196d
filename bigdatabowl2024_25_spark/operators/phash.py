"""Perceptual-hash (dHash) near-duplicate detection for image
columns — the multimodal leg of the dedup story (round-9 VERDICT
item 4: the engine had text near-dup and real image codecs, but no
image near-dup).

Reference scope: the reference dedups rows/text only (its R
`distinct` passes); image near-dup is the training-data extension —
the pass that collapses re-encoded/resized/brightness-shifted copies
of the same picture across a crawl.

Algorithm (dHash, the standard difference hash):
1. decode the payload (PNG/JPEG via the first-party codecs in
   `multimodal.decode_png` / `jpeg.decode_jpeg`);
2. grayscale = channel mean (float64, exact for uint8 inputs);
3. area-average resize to (hash_size+1) × hash_size — reduceat over
   floor-boundary blocks, deterministic for any input size, identity
   when the input is already the target geometry;
4. bit (y, x) = pooled(y, x+1) > pooled(y, x), packed row-major into
   one signed int64 (bit 63 two's-complement, portable to any BIGINT
   engine).

dHash is invariant to uniform brightness shifts (differences are
unchanged) and robust to small local noise (each bit pools
~(H/8)·(W/8) pixels), which is exactly the re-encode/resize family of
near-duplicates.

Spark shape, 100 TB posture (the text-funnel discipline applied to
images):
- decode+hash is ONE `mapInPandas` pass over Arrow batches — the only
  Python, because the decoder is; payloads are read once and never
  shuffle (the hash is computed where the bytes live).
- candidate generation is LSH banding on the 64-bit hash: `bands`
  16-bit slices as join keys (`phash_near_dup`), so candidate volume
  is bucket-bounded and the corpus NEVER pays an all-pairs cross
  join. By pigeonhole, a pair within Hamming distance < `bands` is
  GUARANTEED to share a clean band; beyond that recall decays
  (documented, same trade as MinHash banding).
- verification is `bit_count(a ^ b)` on the 8-byte hashes — pure
  codegen, no payload re-read.
- survivors follow the q75 pattern: candidate pairs →
  `components.connected_components` → keep each cluster's min id.

Driver verification: q94's 'dhash64'/'dhash' branches derive the
hashes, band keys, candidate pairs, and Hamming distances of a
formula-generated 9×8 image set independently in DuckDB SQL (identity
resize), so decode fidelity, grayscale, bit packing, banding, and the
Hamming verify are all value-hash-checked; the resize path and
recall-on-planted-near-dups are pytest-side (tests/test_phash.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .banding import bucket_pairs, cap_occupancy, hash_bands, probe_pairs


def gray_f64(arr: np.ndarray) -> np.ndarray:
    """Channel-mean grayscale in float64 (exact for uint8 inputs:
    sums of ≤4 values ≤255 are exact, one division)."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=-1)
    return a


def area_resize(a: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area-average resize: block means over
    floor-boundary partitions (np.add.reduceat), the blockwise-exact
    pooling OpenCV's INTER_AREA approximates. Identity when the input
    already has the target geometry. Requires input ≥ target in both
    axes (images smaller than the 9×8 hash grid carry no structure
    worth hashing — raise rather than invent upsampled bits)."""
    h, w = a.shape
    if (h, w) == (out_h, out_w):
        return a
    if h < out_h or w < out_w:
        raise ValueError(
            f"area_resize: input {h}x{w} smaller than target "
            f"{out_h}x{out_w}"
        )
    rb = (np.arange(out_h, dtype=np.int64) * h) // out_h
    cb = (np.arange(out_w, dtype=np.int64) * w) // out_w
    sums = np.add.reduceat(np.add.reduceat(a, rb, axis=0), cb, axis=1)
    rc = np.diff(np.append(rb, h)).astype(np.float64)
    cc = np.diff(np.append(cb, w)).astype(np.float64)
    return sums / rc[:, None] / cc[None, :]


def dhash64(img: np.ndarray, hash_size: int = 8) -> int:
    """The 64-bit dHash of one decoded image (any dtype/channels):
    row-major bit b = y*hash_size + x set iff pooled(y, x+1) >
    pooled(y, x); returned as SIGNED int64 (two's complement for bit
    63) so the value round-trips any BIGINT engine."""
    g = area_resize(gray_f64(img), hash_size, hash_size + 1)
    bits = (g[:, 1:] > g[:, :-1]).flatten()
    acc = np.uint64(0)
    for b, v in enumerate(bits):
        if v:
            acc |= np.uint64(1) << np.uint64(b)
    return int(acc.astype(np.int64))


def dhash_images(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    codec: str = "png",
    hash_size: int = 8,
) -> DataFrame:
    """(id, dhash) for a binary image column: decode + grayscale +
    pool + pack in ONE mapInPandas pass (Python only because the
    decoder is; the payload never shuffles — the 8-byte hash does).
    NULL payloads emit no row, like every decode-based operator
    here."""
    from .jpeg import decode_jpeg
    from .multimodal import decode_png

    decoder = {"png": decode_png, "jpeg": decode_jpeg}[codec]
    schema = f"{id_col} long, dhash long"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hs = [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                ids.append(int(mid))
                hs.append(dhash64(decoder(bytes(payload)), hash_size))
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"),
                 "dhash": pd.Series(hs, dtype="int64")}
            )

    return df.select(id_col, payload_col).mapInPandas(
        batches, schema=schema
    )


#: the (band, key) bucket columns `banding.hash_bands` explodes
_KEYS = ["band", "key"]


def _hamming(a: str, b: str) -> Column:
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b))).cast("int")


def phash_near_dup(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    bands: int = 4,
    max_hamming: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate image pairs from 64-bit perceptual hashes:
    explode each hash into `bands` 16-bit band keys
    (`banding.hash_bands`), self-join on (band, key) with id_a < id_b,
    distinct, then verify Hamming ≤ `max_hamming` via codegen
    `bit_count(xor)`. Returns (id_a, id_b, hamming).

    Never all-pairs: both sides shuffle 8-byte keys only, candidate
    volume is bucket-bounded (the q80 'neardup' discipline). Recall:
    pairs with Hamming < `bands` are caught with certainty
    (pigeonhole — some band has no flipped bit); above that, only if
    the flips cluster inside few bands.

    ``max_bucket``: the `banding.cap_occupancy` cap. Here the
    quadratic term is STRUCTURAL, not corpus-dependent — the band key
    space is fixed at 2^16, so per-bucket occupancy grows ∝ n/65536 no
    matter what, and Σc² has an n²/(bands·2^16) floor (at 10⁸ images
    that is ~10¹¹ candidate pairs); flat-color frames, logo cards and
    test patterns are the image analog of boilerplate. Default None
    keeps exact semantics."""
    banded = cap_occupancy(
        hash_bands(hashes, id_col, hash_col, bands), _KEYS, max_bucket
    )
    cand = bucket_pairs(banded, _KEYS, ["h"]).distinct()
    return (
        cand.withColumn("hamming", _hamming("h_a", "h_b"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_phash_candidates(
    new_hashes: DataFrame,
    state: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    bands: int = 4,
    max_hamming: int = 6,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The daily-crawl loop for IMAGES — the phash sibling of
    `dedup.incremental_lsh_candidates` (text bands) and
    `similarity.incremental_ivf_near_dup` (embeddings): pair a new
    batch's dhashes against the running state, never history×history.

    `state` is the append-only (doc bigint, dhash bigint) table of
    KEPT history images — 16 bytes per image; payloads never reload.
    Returns (pairs, new_rows): pairs (id_a, id_b, hamming) with
    id_a < id_b over new×(history ∪ new) band collisions, Hamming ≤
    `max_hamming`; new_rows is the batch's (doc, dhash) rows — the
    caller appends only the KEPT docs' rows (the ghost rule: a
    dropped newcomer's state row would collide tomorrow's batch with
    a ghost).

    100 TB shape: the batch side explodes ×`bands` 8-byte keys and
    BROADCASTS; history is scanned in place (band keys derived in the
    scan projection — with the state bucketed by dhash prefix the
    probe prunes). Verify is codegen bit_count(xor).

    ``max_bucket``: the `banding.cap_occupancy` cap on total
    (history + batch) occupancy, as in
    `dedup.incremental_lsh_candidates` — a 16-bit band key the crawl
    keeps hitting (flat frames, logo cards) accumulates history
    occupancy without bound. Candidate generation only; `new_rows` is
    always returned complete (persisted state must stay exact)."""
    new_rows = new_hashes.select(
        F.col(id_col).alias("doc"), F.col(hash_col).alias("dhash")
    )
    nb = hash_bands(new_rows, "doc", "dhash", bands)
    # capping the pool side alone suffices: every pair (history AND
    # in-batch) needs a pool row on the over-occupied key
    pool = cap_occupancy(
        hash_bands(state, "doc", "dhash", bands).unionByName(nb),
        _KEYS,
        max_bucket,
    )
    # hamming BEFORE distinct: a within-batch pair appears in both
    # join orderings (n=a,p=b and n=b,p=a), so a distinct spanning the
    # side-tagged hash columns kept BOTH — one duplicate row per
    # unequal-hash in-batch pair. XOR is symmetric, so deduping on
    # (id_a, id_b, hamming) collapses the orderings. Caught by the
    # round-10 q94 'dincr' driver branch — the pytest replays only
    # used exact twins (hamming 0 ⇒ equal hashes ⇒ orderings already
    # identical), exactly the blind spot a value-hash oracle closes.
    pairs = (
        probe_pairs(F.broadcast(nb), pool, _KEYS, ["h"])
        .select("id_a", "id_b", _hamming("h_n", "h_p").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs, new_rows


def phash_survivors(
    media: DataFrame,
    pairs: DataFrame,
    id_col: str = "media_id",
) -> DataFrame:
    """The deduplicated image set (q75's pattern at image granularity):
    a row survives iff it is in no near-dup cluster or is its
    cluster's min-id keeper. The component table is
    contamination-sized and broadcasts; the media table never
    shuffles."""
    from .components import connected_components

    comp = connected_components(pairs.select("id_a", "id_b"))
    return (
        media.join(
            F.broadcast(comp), media[id_col] == comp["node"], "left"
        )
        .filter(
            F.col("node").isNull() | (F.col("component") == F.col(id_col))
        )
        .drop("node", "component")
    )


def dhash_video_frames(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    every_n: int = 1,
    hash_size: int = 8,
) -> DataFrame:
    """(id, frame, dhash) for a binary MJPEG-AVI column — the video
    leg of the perceptual funnel. Frames are sampled container-side
    (`media_av.sample_avi_frames` slices chunk lists BEFORE the JPEG
    decode — the row-group-pruning analogue), so skipped frames are
    never decoded; each kept frame gets the same `dhash64` the image
    leg uses. One mapInPandas pass; payloads never shuffle — the
    (frame, 8-byte hash) rows do."""
    from .media_av import sample_avi_frames

    schema = f"{id_col} long, frame long, dhash long"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frs, hs = [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    continue
                for fi, img in enumerate(
                    sample_avi_frames(bytes(payload), every_n)
                ):
                    ids.append(int(mid))
                    frs.append(fi)
                    hs.append(dhash64(img, hash_size))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame": pd.Series(frs, dtype="int64"),
                    "dhash": pd.Series(hs, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        batches, schema=schema
    )


def video_near_dup(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    frame_col: str = "frame",
    hash_col: str = "dhash",
    bands: int = 4,
    max_hamming: int = 6,
    min_matching_frames: int = 2,
    collapse_runs: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate video pairs from per-frame dhashes, SHIFT-
    TOLERANT (round 10): candidates band-join on (band, key) alone —
    no frame-position key — then every verified frame collision votes
    for its temporal offset ``f_a − f_b``, and a pair survives when
    its MODAL offset collects ≥ `min_matching_frames` matches. A clip
    with a trimmed intro (every frame shifted by a constant) now
    matches at that constant offset; the round-9 design joined on
    equal positions and was blind to exactly that — the most common
    way real video twins differ (trims, not pixel noise). Returns
    (id_a, id_b, offset, n_match); ties on the match count break to
    the smallest |offset|, then the smaller offset — deterministic on
    any partitioning.

    Scale: dropping the frame key grows each (band, key) bucket from
    one frame position to all positions sharing a 16-bit band value —
    still hash-bounded, never all-pairs. The residual quadratic is two
    STATIC scenes pairing every frame with every frame; `collapse_runs`
    (default) removes it by keeping only the first frame of each
    consecutive identical-hash run per video (one window over the
    per-video sort — frame counts then mean "matching scene changes",
    and a static N-frame twin costs 1 row, not N²). Both sides still
    shuffle (8-byte key, frame) rows only; payloads never move; the
    offset histogram is one groupBy over verified collisions.

    ``max_bucket``: the `banding.cap_occupancy` cap over (band, key)
    frame rows — the cross-VIDEO analog of what `collapse_runs`
    already removes within a video (a band value shared by thousands
    of different clips' frames — black frames, slates — pairs them
    all); default None keeps exact semantics."""
    base = frame_hashes.select(
        F.col(id_col).alias("doc"),
        F.col(frame_col).alias("__f"),
        F.col(hash_col).alias("__h"),
    )
    if collapse_runs:
        w = Window.partitionBy("doc").orderBy("__f")
        base = (
            base.withColumn("__prev", F.lag("__h").over(w))
            .filter(
                F.col("__prev").isNull()
                | (F.col("__h") != F.col("__prev"))
            )
            .drop("__prev")
        )
    banded = cap_occupancy(
        hash_bands(base, "doc", "__h", bands, ["__f"]), _KEYS, max_bucket
    )
    frame_pairs = bucket_pairs(banded, _KEYS, ["__f", "h"]).distinct()
    by_offset = (
        frame_pairs.filter(_hamming("h_a", "h_b") <= max_hamming)
        .groupBy(
            "id_a", "id_b", (F.col("__f_a") - F.col("__f_b")).alias("offset")
        )
        .agg(F.count("*").alias("n_match"))
    )
    best = F.max(
        F.struct(
            F.col("n_match"),
            (-F.abs(F.col("offset"))).alias("__nabs"),
            (-F.col("offset")).alias("__noff"),
        )
    )
    return (
        by_offset.groupBy("id_a", "id_b")
        .agg(best.alias("__b"))
        .select(
            "id_a",
            "id_b",
            (-F.col("__b.__noff")).alias("offset"),
            F.col("__b.n_match").alias("n_match"),
        )
        .filter(F.col("n_match") >= min_matching_frames)
    )
