"""Perceptual image hashing + near-duplicate detection (dHash).

The multimodal twin of the text MinHash/SimHash family: a 64-bit
difference hash per image (dHash — row-wise gradient sign over a pooled
8×9 luminance grid), then Hamming-banded candidate generation —
pigeonhole on 4×16-bit bands guarantees recall 1.0 for Hamming ≤ 3, an
exact bit_count verify drops the false candidates.

Reference treats images as opaque payloads (SURVEY §4); this is the
standard training-data image-dedup stage (near-identical crops,
re-encodes, brightness shifts hash within a few bits).

Determinism / oracle story: the hash is INTEGER-EXACT end to end —
luminance is the int64 BT.601 fixed-point 299·R + 587·G + 114·B, cells
pool integer SUMS + COUNTS (pixel (y,x) → cell ((y·8)÷h, (x·9)÷w)), and
the gradient comparison cross-multiplies (S₁·N₂ > S₂·N₁) so unequal
cell sizes never meet a double. Any engine recomputing from the same
pixels gets the same 64 bits — no float tolerance anywhere.

Scale shape: hashing is one Arrow-batched mapInPandas over the binary
scan (the only Python — there is no JVM PNG codec), emitting 16 bytes
per image; everything after (band explode, equi-join on (band, value),
XOR popcount filter) is JVM expressions on longs. Shuffles carry
(id, hash) only — never image bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["dhash_bits", "dhash_images", "dhash_near_dups"]

_GRID_R, _GRID_C = 8, 9  # 8 rows × 8 comparisons from 9 pooled columns


def dhash_bits(px) -> int:
    """64-bit dHash of one decoded (h, w, channels) uint8 raster.

    bit[r·8+c] = 1 iff pooled-cell mean luminance strictly increases
    from column c to c+1 in row r (ties → 0), means compared by
    integer cross-multiplication. Channels: first 3 = RGB weights
    299/587/114; gray uses 1000·p. Returns a Python int in [0, 2^64).
    """
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    if h < _GRID_R or w < _GRID_C:
        raise ValueError(
            f"image {w}x{h} smaller than the {_GRID_C}x{_GRID_R} dHash "
            f"grid")
    p = px.astype(np.int64)
    if px.shape[2] >= 3:
        lum = 299 * p[..., 0] + 587 * p[..., 1] + 114 * p[..., 2]
    else:
        lum = 1000 * p[..., 0]
    cr = (np.arange(h) * _GRID_R) // h
    cc = (np.arange(w) * _GRID_C) // w
    s = np.zeros((_GRID_R, _GRID_C), np.int64)
    n = np.zeros((_GRID_R, _GRID_C), np.int64)
    np.add.at(s, (cr[:, None], cc[None, :]), lum)
    np.add.at(n, (cr[:, None], cc[None, :]), 1)
    left_s, right_s = s[:, :-1], s[:, 1:]
    left_n, right_n = n[:, :-1], n[:, 1:]
    bits = (right_s * left_n) > (left_s * right_n)
    val = 0
    for pos, b in enumerate(bits.reshape(-1).tolist()):
        if b:
            val |= 1 << pos
    return val


def dhash_images(media: DataFrame, id_col: str = "id",
                 content_col: str = "content") -> DataFrame:
    """(id, dhash BIGINT) per image — PNG decode + pooled-gradient hash
    in one Arrow-batched mapInPandas pass; bit 63 may set the sign,
    which XOR/bit_count downstream treats transparently."""
    out_schema = f"{id_col} long, dhash long"

    def run(batches):
        import numpy as np
        import pandas as pd

        from .media import png_pixels

        for b in batches:
            ids, hashes = [], []
            for i, content in zip(b[id_col], b[content_col]):
                v = dhash_bits(png_pixels(bytes(content)))
                ids.append(i)
                hashes.append(np.int64(v - (1 << 64) if v >= 1 << 63
                                       else v))
            yield pd.DataFrame({id_col: ids, "dhash": hashes})

    return media.mapInPandas(run, out_schema)


def dhash_near_dups(hashes: DataFrame, max_hamming: int = 3,
                    n_bands: int = 4, id_col: str = "id",
                    hash_col: str = "dhash") -> DataFrame:
    """Near-duplicate image pairs (id_a, id_b, hamming ≤ max_hamming).

    Pigeonhole banding: two hashes within Hamming d of each other agree
    on at least one of n_bands equal-width bands whenever d < n_bands,
    so recall is exactly 1.0 for max_hamming < n_bands (enforced);
    candidates equi-join on (band_index, band_value) — a bucketed
    shuffle on 64/n_bands-bit keys, never all-pairs — and the exact
    popcount of the XOR filters false candidates JVM-side.
    """
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole recall needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands}); raise n_bands")
    width = 64 // n_bands
    mask = (1 << width) - 1
    # Stage the (id, dhash) projection: BOTH sides of the banded
    # self-join derive from it, and when ``hashes`` comes straight from
    # dhash_images the un-staged plan re-runs the WHOLE image decode
    # (ArrowEvalPython + MapInPandas) once per side — plan-observed: 2
    # MapInPandas nodes for one corpus. The staged frame is 16 bytes/row
    # (id + 64-bit hash), never the image bytes — decode once, join on
    # the proxy (staged_shingles idiom).
    from velesdb_spark.functions.staging import stage

    hashes = stage(hashes.select(F.col(id_col), F.col(hash_col)))
    banded = hashes.select(
        F.col(id_col), F.col(hash_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col(hash_col), i * width)
                .bitwiseAND(F.lit(mask)).alias("val"))
            for i in range(n_bands)])).alias("bv"),
    ).select(id_col, hash_col, "bv.band", "bv.val")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (a.join(b, [F.col("a.band") == F.col("b.band"),
                        F.col("a.val") == F.col("b.val"),
                        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col(f"a.{hash_col}").alias("_ha"),
                     F.col(f"b.{hash_col}").alias("_hb"))
             .distinct())
    return (pairs
            .withColumn("hamming",
                        F.expr("bit_count(_ha ^ _hb)").cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .drop("_ha", "_hb"))
