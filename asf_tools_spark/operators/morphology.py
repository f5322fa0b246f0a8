"""Binary morphology on dense (row, col, value) grids — erosion, dilation,
opening, closing with a 3x3 all-ones structuring element and zero padding.

The raster-cleanup primitives the reference applies around segmentation:
speckle/islet removal before connected components (opening drops
sub-element specks, ref: src/asf_tools/hydrosar/water_map.py
remove_small_segments semantics at the pixel scale) and gap closing on
masks (closing fills pinholes; the known-water mask unioning of
water_map.py:210-220 benefits from both).

Spark-first shape: each pass is one ``tiling.halo_pass`` over
``tiling.HALO_TILE`` tiles with a one-cell halo (one shuffle, ~1.03x the
cells at 128x128), and a numpy kernel reads each 3x3 window from the
tile's padded array. Zero padding: an out-of-bounds or missing neighbor
counts as 0, so erosion needs all NINE cells of the window present and 1,
and dilation needs one present 1. A pass emits every in-bounds cell with
at least one present cell in its window; on a dense grid that is the
input's cells.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from . import tiling


def _morph(df: DataFrame, value: str, height: int, width: int, erode: bool) -> DataFrame:
    def kernel(core, a, present):
        tr, tc = core[0].shape

        def window(x):  # the 3x3 window of every core cell, stacked on axis 0
            return np.stack([x[dr:dr + tr, dc:dc + tc] for dr in range(3) for dc in range(3)])

        v, n = window(a[value]), window(present).sum(axis=0)
        hit = (n == 9) & (v.min(axis=0) == 1) if erode else np.fmax.reduce(v) == 1
        inside = (core[0] >= 0) & (core[0] < height) & (core[1] >= 0) & (core[1] < width)
        return (n > 0) & inside, {value: hit.astype(np.int32)}

    return tiling.halo_pass(
        df.select("row", "col", value), 1, tiling.HALO_TILE, kernel, f"row int, col int, {value} int"
    )


def binary_erode(df: DataFrame, value: str, height: int, width: int) -> DataFrame:
    """3x3 zero-padded erosion of the 0/1 column ``value`` on a dense
    ``height`` x ``width`` grid -> (row, col, <value>)."""
    return _morph(df, value, height, width, erode=True)


def binary_dilate(df: DataFrame, value: str, height: int, width: int) -> DataFrame:
    """3x3 zero-padded dilation of the 0/1 column ``value`` -> dense grid."""
    return _morph(df, value, height, width, erode=False)


def binary_open(df: DataFrame, value: str, height: int, width: int) -> DataFrame:
    """Opening = dilation of the erosion: drops specks smaller than the
    structuring element, preserves everything else's shape."""
    return binary_dilate(binary_erode(df, value, height, width), value, height, width)


def binary_close(df: DataFrame, value: str, height: int, width: int) -> DataFrame:
    """Closing = erosion of the dilation: fills sub-element holes."""
    return binary_erode(binary_dilate(df, value, height, width), value, height, width)
