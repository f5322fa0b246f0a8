"""Misc scalar functions: scale conversion, EPSG vote, tile-name strings.

Numpy mirrors of the Catalyst-expression versions in
``asf_tools_spark.functions`` so tests can assert bit-level parity.
"""

from __future__ import annotations

from collections import Counter

import numpy as np


def convert_scale(array: np.ndarray | np.ma.MaskedArray, in_scale: str, out_scale: str):
    """db <-> amplitude <-> power (ref: src/asf_tools/raster.py:17-47)."""
    if in_scale == out_scale:
        return array
    log10 = np.ma.log10 if isinstance(array, np.ma.MaskedArray) else np.log10
    if in_scale == "db":
        if out_scale == "power":
            return 10 ** (array / 10)
        if out_scale == "amplitude":
            return 10 ** (array / 20)
    if in_scale == "amplitude":
        if out_scale == "power":
            return array**2
        if out_scale == "db":
            return 10 * log10(array**2)
    if in_scale == "power":
        if out_scale == "amplitude":
            return np.sqrt(array)
        if out_scale == "db":
            return 10 * log10(array)
    raise ValueError(f"Cannot convert raster of scale {in_scale} to {out_scale}")


def get_target_epsg_code(codes: list[int]) -> int:
    """Median east/west UTM zone, mode hemisphere, ties to North/lower
    (ref: src/asf_tools/composite.py:32-57 ``get_target_epsg_code``)."""
    valid_codes = set(range(32601, 32661)) | set(range(32701, 32761))
    if bad := set(codes) - valid_codes:
        raise ValueError(f"Non UTM EPSG code encountered: {bad}")
    hemispheres = [c // 100 * 100 for c in codes]
    counts = Counter(hemispheres)
    top = max(counts.values())
    target_hemisphere = min(h for h, c in counts.items() if c == top)
    zones = sorted(c % 100 for c in codes)
    target_zone = zones[(len(zones) - 1) // 2]
    return target_hemisphere + target_zone


def lat_lon_to_tile_string(lat: float, lon: float, is_worldcover: bool = False, postfix: str = ".tif") -> str:
    """Zero-padded hemisphere-prefixed tile name
    (ref: src/asf_tools/watermasking/utils.py:7-28)."""
    prefixes = ["N", "S", "E", "W"] if is_worldcover else ["n", "s", "e", "w"]
    lat_part = (prefixes[0] if lat >= 0 else prefixes[1]) + str(int(abs(lat)) if lat < 0 else int(lat)).zfill(2)
    lon_part = (prefixes[2] if lon >= 0 else prefixes[3]) + str(int(abs(lon)) if lon < 0 else int(lon)).zfill(3)
    return lat_part + lon_part + postfix


def get_area_raster(raster: str) -> str:
    """``*_VV.tif -> *_area.tif`` suffix rewrite
    (ref: src/asf_tools/composite.py:60-70)."""
    return "_".join(raster.split("_")[:-1] + ["area.tif"])
