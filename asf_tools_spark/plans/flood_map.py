"""Distributed flood-depth map.

Spark re-expression of ref: src/asf_tools/hydrosar/flood_map.py:183-331
``make_flood_map`` (SURVEY §3.2) over long-form grids:

1. flood mask = water | known-water       (full-outer grid join, J6)
2. mask by VV validity                    (P3)
3. connected-component labeling           (distributed, W3)
4. per-label water height                 (grouped estimators; the reference
   loops labels serially with tqdm ref :273 — here labels are
   embarrassingly parallel applyInPandas groups)
5. flood depth = water_height - hand, clamped at 0, nodata -1 (P9)

Estimators (core.stats, golden-pinned): nmad / numpy / logstat exactly;
'iterative' uses the deterministic exact minimizer over the label's
bounding-box window (the reference's basinhopping is non-deterministic and
its golden test is disabled upstream, ref tests/hydrosar/test_flood_map.py:35-43).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..core.stats import estimate_flood_depth
from ..operators.labeling import label_connected

_HEIGHT_SCHEMA = StructType([
    StructField("label", LongType()),
    StructField("water_height", DoubleType()),
])


def flood_labels(
    water: DataFrame,
    known_water: DataFrame | None,
    vv_valid: DataFrame,
    tile_shape: tuple[int, int],
) -> DataFrame:
    """Steps 1-3: combined mask -> labeling. Inputs: (row,col[,tile_id])
    pixel sets for water/known-water, (row,col,valid) for VV validity."""
    combined = water.select("row", "col")
    if known_water is not None:
        combined = combined.unionByName(known_water.select("row", "col")).distinct()
    combined = combined.join(
        vv_valid.where("valid").select("row", "col"), ["row", "col"], "left_semi"
    )
    return label_connected(combined.withColumn("flag", F.lit(True)), "flag", tile_shape)


def estimate_water_heights(
    labeled: DataFrame,
    hand: DataFrame,
    estimator: str = "nmad",
    water_level_sigma: float = 3.0,
    iterative_bounds: tuple[int, int] = (0, 15),
    iterative_min_size: int = 0,
    minimization_metric: str = "ts",
) -> DataFrame:
    """Per-label water height (ref flood_map.py:140-180,273-293).

    nmad/numpy/logstat need only the label's own HAND values; 'iterative'
    needs the label's bounding-box *window* (ref :266,273-279
    find_objects) — gathered via a bbox range join so each group ships only
    its window, not the raster.
    """
    est = estimator.lower()
    if est == "iterative":
        boxes = labeled.groupBy("label").agg(
            F.min("row").alias("r0"), F.max("row").alias("r1"),
            F.min("col").alias("c0"), F.max("col").alias("c1"),
        )
        window_px = hand.alias("h").join(
            F.broadcast(boxes).alias("b"),
            (F.col("h.row") >= F.col("b.r0")) & (F.col("h.row") <= F.col("b.r1"))
            & (F.col("h.col") >= F.col("b.c0")) & (F.col("h.col") <= F.col("b.c1")),
        ).select(
            F.col("b.label"), F.col("h.row"), F.col("h.col"),
            F.col("h.value").alias("hand"),
        )
        lbl = labeled.select("label", "row", "col", F.lit(1).alias("in_label"))
        window_px = window_px.join(lbl, ["label", "row", "col"], "left")

        def fit(pdf: pd.DataFrame) -> pd.DataFrame:
            hand_w = pdf["hand"].to_numpy(dtype=float)
            ext_w = pdf["in_label"].fillna(0).to_numpy(dtype=int)
            wh = estimate_flood_depth(
                1, hand_w, ext_w, estimator="iterative",
                water_level_sigma=water_level_sigma,
                iterative_bounds=iterative_bounds,
                iterative_min_size=iterative_min_size,
                minimization_metric=minimization_metric,
            )
            return pd.DataFrame({"label": [int(pdf["label"].iloc[0])], "water_height": [wh]})

        return window_px.groupBy("label").applyInPandas(fit, schema=_HEIGHT_SCHEMA)

    px = labeled.join(hand.select("row", "col", F.col("value").alias("hand")), ["row", "col"])

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        sel = pdf["hand"].to_numpy(dtype=float)
        wh = estimate_flood_depth(
            1, sel, np.ones(len(sel), dtype=int), estimator=est,
            water_level_sigma=water_level_sigma,
        )
        return pd.DataFrame({"label": [int(pdf["label"].iloc[0])], "water_height": [wh]})

    return px.groupBy("label").applyInPandas(fit, schema=_HEIGHT_SCHEMA)


def make_flood_map_grid(
    water: DataFrame,
    known_water: DataFrame | None,
    vv_valid: DataFrame,
    hand: DataFrame,
    tile_shape: tuple[int, int],
    estimator: str = "nmad",
    water_level_sigma: float = 3.0,
    iterative_bounds: tuple[int, int] = (0, 15),
) -> DataFrame:
    """Full pipeline -> (row, col, label, water_height, flood_depth);
    clamped at 0 (ref :295-302; the -1 nodata fill is a sink concern).

    DELIBERATE DIVERGENCE from the reference: we estimate a water height for
    EVERY label. The reference's loop ``for ll in range(1, num_labels)``
    (ref flood_map.py:273) never reaches the last label, silently leaving
    its depth 0 — an upstream off-by-one (labels are 1..num_labels
    inclusive), not a semantic choice, so we do not replicate it."""
    # read twice (the heights and the depth join): materialized once, and
    # a checkpoint is no cache entry that would outlive the call
    labeled = flood_labels(water, known_water, vv_valid, tile_shape).localCheckpoint(eager=True)
    heights = estimate_water_heights(
        labeled, hand, estimator, water_level_sigma, iterative_bounds
    )
    px = labeled.join(hand.select("row", "col", F.col("value").alias("hand")), ["row", "col"])
    return (
        px.join(F.broadcast(heights), "label")
        .withColumn("flood_depth", F.greatest(F.col("water_height") - F.col("hand"), F.lit(0.0)))
        .select("row", "col", "label", "water_height", "flood_depth")
    )
