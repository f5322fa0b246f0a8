"""Flagship pipeline: assign pages to tiles, flag water-candidate tiles.

The Spark re-expression of the reference's front half of ``make_water_map``
(ref: src/asf_tools/hydrosar/water_map.py:261-292): catalog intersection ->
tile assignment -> per-tile HAND statistics -> candidate selection
(ref water_map.py:43-59 ``select_hand_tiles``), over a geotagged page table
instead of a raster.

Plan shape (see tests/test_explain.py for the physical-plan assertions):
scan (columns pruned to what's used) -> geotag hashes, once per page ->
JVM cell encode -> ONE BroadcastHashJoin on cell_id against the box cover
cells (an Arrow LocalTableScan built on the driver), with the inclusive box
test as its join condition (one broadcast) -> partial/final aggregate
around the plan's one Exchange -> candidate filter. No Python runs in any
execution of the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.spatial_join import spatial_join_polygons
from ..sources.polygons import watershed_boxes


def tile_assignments(
    pages: DataFrame,
    polygons: list[dict] | None = None,
    res: int = 8,
    hand_threshold: float = 15.0,
    hand_fraction: float = 0.8,
) -> DataFrame:
    """Per-(polygon, cell) page counts + HAND candidate flag.

    Output: (poly_id, cell_id, n_pages, mean_value, low_hand_fraction,
    hand_candidate). ``low_hand_fraction`` is the select_hand_tiles fraction
    (valid pixels below hand_threshold / all pixels, ref water_map.py:56-59)
    re-expressed per cell over page HAND values; the candidate predicate is
    ``fraction > hand_fraction``.

    The aggregation is one groupBy, planned as a map-side partial and a
    final aggregate around one Exchange. Hotspot mega-cells (30% of pages
    in 5 cells) need no salt: the partial aggregate already sends each
    (poly_id, cell_id) at most one row per map task, so a salt would only
    add a second exchange.
    """
    if polygons is None:
        polygons = watershed_boxes()
    joined = spatial_join_polygons(pages, polygons, res=res, how="inner")
    n = F.count(F.lit(1))
    return (
        joined.groupBy("poly_id", "cell_id")
        .agg(
            n.alias("n_pages"),
            (F.sum("value") / n).alias("mean_value"),
            (F.sum((F.col("hand") < F.lit(hand_threshold)).cast("long")) / n).alias("low_hand_fraction"),
        )
        .withColumn("hand_candidate", F.col("low_hand_fraction") > F.lit(hand_fraction))
    )
