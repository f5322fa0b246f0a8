"""Distributed connected-component labeling over a long-form grid.

Spark mapping of skimage.measure.label(connectivity=2) / ndimage.label
(ref water_map.py:170,352; flood_map.py:265; SURVEY §2.5 W3 — the hardest
operator): no Catalyst primitive exists, so:

1. per-tile labeling in a grouped-map pandas UDF (core.labeling,
   min sweeps + pointer jumping) — global provisional label =
   ``tile_id * (tile_pixels + 1) + local_label``;
2. tile-boundary pixels (a tiny fraction) self-join against the four
   forward neighbor offsets that cross tile edges -> equivalence edges;
3. union-find over the edge table; the merge runs on the driver while the
   edge table fits (it is proportional to *water pixels on tile borders*,
   not the grid), with an iterative distributed fallback
   (``merge_labels_distributed``) for adversarial inputs;
4. broadcast relabel join.

Label ids are arbitrary but consistent; canonicalize before comparing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..core.labeling import UnionFind, label_components

_LABEL_SCHEMA = StructType([
    StructField("row", IntegerType()),
    StructField("col", IntegerType()),
    StructField("label", LongType()),
])

_TILE_STRIDE = 1 << 31  # labeling tile key = trow * stride + tcol


DRIVER_EXACT_MAX_PX = 2_000_000  # flagged-pixel guard for the local path


def label_connected(
    grid: DataFrame,
    flag_col: str,
    tile_shape: tuple[int, int],
    merge_on_driver: bool = True,
    local_max_px: int = DRIVER_EXACT_MAX_PX,
) -> DataFrame:
    """(row,col,<flag>) -> (row,col,label) for flagged pixels; labels
    globally merged across tile boundaries, 8-connectivity. The labeling
    tile key is derived internally from row/col — any disjoint tiling works
    and callers need not align it with the engine's tile ids.

    Small-grid guard (the repo's near_dup_clusters/k_core discipline):
    when the flagged set AND its bounding box fit under ``local_max_px``,
    the pixels are collected by one job (bounded at ``local_max_px + 1``
    rows) and labeled with the same core.labeling kernel on the driver —
    the distributed path costs three serial jobs (pandas tile labeling +
    eager checkpoint + boundary-edge collect), pure launch overhead below
    cluster scale (it was ~11 s of the 25 s water-map pipeline at 300k
    px). More rows than ``local_max_px`` or a sparse bounding box fall
    through to the distributed path. Label ids are arbitrary but
    consistent either way (module docstring); every oracle-checked
    consumer canonicalizes to min-pixel-id components. Set
    ``local_max_px=0`` to force the distributed path (tests do)."""
    tr, tc = tile_shape
    k = tr * tc + 1

    if local_max_px:
        # one bounded collect: more than local_max_px rows means "too big"
        pdf = (grid.where(F.col(flag_col)).select("row", "col")
               .limit(local_max_px + 1).toPandas())
        if pdf.empty:
            return grid.sparkSession.createDataFrame([], _LABEL_SCHEMA)
        rows = pdf["row"].to_numpy()
        cols = pdf["col"].to_numpy()
        r0, c0 = int(rows.min()), int(cols.min())
        h, w = int(rows.max()) - r0 + 1, int(cols.max()) - c0 + 1
        # too many pixels, or a sparse bounding box: distributed path
        if len(pdf) <= local_max_px and h * w <= max(local_max_px * 4, 8 * len(pdf)):
            dense = np.zeros((h, w), dtype=bool)
            dense[rows - r0, cols - c0] = True
            lab = label_components(dense)
            out = pd.DataFrame({
                "row": rows.astype(np.int32),
                "col": cols.astype(np.int32),
                "label": lab[rows - r0, cols - c0].astype(np.int64),
            })
            # checkpoint: as a bare LocalRelation the labeled pixels
            # would be re-serialized into every consuming branch of
            # the plan (segment areas + relabel join + boundaries)
            return grid.sparkSession.createDataFrame(
                out, _LABEL_SCHEMA
            ).localCheckpoint(eager=True)

    g = grid.withColumn(
        "_lt",
        F.floor(F.col("row") / tr).cast("long") * _TILE_STRIDE + F.floor(F.col("col") / tc).cast("long"),
    )

    def per_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf["row"].to_numpy()
        cols = pdf["col"].to_numpy()
        flags = pdf[flag_col].to_numpy().astype(bool)
        r0, c0 = rows.min() // tr * tr, cols.min() // tc * tc
        tile = np.zeros((tr, tc), dtype=bool)
        tile[rows - r0, cols - c0] = flags
        lab = label_components(tile)
        sel = lab[rows - r0, cols - c0] > 0
        tid = int(pdf["_lt"].iloc[0])
        return pd.DataFrame(
            {
                "row": rows[sel],
                "col": cols[sel],
                "label": tid * k + lab[rows - r0, cols - c0][sel],
            }
        )

    labeled = g.groupBy("_lt").applyInPandas(per_tile, schema=_LABEL_SCHEMA)
    # EAGER materialization, not a lazy persist: the edge-pair job below
    # reads `labeled` through 5 union branches — against a lazy cache those
    # branches race and re-execute the (expensive) upstream chain up to 5x.
    # The checkpoint also truncates lineage before the iterative merge.
    labeled = labeled.localCheckpoint(eager=True)

    # boundary pixels: on any tile edge (pmod: Java % is negative for
    # negative coordinates and would miss edges of negative-index tiles)
    on_edge = (
        F.pmod(F.col("row"), tr).isin(0, tr - 1)
        | F.pmod(F.col("col"), tc).isin(0, tc - 1)
    )
    b = labeled.where(on_edge).select("row", "col", "label")

    # forward neighbor offsets (the reverse pairs are symmetric)
    edges = None
    for dr, dc in ((0, 1), (1, -1), (1, 0), (1, 1)):
        n = b.select(
            (F.col("row") + dr).alias("row"),
            (F.col("col") + dc).alias("col"),
            F.col("label").alias("nbr_label"),
        )
        # only pairs that cross a tile edge matter; same-tile pairs are
        # already merged locally — but keeping them is harmless dedup work
        e = b.join(n, ["row", "col"]).where(F.col("label") != F.col("nbr_label"))
        edges = e if edges is None else edges.unionByName(e)
    edge_pairs = edges.select("label", "nbr_label").distinct()

    if merge_on_driver:
        uf = UnionFind()
        for r in edge_pairs.collect():
            uf.union(int(r.label), int(r.nbr_label))
        mapping = [(x, uf.find(x)) for x in list(uf.parent)]
        if mapping:
            spark = grid.sparkSession
            map_df = F.broadcast(spark.createDataFrame(mapping, "label long, root long"))
            out = (
                labeled.join(map_df, "label", "left")
                .withColumn("label", F.coalesce("root", "label"))
                .drop("root")
            )
        else:
            out = labeled
        return out
    return _merge_labels_distributed(labeled, edge_pairs)


def _merge_labels_distributed(labeled: DataFrame, edge_pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation over the equivalence graph (BSP) —
    the scale path when the edge table is too big to collect. Converges in
    O(log(diameter of the component graph)) rounds with pointer doubling."""
    spark = labeled.sparkSession
    sym = edge_pairs.unionByName(
        edge_pairs.select(F.col("nbr_label").alias("label"), F.col("label").alias("nbr_label"))
    ).distinct().localCheckpoint(eager=True)
    # root(x) starts as min(x, neighbors)
    roots = sym.groupBy("label").agg(F.least(F.min("nbr_label"), F.min("label")).alias("root"))
    for _ in range(30):
        # min exchange across edges: m(x) = min root among x's neighbors
        nbr_min = (
            sym.join(roots.withColumnRenamed("label", "nbr_label"), "nbr_label")
            .groupBy("label")
            .agg(F.min("root").alias("nbr_root"))
        )
        # pointer jump: root(root(x))
        jump = (
            roots.alias("a")
            .join(
                roots.select(F.col("label").alias("root"), F.col("root").alias("jump_root")),
                "root",
                "left",
            )
            .select("label", "root", F.coalesce("jump_root", "root").alias("jump_root"))
        )
        nxt = (
            jump.join(nbr_min, "label", "left")
            .select(
                "label",
                F.least(
                    F.col("root"), F.col("jump_root"), F.coalesce("nbr_root", F.col("root"))
                ).alias("root"),
            )
        )
        changed = (
            nxt.withColumnRenamed("root", "new_root")
            .join(roots, "label")
            .where(F.col("new_root") != F.col("root"))
            .limit(1)
            .count()
        )
        roots = nxt.localCheckpoint(eager=True)
        if changed == 0:
            break
    return (
        labeled.join(roots, "label", "left")
        .withColumn("label", F.coalesce("root", "label"))
        .drop("root")
    )


def segment_areas(labeled: DataFrame) -> DataFrame:
    """A11 (ref water_map.py:118): pixel count per segment."""
    return labeled.groupBy("label").agg(F.count(F.lit(1)).alias("area"))


def remove_small_segments(labeled: DataFrame, min_area: int = 3) -> DataFrame:
    """U4 (ref water_map.py:139-146): drop segments below min_area via an
    anti-join on failing segment ids."""
    small = segment_areas(labeled).where(F.col("area") < min_area).select("label")
    return labeled.join(small, "label", "left_anti")
