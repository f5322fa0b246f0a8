"""asf_tools_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-creates the query and data-processing capabilities of ASFHyP3/asf-tools
(reference at /root/reference, cited per-function as ``ref: file:line``) as
batched cell-indexed DataFrame operators over web-page-style tables:

- cell/tile indexing (H3/S2-style Z-order cells; asf-tools row-major tile ids)
- spatial joins (page x polygon broadcast join + point-in-polygon refine, kNN
  via cell-ring expansion)
- EM tile classifier (water-extent thresholding), fuzzy refinement
- flood-depth estimators (nmad / numpy / logstat / iterative)
- HAND chain on a long-form DEM (conditioning, D8 direction, accumulation)
- local-resolution-weighted compositing
- training-data pipeline ops: dedup (exact/minhash/simhash), ANN similarity,
  text quality/language/tokens, multimodal binary-column plumbing

Architecture is Spark-first: DataFrame/SQL plans optimized by Catalyst, with
vectorized pandas/Arrow UDFs only where built-ins cannot express the
semantics (per-tile EM, point-in-polygon, connected-component labeling,
the tile-local HAND passes).
"""

__version__ = "0.1.0"
