"""spark-submit job: streaming geospatial serving — a geotagged ping
stream drives, in ONE micro-batch pass, (a) the tile-pyramid partial
store (streaming.pyramid — every zoom level stays fresh for the map
tier) and (b) geofence entry/exit alerts with cross-batch open-visit
state (streaming.geofence). Both indexers are idempotent per batch_id
(streaming.store.BatchStore), so their composition inside one
foreachBatch is exactly-once as a unit: a replayed batch rewrites
exactly its own directories in both stores.

Optional --maintain runs the store-maintenance levers after the stream
drains: the pyramid store's compact() and prune_snapshots
on the geofence state.

Cluster:
  spark-submit --py-files asf_tools_spark.zip jobs/geo_serving_job.py \
      --src s3://bucket/pings/ --pyramid s3://bucket/pyramid/ \
      --alerts s3://bucket/alerts/ --state s3://bucket/geofence_state/ \
      --checkpoint s3://bucket/ckpt/geo/ --base-res 10

Local smoke:
  python jobs/geo_serving_job.py --src /tmp/pings --pyramid /tmp/pyr \
      --alerts /tmp/alerts --state /tmp/state --checkpoint /tmp/ckpt \
      --master 'local[4]'

The ping schema must carry (event_id, user_id, ts, lat, lon, value,
cell_id) — the geotagged shape sources.pages/geotag emit.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", required=True, help="ping parquet source directory")
    ap.add_argument("--pyramid", required=True, help="tile-pyramid partial store path")
    ap.add_argument("--alerts", required=True, help="geofence alerts output path")
    ap.add_argument("--state", required=True, help="geofence open-visit state path")
    ap.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    ap.add_argument("--base-res", type=int, default=8)
    ap.add_argument("--maintain", action="store_true",
                    help="compact the pyramid store + prune state snapshots after the drain")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from asf_tools_spark.session import STATIC_CONF
    from asf_tools_spark.sources.polygons import (
        bbox_cover_df, polygon_edges_df, watershed_polygons,
    )
    from asf_tools_spark.streaming.geofence import (
        GeofenceAlertIndexer, prune_snapshots,
    )
    from asf_tools_spark.streaming.pyramid import PyramidIndexer

    builder = SparkSession.builder.appName("geo-serving")
    if args.master:
        builder = builder.master(args.master)
    # STATIC_CONF sizes the codegen cache: each micro-batch replays the
    # same plans, and at Spark's default of 100 entries the two sinks'
    # classes evicted each other, so every batch recompiled most of them
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config(map=STATIC_CONF)
        .getOrCreate()
    )

    polys = watershed_polygons()
    edges = polygon_edges_df(spark, polys)
    cover = bbox_cover_df(spark, polys, 8)
    pyramid = PyramidIndexer(args.pyramid, args.base_res)
    fences = GeofenceAlertIndexer(edges, cover, args.state, args.alerts)

    def both(batch_df, batch_id):
        batch_df = batch_df.localCheckpoint(eager=True)  # shared by both sinks
        pyramid(batch_df, batch_id)
        fences(batch_df, batch_id)

    src_schema = spark.read.parquet(args.src).schema
    pings = spark.readStream.schema(src_schema).parquet(args.src)
    q = (
        pings.writeStream.outputMode("append")
        .foreachBatch(both)
        .option("checkpointLocation", f"{args.checkpoint.rstrip('/')}/geo")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    if args.maintain:
        stats = pyramid.store.compact(keep_latest=1)
        pruned = prune_snapshots(spark, args.state, keep=2)
        print(f"pyramid compaction: {stats}; pruned state snapshots: {pruned}")

    spark.stop()


if __name__ == "__main__":
    main()
