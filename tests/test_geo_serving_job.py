"""jobs/geo_serving_job.py end to end: three runs of the job over a ping
directory that grows by one file per run (one micro-batch each), the
last with --maintain, which compacts the pyramid store and prunes the
geofence snapshots."""

import datetime as dt
import os
import subprocess
import sys
from pathlib import Path

from asf_tools_spark.functions.spatial import with_cell_col
from asf_tools_spark.operators.tiling import tile_pyramid
from asf_tools_spark.sources.polygons import watershed_polygons
from asf_tools_spark.streaming.geofence import read_alerts
from asf_tools_spark.streaming.pyramid import read_pyramid

REPO = Path(__file__).resolve().parent.parent
BASE_RES = 8


def _pings(spark, run, inside):
    # the midpoint of a star-convex ring's opposite vertices 0 and 6 lies
    # on a chord through its centre, so it is inside fence 0
    ring = watershed_polygons()[0]["ring"]
    lon, lat = (ring[0] + ring[6]) / 2 if inside else (ring[0] + 20.0)
    rows = [(10 * run + i, i, dt.datetime(2024, 1, 1, run, i), float(lat) + 0.001 * i,
             float(lon), float(i)) for i in range(3)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, lat double, lon double, value double"
    )
    return with_cell_col(df, "lat", "lon", 8, "cell_id")


def _rows(pyramid):
    return sorted(
        (x.res, x.row, x.col, x.n_pages, round(x.sum_value, 6)) for x in pyramid.collect()
    )


def test_geo_serving_job_maintain(spark, tmp_path):
    d = {k: str(tmp_path / k) for k in ("src", "pyramid", "alerts", "state", "ckpt")}
    env = {**os.environ, "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.enabled=false pyspark-shell"}
    frames = []
    for run, inside in enumerate([True, False, True]):
        frames.append(_pings(spark, run, inside))
        frames[-1].coalesce(1).write.mode("append").parquet(d["src"])
        cmd = [sys.executable, str(REPO / "jobs" / "geo_serving_job.py"),
               "--src", d["src"], "--pyramid", d["pyramid"], "--alerts", d["alerts"],
               "--state", d["state"], "--checkpoint", d["ckpt"],
               "--base-res", str(BASE_RES), "--master", "local[2]"]
        r = subprocess.run(cmd + ["--maintain"] * (run == 2), capture_output=True,
                           text=True, env=env, timeout=600)
        assert r.returncode == 0, r.stderr[-3000:]

    # batches 0 and 1 merged into 1, batch 2 kept replayable; snapshot 0 pruned
    assert "'merged': [0, 1], 'target_batch': 1" in r.stdout, r.stdout
    assert "pruned state snapshots: [0]" in r.stdout, r.stdout

    every = frames[0].unionByName(frames[1]).unionByName(frames[2])
    assert _rows(read_pyramid(spark, d["pyramid"], BASE_RES)) == _rows(tile_pyramid(every, BASE_RES))
    kinds = sorted((a.batch_id, a.kind) for a in read_alerts(spark, d["alerts"]).collect())
    assert [k for _, k in kinds] == ["entry"] * 3 + ["exit"] * 3 + ["entry"] * 3
