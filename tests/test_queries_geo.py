"""queries_geo rows: pure-python differential for the Mann-Kendall
emerging-hotspots row (geotag + calendar fill + S/variance/z replayed
with hashlib/math only — no Spark, no DuckDB), and spread-entropy sanity."""

import datetime as dt
import hashlib
import math

import pyarrow.parquet as pq
import pytest

from asf_tools_spark import oracle as O
from asf_tools_spark.queries_geo import (
    _MK_RES, _emerging_oracle, _gi_spacetime_oracle, q_domain_geo_spread,
    q_emerging_hotspots, q_gi_star_spacetime,
)

SF_DIR = "/root/testdata/sf0.001"


_geotag = O.geotag_py


def _grid(v: float, lo: float, span: float, res: int) -> int:
    n = 1 << res
    return min(max(int(math.floor((v - lo) / span * n)), 0), n - 1)


def _mk_reference():
    tbl = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_id", "ts"])
    days, cells_ = [], []
    for eid, ts in zip(tbl["event_id"].to_pylist(), tbl["ts"].to_pylist()):
        lat, lon = _geotag(eid)
        cells_.append((_grid(lat, -90.0, 180.0, _MK_RES), _grid(lon, -180.0, 360.0, _MK_RES)))
        days.append(ts.date())
    lo, hi = min(days), max(days)
    cal = [lo + dt.timedelta(days=i) for i in range((hi - lo).days + 1)]
    series = {}
    for (r, c), d in zip(cells_, days):
        series.setdefault((r, c), {d: 0 for d in cal})[d] += 1
    out = {}
    for key, byday in series.items():
        xs = [byday[d] for d in cal]
        n = len(xs)
        s = sum(
            (xs[j] > xs[i]) - (xs[j] < xs[i])
            for i in range(n) for j in range(i + 1, n)
        )
        ties = {}
        for x in xs:
            ties[x] = ties.get(x, 0) + 1
        tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        if var_s <= 0.0:
            z, trend = None, "no_trend"
        else:
            z = (s - 1.0) / math.sqrt(var_s) if s > 0 else (
                (s + 1.0) / math.sqrt(var_s) if s < 0 else 0.0)
            trend = ("increasing" if z > 1.96
                     else "decreasing" if z < -1.96 else "no_trend")
        out[key] = (n, s, round(var_s, 6),
                    None if z is None else round(z, 6), trend)
    return out


def test_emerging_hotspots_matches_pure_python(spark):
    want = _mk_reference()
    got = {
        (r.row, r.col): (r.n_days, r.s, r.var_s, r.z, r.trend)
        for r in q_emerging_hotspots(spark, SF_DIR).collect()
    }
    assert got == want


def test_domain_geo_spread_invariants(spark):
    rows = q_domain_geo_spread(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_cells <= r.n_docs
        # entropy bounded by ln(n_cells); the stored value is ROUND(..,6)
        # so allow the half-ulp of that rounding on the upper bound
        assert -1e-9 <= r.entropy <= math.log(r.n_cells) + 5e-7
        if r.n_cells == 1:
            assert r.entropy == 0.0 and r.top_cell_share == 1.0
        assert 0.0 < r.top_cell_share <= 1.0


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_daily_cube_rows_on_empty_events(spark, tmp_path, aqe):
    """Zero events leave the calendar bounds NULL: both daily-cube rows
    (and their oracles) must return no rows instead of tripping the
    calendar-span assertion. Adaptive execution may cancel the calendar
    broadcast once the occupied-cell side comes up empty, so the check
    also runs with it off, where the broadcast is always built."""
    import duckdb

    schema = pq.read_schema(f"{SF_DIR}/events.parquet")
    pq.write_table(schema.empty_table(), tmp_path / "events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')")
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        for q, oracle in ((q_emerging_hotspots, _emerging_oracle),
                          (q_gi_star_spacetime, _gi_spacetime_oracle)):
            assert q(spark, str(tmp_path)).collect() == []
            assert con.execute(oracle()).fetchall() == []
    finally:
        spark.conf.set(key, prev)
