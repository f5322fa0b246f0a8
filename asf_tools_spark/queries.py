"""Query registry: each operator family gets (a) a DataFrame-API Spark query and
(b) an ANSI-SQL DuckDB oracle producing identical rows on the driver's
testdata. Shared derived expressions (geotags, cells, tiles, hashes, zmf)
come from one emitter (asf_tools_spark.oracle) so both sides agree
bit-for-bit; float aggregates are rounded identically on both sides.

Each entry cites the reference operator it re-expresses (SURVEY §2 ids).
``REGISTRY`` at the bottom lists every row of every ``queries*`` module in
driver order; ``queries()`` and ``oracle_sql()`` are derived from it.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from . import oracle
from .core import tiles
from .functions.membership import zmf_sql
from .operators.spatial_join import knn_join
from .plans.assignments import tile_assignments
from .sources.pages import geotagged_documents
from .sources.polygons import boxes_values_sql, watershed_boxes

SF_DEFAULT = "/root/testdata/sf0.01"

# the synthetic long-form "raster" grid derived from lineitem (both dialects)
_GRID_COLS = 700
_TILE = (100, 100)


def _grid_sql(dialect: str) -> str:
    tid = tiles.tile_id_sql("row", "col", _GRID_COLS, _TILE)
    sub = tiles.subtile_id_sql("row", "col", _TILE)
    return f"""(
      SELECT row, col, value, {tid} AS tile_id, {sub} AS subtile_id
      FROM (
        SELECT l_orderkey % 500 AS row, l_partkey % {_GRID_COLS} AS col,
               CAST(l_quantity AS DOUBLE) AS value
        FROM lineitem
      )
    )"""


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    from .core.io import register_views

    register_views(spark, sf_dir, *names)


def _grid_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "lineitem")
    return spark.sql(f"SELECT * FROM {_grid_sql(oracle.SPARK)} g")


# ---------------------------------------------------------------------------
# Spark-side queries (DataFrame API; shared emitters only for derived values)
# ---------------------------------------------------------------------------

def q_cell_assign_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P-family+A-family: geotag -> cell encode -> count + mean per
    cell in ONE groupBy: a map-side partial aggregate, one Exchange, the
    final aggregate (the partial already cuts a mega-cell to one row per
    map task, so no salt)."""
    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    return pages.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_pages"), F.round(F.avg("value"), 6).alias("mean_value")
    )


def q_tile_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: page x watershed-box join -> per-(poly,cell) aggregates +
    HAND candidate flag (J2 + A3 + select_hand_tiles semantics)."""
    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    out = tile_assignments(pages, watershed_boxes(), res=8)
    return out.select(
        "poly_id",
        "cell_id",
        "n_pages",
        F.round("mean_value", 6).alias("mean_value"),
        F.round("low_hand_fraction", 6).alias("low_hand_fraction"),
        "hand_candidate",
    )


def q_knn_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/kNN: 3 nearest hotspot sites per page via cell-ring expansion."""
    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    targets = [
        {"target_id": i, "lat": lat, "lon": lon} for i, (lat, lon) in enumerate(oracle.HOTSPOTS)
    ]
    out = knn_join(pages, targets, k=3, res=4, max_ring=1, point_key="doc_id")
    return out.select(
        "doc_id", "target_id", F.round("dist_km", 4).alias("dist_km"), "knn_rank"
    )


def q_convert_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (ref raster.py:17-47): db->power/amplitude as Catalyst exprs."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events").where(F.col("value").isNotNull())
    # bounded db domain: raw event values span [0, 490] and 10^49 magnitudes
    # can't round-trip across engines; db in [-12, 12.5] keeps parity exact
    db = F.col("value") / 20.0 - 12.0
    return ev.select(
        "event_id",
        F.round(F.pow(F.lit(10.0), db / 10.0), 6).alias("power"),
        F.round(F.pow(F.lit(10.0), db / 20.0), 6).alias("amplitude"),
    )


def q_gaussian_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (ref water_map.py:297-298): power -> Gaussian thresholding scale."""
    _register(spark, sf_dir, "lineitem")
    li = spark.table("lineitem").where(F.col("l_extendedprice") > 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.log10("l_extendedprice") + 30.0, 6).alias("gaussian"),
    )


def q_tile_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (ref water_map.py:67): per-tile median over the long-form grid."""
    g = _grid_df(spark, sf_dir)
    return g.groupBy("tile_id").agg(F.round(F.median("value"), 6).alias("med_value"))


def q_subtile_mean_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (ref water_map.py:34-40,65-66): partial/final two-level aggregate —
    mean per sub-tile then stddev_pop of the 4 means per tile."""
    g = _grid_df(spark, sf_dir)
    sub = g.groupBy("tile_id", "subtile_id").agg(F.avg("value").alias("sub_mean"))
    return sub.groupBy("tile_id").agg(
        F.round(F.stddev_pop("sub_mean"), 6).alias("sub_std"),
        F.count(F.lit(1)).alias("n_subtiles"),
    )


def q_top5_variance_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/W8 (ref water_map.py:75-80): top-5 tiles by sub-tile-mean std."""
    g = _grid_df(spark, sf_dir)
    sub = g.groupBy("tile_id", "subtile_id").agg(F.avg("value").alias("sub_mean"))
    stats = sub.groupBy("tile_id").agg(F.stddev_pop("sub_mean").alias("sub_std"))
    w = Window.orderBy(F.col("sub_std").desc(), F.col("tile_id").asc())
    return (
        stats.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("tile_id", F.round("sub_std", 6).alias("sub_std"), "rk")
    )


def q_zmf_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (ref water_map.py:110-114): z-shaped fuzzy membership."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events").where(F.col("value").isNotNull())
    return ev.select(
        "event_id",
        F.round(F.expr(zmf_sql("value", 10.0, 100.0)), 6).alias("membership"),
    )


def q_candidate_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (ref water_map.py:73): intersect hand candidates with low-median
    tiles (INTERSECT of two derived tile sets)."""
    g = _grid_df(spark, sf_dir)
    med = g.groupBy("tile_id").agg(F.median("value").alias("med"))
    global_med = med.agg(F.median("med").alias("gm"))
    low = med.join(global_med).where(F.col("med") < F.col("gm")).select("tile_id")
    dense = g.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n"))
    big = dense.where(F.col("n") >= 100).select("tile_id")
    return low.intersect(big)


def q_remove_small_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 (ref water_map.py:139-146): anti-join away segments below min
    area — users with < 5 events are dropped, survivors keep event rows."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    small = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).where(F.col("n") < 5)
    return (
        ev.join(small, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL hygiene + per-domain rollup: deterministic messy URLs (mixed
    scheme case, www, tracking params, fragments, trailing slashes) are
    synthesized per doc from the shared emitter, normalized
    (lowercase/strip scheme+www/drop query+fragment/collapse slashes), and
    rolled up per domain — the canonicalize-then-rollup every URL-keyed
    corpus runs before url dedup and per-domain budgeting. Spark and
    oracle share the emitters bit-for-bit."""
    from .functions import url as U

    _register(spark, sf_dir, "documents")
    synth = U.synth_url_sql("doc_id", oracle.SPARK)
    norm = U.normalize_url_sql("raw_url", oracle.SPARK)
    dom = U.domain_sql("norm_url", oracle.SPARK)
    return spark.sql(f"""
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_distinct_urls,
               MIN(norm_url) AS first_url
        FROM (
          SELECT {dom} AS domain, norm_url FROM (
            SELECT {norm} AS norm_url FROM (
              SELECT {synth} AS raw_url FROM documents
            )
          )
        )
        GROUP BY domain
    """)


_DQ_THR = 0.5
_DQ_Z = 1.96


def _domain_quality_oracle() -> str:
    from . import queries_text
    from .functions import url as U

    synth = U.synth_url_sql("doc_id", oracle.DUCKDB)
    norm = U.normalize_url_sql("raw_url", oracle.DUCKDB)
    dom = U.domain_sql("norm_url", oracle.DUCKDB)
    qsub = queries_text.quality_score_subquery()
    return f"""
        WITH q AS (SELECT * FROM {qsub} qq),
        d AS (
          SELECT doc_id, {dom} AS domain FROM (
            SELECT doc_id, {norm} AS norm_url FROM (
              SELECT doc_id, {synth} AS raw_url FROM documents
            )
          )
        ),
        j AS (
          SELECT d.domain, CASE WHEN q.qs >= {_DQ_THR} THEN 1 ELSE 0 END AS pass
          FROM d JOIN q ON q.doc_id = d.doc_id
        ),
        agg AS (
          SELECT domain, COUNT(*) AS n_docs,
                 CAST(SUM(pass) AS BIGINT) AS n_pass
          FROM j GROUP BY domain
        )
        SELECT domain, n_docs, n_pass,
               ROUND(CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS pass_rate,
               ROUND((CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
                      + {_DQ_Z} * {_DQ_Z} / (2.0 * CAST(n_docs AS DOUBLE))
                      - {_DQ_Z} * SQRT((CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE)
                                        * (1.0 - CAST(n_pass AS DOUBLE) / CAST(n_docs AS DOUBLE))
                                        + {_DQ_Z} * {_DQ_Z} / (4.0 * CAST(n_docs AS DOUBLE)))
                                       / CAST(n_docs AS DOUBLE)))
                     / (1.0 + {_DQ_Z} * {_DQ_Z} / CAST(n_docs AS DOUBLE)), 6) AS wilson_lb
        FROM agg
    """


def _wilson_lb(p, n):
    z = F.lit(_DQ_Z)
    return (
        p + z * z / (F.lit(2.0) * n)
        - z * F.sqrt((p * (F.lit(1.0) - p) + z * z / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + z * z / n)


def q_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality budgeting: pass rate of the heuristic quality
    screen per (synthetic) domain plus the Wilson score lower bound
    (z = 1.96) — the statistic a curation pipeline ranks/cuts domains by
    (small domains can't fake a high rate; Wilson 1927, public). ONE
    hash aggregate per domain after a doc-keyed join of the URL chain
    with the quality features; pass threshold compared on ROUND(qs, 6)
    so both engines bucket borderline docs identically."""
    from .functions import url as U
    from .operators.text import quality_features

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    synth = U.synth_url_sql("doc_id", oracle.SPARK)
    doms = (
        docs.select("doc_id", F.expr(synth).alias("raw_url"))
        .select("doc_id", F.expr(U.normalize_url_sql("raw_url", oracle.SPARK)).alias("norm_url"))
        .select("doc_id", F.expr(U.domain_sql("norm_url", oracle.SPARK)).alias("domain"))
    )
    q = quality_features(docs).select("doc_id", "quality_score")
    j = doms.join(q, "doc_id").select(
        "domain",
        F.when(F.round("quality_score", 6) >= _DQ_THR, 1).otherwise(0).alias("_pass"),
    )
    agg = j.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_pass").cast("long").alias("n_pass"),
    )
    p = F.col("n_pass").cast("double") / F.col("n_docs").cast("double")
    n = F.col("n_docs").cast("double")
    return agg.select(
        "domain", "n_docs", "n_pass",
        F.round(p, 6).alias("pass_rate"),
        F.round(_wilson_lb(p, n), 6).alias("wilson_lb"),
    )


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned selective join: lineitem shuffles only rows whose
    orderkey MIGHT match the urgent/high-value order set — the dim's key
    set rides as an m/64-long bitset literal built by one distributed
    bit_or aggregate (operators/bloom.py; driver memory O(filter bits),
    independent of dim cardinality). Output is row-identical to the plain
    join — the oracle IS the plain join, so false-negative-freedom is what
    the hash compare verifies."""
    from .operators.bloom import bloom_prune_join

    _register(spark, sf_dir, "lineitem", "orders")
    dim = (
        spark.table("orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 150000.0)
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    fact = spark.table("lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    joined = bloom_prune_join(fact, dim, "l_orderkey", m_bits=1 << 16)
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family coverage on TPC-H-ish lineitem (partial/final agg shape)."""
    _register(spark, sf_dir, "lineitem")
    li = spark.table("lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(text) groups, keep min doc_id, report group size."""
    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    return (
        d.withColumn("fp", F.md5("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def q_flood_depth_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/flood estimators (ref flood_map.py:165-180): per-polygon numpy
    (mean + 3*std) and logstat (exp of log-domain stats) water heights.

    Join plan: one cover-cell equi-join carrying the bbox test as its
    condition (spatial_join_polygons) — a BroadcastHashJoin on cell_id, NOT
    a range-predicate BroadcastNestedLoopJoin: the nested loop scans every
    page against every box and goes cartesian at 100x polygons. Same rows
    (a page inside a box always carries a cover cell of that box; the join
    condition drops the rest).
    """
    from .operators.spatial_join import spatial_join_polygons

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    joined = spatial_join_polygons(pages, watershed_boxes(), res=8, how="inner").where(
        F.col("hand") > 0
    )
    return joined.groupBy("poly_id").agg(
        F.round(F.avg("hand") + 3.0 * F.stddev_pop("hand"), 6).alias("wh_numpy"),
        F.round(
            F.exp(F.avg(F.log("hand"))) + 3.0 * F.exp(F.stddev_pop(F.log("hand"))), 6
        ).alias("wh_logstat"),
        F.count(F.lit(1)).alias("n_pages"),
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top-10 unshipped-revenue
    orders for one market segment at a date cutoff. Plan: the filtered
    customer dim BROADCASTS into orders (no shuffle on the fact),
    orders->lineitem is the one co-partitioned join, top-10 is
    sort+limit (TakeOrdered heaps), never a global window. Revenue
    rounded 4dp after the sum per the float-sum parity precedent
    (pricing_summary)."""
    _register(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    c = spark.table("customer").where(F.col("c_mktsegment") == "BUILDING")
    o = spark.table("orders").where(F.col("o_orderdate") < cutoff)
    li = spark.table("lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue per nation for
    orders placed in 1996 where the supplier and customer share the
    nation, customers in EUROPE. Plan: all four dims (customer,
    supplier, nation, region) broadcast — the only exchange is the
    lineitem->orders co-partitioned join; the c_nationkey = s_nationkey
    colocation rule rides the supplier broadcast as an equi-key, not a
    post-filter."""
    _register(spark, sf_dir, "customer", "orders", "lineitem",
              "supplier", "nation", "region")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1997-01-01").cast("timestamp")
    o = spark.table("orders").where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = spark.table("lineitem")
    c = spark.table("customer")
    s = spark.table("supplier")
    n = spark.table("nation")
    r = spark.table("region").where(F.col("r_name") == "EUROPE")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), o["o_custkey"] == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (F.col("c_nationkey") == s["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality constraint report (Schelter 2018, public
    literature): one row per declared constraint with violation count,
    table size and a pass flag. Constraint classes covered: key
    uniqueness, referential integrity (anti-join), domain/set
    membership, range bounds, null checks, and a cross-table temporal
    rule (shipdate >= orderdate — violated ~5% in this synthetic data,
    so the report carries real failures, not an all-green sheet).

    Scale shape: all single-table checks over the same table are FUSED
    into ONE scan + conditional aggregate (a 100 TB audit reads each
    table once, not once per rule); uniqueness rides the same pass via
    count - count(distinct); referential and temporal checks are one
    shuffle-free broadcast anti-join / one co-partitioned join each."""
    _register(spark, sf_dir, "orders", "customer", "lineitem")
    o, c, li = (
        spark.table("orders"), spark.table("customer"), spark.table("lineitem")
    )
    o_agg = o.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("_dupes"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")).alias("_status"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("_price"),
    )
    li_agg = li.agg(
        F.count(F.lit(1)).alias("_n"),
        (F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")).alias("_dupes"),
        F.sum(((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")).alias("_qty"),
        F.sum(((F.col("l_discount") < 0) | (F.col("l_discount") > 0.08)).cast("long")).alias("_disc"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias("_shipnull"),
    )
    orphan = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("_bad"))
    )
    temporal = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .agg(F.sum((F.col("l_shipdate") < F.col("o_orderdate")).cast("long")).alias("_bad"))
    )
    n_o = o_agg.select("_n")
    n_li = li_agg.select("_n")

    def rows_from(agg_df, pairs):
        outs = []
        for name, bad_col in pairs:
            outs.append(agg_df.select(
                F.lit(name).alias("check_name"),
                F.col(bad_col).cast("long").alias("n_bad"),
                F.col("_n").cast("long").alias("n_rows"),
            ))
        return outs

    parts = rows_from(o_agg, [
        ("orders.o_orderkey unique", "_dupes"),
        ("orders.o_orderstatus in {O,F,P}", "_status"),
        ("orders.o_totalprice > 0", "_price"),
    ]) + rows_from(li_agg, [
        ("lineitem.(l_orderkey,l_linenumber) unique", "_dupes"),
        ("lineitem.l_quantity in [1,50]", "_qty"),
        ("lineitem.l_discount in [0,0.08]", "_disc"),
        ("lineitem.l_shipdate not null", "_shipnull"),
    ]) + [
        orphan.crossJoin(n_o).select(
            F.lit("orders.o_custkey references customer").alias("check_name"),
            F.col("_bad").cast("long").alias("n_bad"),
            F.col("_n").cast("long").alias("n_rows"),
        ),
        temporal.crossJoin(n_li).select(
            F.lit("lineitem.l_shipdate >= orders.o_orderdate").alias("check_name"),
            F.col("_bad").cast("long").alias("n_bad"),
            F.col("_n").cast("long").alias("n_rows"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "check_name", "n_bad", "n_rows", (F.col("n_bad") == 0).alias("passed")
    )


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------

def _domain_stats_oracle() -> str:
    from .functions import url as U

    synth = U.synth_url_sql("doc_id", oracle.DUCKDB)
    norm = U.normalize_url_sql("raw_url", oracle.DUCKDB)
    dom = U.domain_sql("norm_url", oracle.DUCKDB)
    return f"""
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_distinct_urls,
               MIN(norm_url) AS first_url
        FROM (
          SELECT {dom} AS domain, norm_url FROM (
            SELECT {norm} AS norm_url FROM (
              SELECT {synth} AS raw_url FROM documents
            )
          )
        )
        GROUP BY domain
    """


_HOTSPOT_RES = 5  # 32x32 cells
_HOTSPOT_MIN_PAGES = 3


def q_hotspot_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN-style geographic hotspot clusters of pages: cell-bin the
    geotagged pages (res 5), keep DENSE cells (>= 3 pages), 8-connect them
    into clusters (the W3 connected-components operator re-used on the
    density grid — per-tile pandas labeling + cross-tile merge), and roll
    up per-cluster page/cell counts + bbox. Grid-based density clustering
    avoids any point-to-point distance join: one salt-free cell aggregate,
    a components pass over ONLY the dense cells (<< page count), one hash
    rollup. Oracle: recursive-CTE reachability over the same dense cells."""
    from .core import cells as C
    from .operators.labeling import label_connected

    res, thr = _HOTSPOT_RES, _HOTSPOT_MIN_PAGES
    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    dense = (
        pages.select(
            F.expr(C.grid_y_sql("lat", res)).alias("row"),
            F.expr(C.grid_x_sql("lon", res)).alias("col"),
        )
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .where(F.col("n_pages") >= thr)
    )
    labeled = label_connected(
        dense.withColumn("flag", F.lit(True)), "flag", (8, 8)
    )
    stride = F.lit(1 << res).cast("long")
    return (
        labeled.join(dense, ["row", "col"])
        .groupBy("label")
        .agg(
            F.min(F.col("row") * stride + F.col("col")).alias("cluster_id"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_pages").alias("n_pages"),
            F.min("row").alias("min_row"),
            F.max("row").alias("max_row"),
            F.min("col").alias("min_col"),
            F.max("col").alias("max_col"),
        )
        .drop("label")
    )


def _hotspot_oracle() -> str:
    from .core import cells as C

    res, thr = _HOTSPOT_RES, _HOTSPOT_MIN_PAGES
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    px, py = C.grid_x_sql("lon", res), C.grid_y_sql("lat", res)
    return f"""
        WITH RECURSIVE dense AS (
          SELECT row, col, n_pages, CAST(row * {1 << res} + col AS BIGINT) AS pid
          FROM (
            SELECT {py} AS row, {px} AS col, COUNT(*) AS n_pages
            FROM {docs} p GROUP BY 1, 2
          ) c WHERE n_pages >= {thr}
        ),
        e AS (
          SELECT a.pid AS src, b.pid AS dst
          FROM dense a JOIN dense b
            ON ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1
           AND a.pid <> b.pid
        ),
        reach(pid, r) AS (
          SELECT pid, pid FROM dense
          UNION
          SELECT reach.pid, e.dst FROM reach JOIN e ON e.src = reach.r
        ),
        m AS (SELECT pid, MIN(r) AS cluster_id FROM reach GROUP BY pid)
        SELECT m.cluster_id, COUNT(*) AS n_cells,
               CAST(SUM(d.n_pages) AS BIGINT) AS n_pages,
               MIN(d.row) AS min_row, MAX(d.row) AS max_row,
               MIN(d.col) AS min_col, MAX(d.col) AS max_col
        FROM dense d JOIN m ON m.pid = d.pid
        GROUP BY m.cluster_id
    """


_IDW_RES = 5
_IDW_EPS = 1e-6
_IDW_OFFSETS = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]


def q_idw_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation of page values onto the
    res-5 cell grid (the scattered-point twin of W2's Gaussian grid
    infill; classic geostatistics, Shepard 1968). Each page contributes
    to its own cell and the 8 ring-1 neighbors with weight
    1/(d^2 + eps), d = planar distance to the neighbor's cell CENTER —
    so every target cell aggregates only pages within its 3x3 ring,
    never a global scan. Spark shape: one 9-way offset explode (constant
    fan-out) + ONE partial/final hash aggregate on the target cell; at
    10^12 pages the exchange carries one partial (sum_wv, sum_w) pair
    per (partition, cell). Grid edges: neighbors outside [0, 2^res)
    are dropped (no wraparound), identically in the oracle."""
    from .operators.geometry import idw_interpolate

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    return idw_interpolate(pages, _IDW_RES, eps=_IDW_EPS)


def _idw_oracle() -> str:
    from .core import cells as C

    res, n = _IDW_RES, 1 << _IDW_RES
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    px, py = C.grid_x_sql("lon", res), C.grid_y_sql("lat", res)
    offs = ", ".join(f"({dr}, {dc})" for dr, dc in _IDW_OFFSETS)
    d = oracle.dbl
    return f"""
        WITH base AS (
          SELECT {py} AS py, {px} AS px, lat, lon, value FROM {docs} p
        ),
        tgt AS (
          SELECT b.py + o.dr AS row, b.px + o.dc AS col, b.lat, b.lon, b.value
          FROM base b CROSS JOIN (VALUES {offs}) AS o(dr, dc)
          WHERE b.py + o.dr >= 0 AND b.py + o.dr < {n}
            AND b.px + o.dc >= 0 AND b.px + o.dc < {n}
        ),
        wt AS (
          SELECT row, col, value,
                 {d(1.0)} / (
                   (lat - ({d(-90.0)} + (CAST(row AS DOUBLE) + {d(0.5)}) * ({d(180.0)} / {d(float(n))})))
                 * (lat - ({d(-90.0)} + (CAST(row AS DOUBLE) + {d(0.5)}) * ({d(180.0)} / {d(float(n))})))
                 + (lon - ({d(-180.0)} + (CAST(col AS DOUBLE) + {d(0.5)}) * ({d(360.0)} / {d(float(n))})))
                 * (lon - ({d(-180.0)} + (CAST(col AS DOUBLE) + {d(0.5)}) * ({d(360.0)} / {d(float(n))})))
                 + {d(_IDW_EPS)}) AS w
          FROM tgt
        )
        SELECT row, col, ROUND(SUM(w * value) / SUM(w), 6) AS idw_value,
               COUNT(*) AS n_contrib
        FROM wt GROUP BY row, col
    """


def q_extract_text_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule per-row invariant (BASELINE.json input_hint:
    byte-identical extracted text per url) as a driver-gated row: build an
    html document around each driver text (title + attributes + inline
    tags via replace), run the engine's canonical extraction
    (sources.pages.extract_text — strip tags, collapse whitespace), and
    emit md5 + length of the extracted bytes. The oracle constructs the
    SAME html and extracts with DuckDB's OWN regex engine (RE2 vs Spark's
    Java regex) — the md5 value-hash match is a two-engine proof the
    extraction is byte-identical. Pure map stage: no shuffle at all at
    10^12 rows."""
    from .sources.pages import extract_text

    from .core.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</title></head><body onload="boot()"><p>'),
        F.replace(F.col("text"), F.lit("line"), F.lit("<em>line</em>")),
        F.lit("</p></body></html>"),
    )
    extracted = extract_text(html.cast("binary"))
    return docs.select(
        "doc_id",
        F.md5(extracted.cast("binary")).alias("text_md5"),
        F.length(extracted).cast("long").alias("n_chars"),
    )


def _extract_text_parity_oracle() -> str:
    return r"""
        SELECT doc_id, MD5(extracted) AS text_md5,
               CAST(LENGTH(extracted) AS BIGINT) AS n_chars
        FROM (
          SELECT doc_id,
                 REGEXP_REPLACE(REGEXP_REPLACE(html, '<[^>]*>', ' ', 'g'),
                                '\s+', ' ', 'g') AS extracted
          FROM (
            SELECT doc_id,
                   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
                   || '</title></head><body onload="boot()"><p>'
                   || REPLACE(text, 'line', '<em>line</em>')
                   || '</p></body></html>' AS html
            FROM documents
          )
        )
    """


_PYR_BASE_RES = 6


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom z/x/y tile-pyramid rollup of the geotagged pages (res 6
    down to res 0) — the pre-aggregation a web-map tile server serves, and
    the canonical hypertable-rollup shape. One scan of the point table
    (base-zoom partial/final aggregate), then every coarser zoom rolls up
    from the base CELLS via a constant-fan ancestor explode + one tiny
    hash aggregate — at 10^12 pages the second exchange carries at most
    7 * 4^6 rows. Oracle: per-level re-aggregation of the same base CTE
    (a flat recompute — deliberately a different formulation than the
    ancestor explode)."""
    from .operators.tiling import tile_pyramid

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    pyr = tile_pyramid(pages, _PYR_BASE_RES)
    return pyr.select(
        "res", "row", "col", "n_pages",
        F.round(F.col("sum_value") / F.col("n_pages"), 6).alias("mean_value"),
    )


def _tile_pyramid_oracle() -> str:
    from .core import cells as C

    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    px = C.grid_x_sql("lon", _PYR_BASE_RES)
    py = C.grid_y_sql("lat", _PYR_BASE_RES)
    levels = ", ".join(f"({r})" for r in range(_PYR_BASE_RES + 1))
    return f"""
        WITH base AS (
          SELECT {py} AS row, {px} AS col,
                 COUNT(*) AS n, SUM(value) AS s
          FROM {docs} p GROUP BY 1, 2
        ),
        lv(res) AS (VALUES {levels})
        SELECT lv.res,
               base.row >> ({_PYR_BASE_RES} - lv.res) AS row,
               base.col >> ({_PYR_BASE_RES} - lv.res) AS col,
               CAST(SUM(n) AS BIGINT) AS n_pages,
               ROUND(SUM(s) / SUM(n), 6) AS mean_value
        FROM base CROSS JOIN lv
        GROUP BY 1, 2, 3
    """


def _poly_verts_sql() -> str:
    from .sources.polygons import vertices_values_sql, watershed_polygons

    return vertices_values_sql(watershed_polygons())


def q_pip_page_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact point-in-polygon page counts over TRUE 12-gon rings — the
    UDF-free crossing-number refine as a driver-gated row (J2's exact
    stage; ref vector.py get_features/OGR Contains). bbox prune
    (broadcast, map-side) -> broadcast ring-edge join -> crossing parity;
    n_candidates counts the bbox survivors, n_inside the exact hits, so
    the row also PINS how much the refine tightens the cover join.
    Oracle: the identical ray-crossing algebra over a VALUES edge table
    (same repr-rendered double literals)."""
    from .operators.geometry import pip_candidates
    from .sources.polygons import bbox_cover_df, polygon_edges_df, watershed_polygons

    polys = watershed_polygons()
    edges = polygon_edges_df(spark, polys)
    cover = bbox_cover_df(spark, polys, 8)
    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    flags = pip_candidates(pages, edges, key="doc_id", cover=cover)
    return flags.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("inside"), 1).otherwise(0)).cast("long").alias("n_inside"),
    )


def q_pip_strtree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact-PIP rollup as pip_page_counts, but candidates come
    from the broadcast STRtree probe (operators/strtree.py — the
    north_star's 'STRtree per partition' formulation: packed-leaf bbox
    index in the task closure, vectorized two-level scan in mapInPandas)
    instead of the cover-cell equi-join. Both generators implement the
    IDENTICAL bbox-containment predicate and share pip_refine, so this
    row sharing pip_page_counts' oracle IS the cross-engine proof the two
    index strategies agree end-to-end."""
    from .operators.geometry import pip_refine
    from .operators.strtree import strtree_candidates
    from .sources.polygons import polygon_edges_df, watershed_polygons

    polys = watershed_polygons()
    edges = polygon_edges_df(spark, polys)
    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    cand = strtree_candidates(pages, polys, key="doc_id").withColumn(
        "poly_id", F.col("poly_id").cast("int")
    )
    flags = pip_refine(cand, edges, key="doc_id")
    return flags.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("inside"), 1).otherwise(0)).cast("long").alias("n_inside"),
    )


def _pip_oracle() -> str:
    from .sources.polygons import CROSSING_PRED as CROSS_PRED
    from .sources.polygons import edges_values_sql, watershed_polygons

    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    edges = edges_values_sql(watershed_polygons())
    return f"""
        WITH edges AS (SELECT * FROM {edges} e),
        boxes AS (
          SELECT poly_id,
                 MIN(LEAST(x1, x2)) AS minx, MAX(GREATEST(x1, x2)) AS maxx,
                 MIN(LEAST(y1, y2)) AS miny, MAX(GREATEST(y1, y2)) AS maxy
          FROM edges GROUP BY poly_id
        ),
        cand AS (
          SELECT b.poly_id, p.doc_id, p.lat, p.lon
          FROM {docs} p JOIN boxes b
            ON p.lon >= b.minx AND p.lon <= b.maxx
           AND p.lat >= b.miny AND p.lat <= b.maxy
        ),
        par AS (
          SELECT c.poly_id, c.doc_id, COUNT(*) AS nc
          FROM cand c JOIN edges e ON e.poly_id = c.poly_id
           AND {CROSS_PRED}
          GROUP BY c.poly_id, c.doc_id
        )
        SELECT c.poly_id, COUNT(*) AS n_candidates,
               CAST(SUM(CASE WHEN p.nc % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_inside
        FROM cand c
        LEFT JOIN par p ON p.poly_id = c.poly_id AND p.doc_id = c.doc_id
        GROUP BY c.poly_id
    """


_SIMPLIFY_TOL = 0.35


def q_simplify_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker polygon generalization over the watershed rings —
    numpy DP per ring in ONE Arrow batch group (rings independent; the
    repo's sanctioned grouped-UDF case). Oracle: a PURE-PYTHON DP replay
    (sources/polygons.simplify_rings_py — no numpy, no Spark) emitted as
    VALUES at oracle-build time: a genuine two-implementation check the
    driver re-runs fresh each round (no stored goldens)."""
    from .operators.geometry import simplify_rings
    from .sources.polygons import polygon_vertices_df, watershed_polygons

    verts = polygon_vertices_df(spark, watershed_polygons())
    return simplify_rings(verts, _SIMPLIFY_TOL)


def _simplify_oracle() -> str:
    from .sources.polygons import simplified_values_sql, watershed_polygons

    vals = simplified_values_sql(watershed_polygons(), _SIMPLIFY_TOL)
    return f"SELECT poly_id, idx, lon, lat FROM {vals} sv"


def q_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-layer metrics (shoelace area / centroid / perimeter) over
    the watershed 12-gon rings as an exploded vertex table — the
    DataFrame re-expression of the reference's per-feature OGR loops
    (ref vector.py get_features). Ring closure via one co-partitioned
    (poly_id, idx) self-join; everything else is hash aggregates. Oracle:
    the same shoelace algebra over an identical VALUES vertex table."""
    from .operators.geometry import polygon_stats
    from .sources.polygons import polygon_vertices_df, watershed_polygons

    verts = polygon_vertices_df(spark, watershed_polygons())
    return polygon_stats(verts)


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex hull per watershed ring (CCW from the lexicographically
    smallest vertex, strict turns) — the footprint-outline operator over
    the vector layer (ref vector.py per-feature OGR geometry ops). One
    Arrow batch per ring, rings fan out across executors. Oracle: a
    PURE-PYTHON monotone-chain replay (sources/polygons.convex_hull_py —
    no numpy, no Spark) emitted as VALUES fresh each run; pytest
    additionally pins both against the O(n^3) extreme-point DUAL
    characterization on random clouds."""
    from .operators.geometry import convex_hull
    from .sources.polygons import polygon_vertices_df, watershed_polygons

    verts = polygon_vertices_df(spark, watershed_polygons())
    return convex_hull(verts.select("poly_id", "lon", "lat"))


def _convex_hull_oracle() -> str:
    from .sources.polygons import hull_values_sql, watershed_polygons

    vals = hull_values_sql(watershed_polygons())
    return f"SELECT poly_id, hull_idx, lon, lat, n_input FROM {vals} hv"


_BAND_KM = 25.0
_BAND_RES = 6


def q_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band self-join: all page pairs within 25 great-circle km
    (the eps-neighborhood primitive under DBSCAN / spatial weights). Cell
    prune at res 6 (3x3 offset explode + ONE equi-join), exact haversine
    refine; coverage margin is wide — 25 km vs 312 km lat cells and
    54.5 km effective lon cells at the corpus |lat| <= 85 bound. Oracle:
    the BRUTE-FORCE all-pairs haversine join — the PASS is an exactness
    proof for the prune (no pair within the band escapes the 3x3 ring),
    like setsim_join/editsim_pairs for their filters."""
    from .operators.spatial_join import distance_band_join

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    out = distance_band_join(pages, _BAND_KM, _BAND_RES, key="doc_id")
    return out.select(
        F.col("key_a").alias("doc_a"), F.col("key_b").alias("doc_b"), "dist_km"
    )


def _distance_pairs_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    hav = (
        "2.0 * 6371.0088 * ASIN(SQRT(POWER(SIN(RADIANS(b.lat - a.lat) / 2), 2) "
        "+ COS(RADIANS(a.lat)) * COS(RADIANS(b.lat)) "
        "* POWER(SIN(RADIANS(b.lon - a.lon) / 2), 2)))"
    )
    return f"""
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ROUND({hav}, 4) AS dist_km
        FROM {docs} a JOIN {docs} b ON a.doc_id < b.doc_id
        WHERE {hav} <= {oracle.dbl(_BAND_KM)}
    """


_SPSTATS_RES = 5


def _spstats_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (row, col, x) cell grid for the autocorrelation rows —
    bounded by 4^res rows, eagerly materialized ONCE because both
    statistics branch over it three ways (contrib / join target / global
    moments) within a single action; without the checkpoint Catalyst
    re-executes the full page->cell aggregate per branch (3x the page
    scan — the lazy-persist race documented in sources/maintenance)."""
    from .operators.spatial_stats import cell_value_grid

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    return cell_value_grid(pages, _SPSTATS_RES).localCheckpoint(eager=True)


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation (Moran 1950) of per-cell
    mean page value on the res-5 grid, binary queen weights — the
    is-the-surface-clustered-at-all statistic behind the reference's
    tile-coherence reasoning. Weights matrix realized as a constant
    fan-out offset explode + ONE equi-join (never O(n^2)); global
    moments ride a broadcast 1-row aggregate. Oracle: the INDEPENDENT
    neighbor formulation (self-join on ABS(dr)<=1 predicates)."""
    from .operators.spatial_stats import morans_i

    return morans_i(_spstats_cells(spark, sf_dir))


def q_gi_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Getis-Ord Gi* hotspot z-score per occupied res-5 cell
    (Getis & Ord 1992) — the inferential twin of hotspot_clusters
    (density says where; Gi* says how surprising). Same offset-explode
    weights realization; NULL where the denominator degenerates,
    identically in the oracle's ABS-predicate self-join replay."""
    from .operators.spatial_stats import getis_ord_gi_star

    return getis_ord_gi_star(_spstats_cells(spark, sf_dir))


def _spstats_cells_sql(docs: str) -> str:
    from .core import cells as C

    res = _SPSTATS_RES
    px, py = C.grid_x_sql("lon", res), C.grid_y_sql("lat", res)
    return f"""cells AS (
          SELECT row, col, ROUND(AVG(value), 6) AS x FROM (
            SELECT {py} AS row, {px} AS col, value FROM {docs} p
          ) b GROUP BY row, col
        ),
        g AS (SELECT COUNT(*) AS n, AVG(x) AS m, SUM(x * x) AS sxx FROM cells)"""


def _morans_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    return f"""
        WITH {_spstats_cells_sql(docs)},
        pr AS (
          SELECT SUM((a.x - g.m) * (b.x - g.m)) AS cross_sum,
                 COUNT(*) AS w_sum
          FROM cells a JOIN cells b
            ON ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1
           AND NOT (a.row = b.row AND a.col = b.col)
          CROSS JOIN g
        )
        SELECT g.n AS n_cells, pr.w_sum,
               CASE WHEN g.n >= 2 AND pr.w_sum > 0
                         AND g.sxx - g.n * g.m * g.m > 0
                    THEN ROUND(g.n * pr.cross_sum
                         / (pr.w_sum * (g.sxx - g.n * g.m * g.m)), 6)
               END AS morans_i,
               CASE WHEN g.n >= 2 THEN ROUND(-1.0 / (g.n - 1), 6)
               END AS expected_i
        FROM g CROSS JOIN pr
    """


def _gi_star_oracle() -> str:
    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    return f"""
        WITH {_spstats_cells_sql(docs)},
        nb AS (
          SELECT a.row, a.col, SUM(b.x) AS sum_x, COUNT(*) AS w_i
          FROM cells a JOIN cells b
            ON ABS(a.row - b.row) <= 1 AND ABS(a.col - b.col) <= 1
          GROUP BY a.row, a.col
        )
        SELECT nb.row, nb.col, nb.w_i, ROUND(nb.sum_x, 6) AS sum_x,
               CASE WHEN g.n >= 2 AND g.sxx / g.n - g.m * g.m > 0
                         AND g.n * nb.w_i - nb.w_i * nb.w_i > 0
                    THEN ROUND((nb.sum_x - g.m * nb.w_i)
                         / (SQRT(g.sxx / g.n - g.m * g.m)
                          * SQRT(CAST(g.n * nb.w_i - nb.w_i * nb.w_i AS DOUBLE)
                                 / (g.n - 1))), 6)
               END AS gi_z
        FROM nb CROSS JOIN g
    """


def _oracle_sqls() -> dict[str, str]:
    d = oracle.DUCKDB
    docs = oracle.geotagged_documents_sql(8, d)
    boxes = boxes_values_sql(watershed_boxes())
    grid = _grid_sql(d)

    knn_res = 4
    from .core import cells as C

    n4 = 1 << knn_res
    page_x = C.grid_x_sql("lon", knn_res)
    page_y = C.grid_y_sql("lat", knn_res)
    hotspot_rows = ", ".join(
        f"({i}, {oracle.dbl(lat)}, {oracle.dbl(lon)})" for i, (lat, lon) in enumerate(oracle.HOTSPOTS)
    )
    hav = (
        "2.0 * 6371.0088 * ASIN(SQRT(POWER(SIN(RADIANS(t_lat - lat) / 2), 2) "
        "+ COS(RADIANS(lat)) * COS(RADIANS(t_lat)) * POWER(SIN(RADIANS(t_lon - lon) / 2), 2)))"
    )

    return {
        "cell_assign_counts": f"""
            SELECT cell_id, COUNT(*) AS n_pages, ROUND(AVG(value), 6) AS mean_value
            FROM {docs} p GROUP BY cell_id
        """,
        "morans_i": _morans_oracle(),
        "gi_star": _gi_star_oracle(),
        "shipping_priority": """
            SELECT l_orderkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   o_orderdate, o_orderpriority
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1998-06-01'
              AND l_shipdate > TIMESTAMP '1998-06-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "region_supplier_volume": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey
              AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "dq_checks": """
            WITH o_agg AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dupes,
                     CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                              THEN 1 ELSE 0 END) AS BIGINT) AS status,
                     CAST(SUM(CASE WHEN o_totalprice <= 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS price
              FROM orders
            ),
            li_agg AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
                          AS BIGINT) AS dupes,
                     CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                              THEN 1 ELSE 0 END) AS BIGINT) AS qty,
                     CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.08
                              THEN 1 ELSE 0 END) AS BIGINT) AS disc,
                     CAST(SUM(CASE WHEN l_shipdate IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS shipnull
              FROM lineitem
            ),
            orphan AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS bad
              FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_custkey IS NULL
            ),
            temporal AS (
              SELECT CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                              THEN 1 ELSE 0 END) AS BIGINT) AS bad
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            ),
            rep AS (
              SELECT 'orders.o_orderkey unique' AS check_name,
                     dupes AS n_bad, n AS n_rows FROM o_agg
              UNION ALL SELECT 'orders.o_orderstatus in {O,F,P}', status, n FROM o_agg
              UNION ALL SELECT 'orders.o_totalprice > 0', price, n FROM o_agg
              UNION ALL SELECT 'lineitem.(l_orderkey,l_linenumber) unique',
                               dupes, n FROM li_agg
              UNION ALL SELECT 'lineitem.l_quantity in [1,50]', qty, n FROM li_agg
              UNION ALL SELECT 'lineitem.l_discount in [0,0.08]', disc, n FROM li_agg
              UNION ALL SELECT 'lineitem.l_shipdate not null', shipnull, n FROM li_agg
              UNION ALL SELECT 'orders.o_custkey references customer',
                               orphan.bad, o_agg.n FROM orphan, o_agg
              UNION ALL SELECT 'lineitem.l_shipdate >= orders.o_orderdate',
                               temporal.bad, li_agg.n FROM temporal, li_agg
            )
            SELECT check_name, n_bad, n_rows, (n_bad = 0) AS passed FROM rep
        """,
        "distance_pairs": _distance_pairs_oracle(),
        "convex_hull": _convex_hull_oracle(),
        "tile_assignments": f"""
            SELECT b.poly_id, p.cell_id, COUNT(*) AS n_pages,
                   ROUND(AVG(p.value), 6) AS mean_value,
                   ROUND(SUM(CASE WHEN p.hand < 15.0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
                     AS low_hand_fraction,
                   (SUM(CASE WHEN p.hand < 15.0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)) > 0.8
                     AS hand_candidate
            FROM {docs} p JOIN {boxes} b
              ON p.lat >= b.min_lat AND p.lat <= b.max_lat
             AND p.lon >= b.min_lon AND p.lon <= b.max_lon
            GROUP BY b.poly_id, p.cell_id
        """,
        "knn_pages": f"""
            WITH pages AS (
              SELECT doc_id, lat, lon, {page_x} AS px, {page_y} AS py FROM {docs} p
            ),
            targets AS (
              SELECT t.target_id, t.t_lat, t.t_lon,
                     {C.grid_x_sql("t_lon", knn_res)} AS tx, {C.grid_y_sql("t_lat", knn_res)} AS ty
              FROM (VALUES {hotspot_rows}) AS t(target_id, t_lat, t_lon)
            ),
            cand AS (
              SELECT p.doc_id, t.target_id, {hav} AS dist_km
              FROM pages p JOIN targets t
                ON LEAST(ABS(p.px - t.tx), {n4} - ABS(p.px - t.tx)) <= 1
               AND ABS(p.py - t.ty) <= 1
            ),
            ranked AS (
              SELECT doc_id, target_id, dist_km,
                     ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist_km ASC, target_id ASC)
                       AS knn_rank
              FROM cand
            )
            SELECT doc_id, target_id, ROUND(dist_km, 4) AS dist_km, knn_rank
            FROM ranked WHERE knn_rank <= 3
        """,
        "convert_scale": """
            SELECT event_id,
                   ROUND(POWER(CAST(10.0 AS DOUBLE), (value / 20.0 - 12.0) / 10.0), 6) AS power,
                   ROUND(POWER(CAST(10.0 AS DOUBLE), (value / 20.0 - 12.0) / 20.0), 6) AS amplitude
            FROM events WHERE value IS NOT NULL
        """,
        "gaussian_scale": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(LOG10(l_extendedprice) + 30.0, 6) AS gaussian
            FROM lineitem WHERE l_extendedprice > 0
        """,
        "tile_median": f"""
            SELECT tile_id, ROUND(MEDIAN(value), 6) AS med_value FROM {grid} g GROUP BY tile_id
        """,
        "subtile_mean_std": f"""
            WITH sub AS (
              SELECT tile_id, subtile_id, AVG(value) AS sub_mean
              FROM {grid} g GROUP BY tile_id, subtile_id
            )
            SELECT tile_id, ROUND(STDDEV_POP(sub_mean), 6) AS sub_std,
                   COUNT(*) AS n_subtiles
            FROM sub GROUP BY tile_id
        """,
        "top5_variance_tiles": f"""
            WITH sub AS (
              SELECT tile_id, subtile_id, AVG(value) AS sub_mean
              FROM {grid} g GROUP BY tile_id, subtile_id
            ),
            stats AS (
              SELECT tile_id, STDDEV_POP(sub_mean) AS sub_std FROM sub GROUP BY tile_id
            )
            SELECT tile_id, ROUND(sub_std, 6) AS sub_std, rk FROM (
              SELECT tile_id, sub_std,
                     ROW_NUMBER() OVER (ORDER BY sub_std DESC, tile_id ASC) AS rk
              FROM stats
            ) WHERE rk <= 5
        """,
        "zmf_membership": f"""
            SELECT event_id, ROUND({zmf_sql("value", 10.0, 100.0)}, 6) AS membership
            FROM events WHERE value IS NOT NULL
        """,
        "candidate_intersection": f"""
            WITH med AS (
              SELECT tile_id, MEDIAN(value) AS med FROM {grid} g GROUP BY tile_id
            ),
            low AS (
              SELECT tile_id FROM med WHERE med < (SELECT MEDIAN(med) FROM med)
            ),
            big AS (
              SELECT tile_id FROM {grid} g GROUP BY tile_id HAVING COUNT(*) >= 100
            )
            SELECT tile_id FROM low INTERSECT SELECT tile_id FROM big
        """,
        "remove_small_segments": """
            SELECT user_id, COUNT(*) AS n_events FROM events
            WHERE user_id NOT IN (
              SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) < 5
            )
            GROUP BY user_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "dedup_exact": """
            SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "domain_stats": _domain_stats_oracle(),
        "bloom_join": """
            SELECT l.l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   ROUND(SUM(l.l_extendedprice), 4) AS sum_price
            FROM lineitem l
            JOIN (SELECT o_orderkey FROM orders
                  WHERE o_orderpriority = '1-URGENT'
                    AND o_totalprice > CAST(150000.0 AS DOUBLE)) o
              ON l.l_orderkey = o.o_orderkey
            GROUP BY l.l_returnflag
        """,
        "flood_depth_simple": f"""
            SELECT b.poly_id,
                   ROUND(AVG(p.hand) + 3.0 * STDDEV_POP(p.hand), 6) AS wh_numpy,
                   ROUND(EXP(AVG(LN(p.hand))) + 3.0 * EXP(STDDEV_POP(LN(p.hand))), 6)
                     AS wh_logstat,
                   COUNT(*) AS n_pages
            FROM {docs} p JOIN {boxes} b
              ON p.lat >= b.min_lat AND p.lat <= b.max_lat
             AND p.lon >= b.min_lon AND p.lon <= b.max_lon
            WHERE p.hand > 0
            GROUP BY b.poly_id
        """,
        "hotspot_clusters": _hotspot_oracle(),
        "domain_quality": _domain_quality_oracle(),
        "pip_page_counts": _pip_oracle(),
        "pip_strtree": _pip_oracle(),
        "idw_grid": _idw_oracle(),
        "tile_pyramid": _tile_pyramid_oracle(),
        "extract_text_parity": _extract_text_parity_oracle(),
        "simplify_rings": _simplify_oracle(),
        "polygon_stats": f"""
            WITH v AS (SELECT * FROM {_poly_verts_sql()} pv),
            k AS (SELECT poly_id, COUNT(*) AS k FROM v GROUP BY poly_id),
            e AS (
              SELECT a.poly_id, k.k,
                     a.lon AS x1, a.lat AS y1, b.lon AS x2, b.lat AS y2,
                     a.lon * b.lat - b.lon * a.lat AS cr
              FROM v a
              JOIN k ON k.poly_id = a.poly_id
              JOIN v b ON b.poly_id = a.poly_id AND b.idx = (a.idx + 1) % k.k
            ),
            agg AS (
              SELECT poly_id, MAX(k) AS n_vertices, SUM(cr) / 2.0 AS sa,
                     SUM((x1 + x2) * cr) AS sx, SUM((y1 + y2) * cr) AS sy,
                     SUM(SQRT((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)))
                       AS per
              FROM e GROUP BY poly_id
            )
            SELECT poly_id, CAST(n_vertices AS BIGINT) AS n_vertices,
                   ROUND(ABS(sa), 6) AS area,
                   ROUND(CASE WHEN sa <> 0 THEN sx / (6.0 * sa) END, 6) AS cx,
                   ROUND(CASE WHEN sa <> 0 THEN sy / (6.0 * sa) END, 6) AS cy,
                   ROUND(per, 6) AS perimeter
            FROM agg
        """,
    }


# The registry: one line per row, in driver order. A line (name, module)
# names the builder ``q_<name>`` in ``asf_tools_spark.<module>``; its oracle
# is the entry of that module's ``_oracle_sqls()``. A rows-only line carries
# a third field, the reason it has no oracle. The family of a row is its
# module.
#
# Window policy: the driver records the FIRST 50 rows in
# CORRECTNESS_r{N}.json, so the order is part of the contract. The newest
# rows go first, because they are the least externally verified and need the
# driver row most. Rows that have been driver-green in several rounds, and
# rows-only rows (which only get the weaker count check), rotate to the tail.
# The full battery (scripts/check_correctness.py) remains the canonical
# record for tail rows.
REGISTRY = (
    # round-5 additions
    ("quadkey_rollup", "queries_geo"),
    ("geohash_rollup", "queries_geo"),
    ("track_stats", "queries_geo"),
    ("od_matrix", "queries_geo"),
    ("trip_segments", "queries_geo"),
    ("colocation_pairs", "queries_geo"),
    ("bearing_rose", "queries_geo"),
    ("geofence_events", "queries_geo"),
    ("emerging_hotspots", "queries_geo"),
    ("domain_geo_spread", "queries_geo"),
    ("polygon_raster", "queries_geo"),
    ("geofence_dwell", "queries_geo"),
    ("vector_tiles", "queries_geo"),
    ("zonal_stats", "queries_geo"),
    ("spatial_split", "queries_geo"),
    ("track_similarity", "queries_geo"),
    ("gi_star_spacetime", "queries_geo"),
    ("fence_distance", "queries_geo"),
    ("hilbert_rollup", "queries_geo"),
    ("label_boundaries", "queries_grid"),
    ("cell_top_sources", "queries_geo"),
    ("tile_decay_rank", "queries_geo"),
    ("ppr_scores", "queries_text"),
    ("clustering_coeff", "queries_text"),
    ("kcore_nodes", "queries_events"),
    ("moving_avg_7d", "queries_events"),
    ("pip_strtree", "queries"),
    ("media_dedup", "queries_raster"),
    ("event_pivot", "queries_events"),
    ("wow_growth", "queries_events"),
    ("embedding_cov", "queries_text"),
    ("extract_text_parity", "queries"),
    ("value_anomalies", "queries_events"),
    ("tile_pyramid", "queries"),
    ("aspect_grid", "queries_grid"),
    ("morans_i", "queries"),
    ("gi_star", "queries"),
    ("distance_pairs", "queries"),
    ("convex_hull", "queries"),
    ("shortest_paths", "queries_text"),
    ("scd2_history", "queries_text"),
    ("rrf_fusion", "queries_text"),
    ("hillshade_grid", "queries_grid"),
    ("json_extract_stats", "queries_events"),
    ("transition_probs", "queries_events"),
    ("cohort_retention", "queries_events"),
    ("lpa_communities", "queries_events"),
    ("nb_classify", "queries_text"),
    ("dq_checks", "queries"),
    ("shipping_priority", "queries"),
    ("region_supplier_volume", "queries"),
    ("textrank_terms", "queries_text"),
    ("gap_fill_days", "queries_events"),
    ("zipf_slope", "queries_text"),
    ("domain_quality", "queries"),
    ("simplify_rings", "queries"),
    ("containment_pairs", "queries_text"),
    ("idw_grid", "queries"),
    ("pip_page_counts", "queries"),
    ("hotspot_clusters", "queries"),
    ("editsim_pairs", "queries_text"),
    ("polygon_stats", "queries"),
    ("chi2_terms", "queries_text"),
    ("pareto_frontier", "queries_text"),
    ("trend_ols", "queries_text"),
    ("interval_merge", "queries_text"),
    ("triangle_counts", "queries_text"),
    ("morph_open_grid", "queries_grid"),
    ("hits_scores", "queries_text"),
    ("chunk_passages", "queries_text"),
    ("bfs_hops", "queries_text"),
    ("char_entropy", "queries_text"),
    ("event_funnel", "queries_text"),
    ("setsim_join", "queries_text"),
    ("phrase_search", "queries_text"),
    ("sliding_windows", "queries_text"),
    ("heavy_hitters", "queries_text"),
    ("histogram_quantile", "queries_text"),
    ("cube_stats", "queries_text"),
    ("sorted_neighborhood", "queries_text"),
    ("lm_perplexity", "queries_text"),
    ("kmv_distinct", "queries_text"),
    ("merge_upsert", "queries_text"),
    ("weighted_sample", "queries_text"),
    ("classifier_score", "queries_text"),
    ("tfidf_terms", "queries_text"),
    ("bm25_search", "queries_text"),
    ("cooccur_pmi", "queries_text"),
    ("pagerank_domains", "queries_text"),
    # round-4 additions (driver-green once, r4)
    ("bpe_tokens", "queries_text"),
    ("substring_dedup", "queries_text"),
    ("bloom_join", "queries"),
    ("domain_stats", "queries"),
    ("corpus_budget_bpe", "queries_text"),
    # round-3 additions (battery-green in r3, no driver row yet)
    ("repetition_signals", "queries_text"),
    ("pii_scrub", "queries_text"),
    ("line_dedup", "queries_text"),
    ("corpus_sample", "queries_text"),
    ("top_ngrams", "queries_text"),
    ("asof_join", "queries_text"),
    ("range_join_counts", "queries_text"),
    ("corpus_budget", "queries_text"),
    ("decontaminate", "queries_text"),
    ("corpus_funnel", "queries_text"),
    ("snapshot_diff", "queries_text"),
    ("split_leakage", "queries_text"),
    ("sequence_packing", "queries_text"),
    # grid/raster core family (driver-green once, r3): in-window for a
    # second driver row
    ("segment_areas_grid", "queries_grid"),
    ("label_bboxes", "queries_grid"),
    ("em_fixture_thresholds", "queries_grid"),
    ("gaussian_infill", "queries_grid"),
    ("flow_direction_grid", "queries_grid"),
    ("flow_accum_grid", "queries_grid"),
    ("hand_grid", "queries_grid"),
    ("flood_depth_grid", "queries_grid"),
    ("mask_union_grid", "queries_grid"),
    ("scaling_factor", "queries_grid"),
    ("event_sessions", "queries_raster"),
    ("confusion_counts", "queries_raster"),
    ("threshold_water_map", "queries_grid"),
    ("slope_rows", "queries_grid"),
    ("grid_labels", "queries_grid"),
    # older oracled rows that the rotation has not moved
    ("cell_assign_counts", "queries"),
    ("tile_assignments", "queries"),
    ("knn_pages", "queries"),
    ("tile_median", "queries"),
    ("subtile_mean_std", "queries"),
    ("top5_variance_tiles", "queries"),
    ("candidate_intersection", "queries"),
    ("remove_small_segments", "queries"),
    ("dedup_exact", "queries"),
    ("flood_depth_simple", "queries"),
    ("minhash_signatures", "queries_text"),
    ("lsh_pairs", "queries_text"),
    ("lsh_recall_report", "queries_text"),
    ("jaccard_pairs", "queries_text"),
    ("dedup_clusters", "queries_text"),
    ("epsg_vote", "queries_raster"),
    ("histogram_smooth", "queries_raster"),
    # driver-green in r1+r2+r3: rotated out as multiply-verified
    ("reverse_cdf_threshold", "queries_raster"),
    ("label_stats_nmad", "queries_raster"),
    ("mosaic_weighted", "queries_raster"),
    ("gaussian_scale", "queries"),
    ("zmf_membership", "queries"),
    ("simhash", "queries_text"),
    ("hamming_pairs", "queries_text"),
    ("lang_id", "queries_text"),
    ("quality_score", "queries_text"),
    ("bpe_token_count", "queries_text"),
    ("winnow_fingerprint", "queries_text"),
    ("ann_cosine_topk", "queries_text"),
    ("ann_topk_int8", "queries_text"),
    ("bbox_filename_filter", "queries_raster"),
    ("rgb_decomp", "queries_raster"),
    ("log_diff", "queries_raster"),
    ("cell_rollup", "queries_raster"),
    ("fill_missing_tiles", "queries_raster"),
    # trivial string functions / generic TPC-H demos, driver-green twice
    ("tile_name", "queries_raster"),
    ("area_raster_name", "queries_raster"),
    ("convert_scale", "queries"),
    ("orders_by_segment", "queries_raster"),
    ("pricing_summary", "queries"),
    # rows-only rows, and three (embedding_near_dup, media_features,
    # simhash64_pairs) that gained VALUES-replay oracles in r5
    ("ivf_topk", "queries_text", "sample-trained centroids are driver state"),
    ("embedding_near_dup", "queries_text"),
    ("media_features", "queries_raster"),
    ("simhash64_pairs", "queries_text"),
    ("pq_topk", "queries_text", "sample-trained codebooks are driver state"),
    ("hll_distinct", "queries_text",
     "DuckDB approx_count_distinct is a different estimator"),
    ("ivfpq_topk", "queries_text",
     "driver-state centroids/codebooks, like pq_topk"),
    ("ivfpq_rerank", "queries_text",
     "same driver-state codebooks (two-stage refine)"),
)

# oracle_sql() concatenates the module oracle dicts in this order; its key
# order is pinned with the registry's (tests/test_oracle_types.py)
_ORACLE_MODULES = (
    "queries", "queries_text", "queries_raster", "queries_grid",
    "queries_events", "queries_geo",
)


def _module(name: str):
    return importlib.import_module(f"{__package__}.{name}")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: getattr(_module(mod), f"q_{name}") for name, mod, *_ in REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {k: v for mod in _ORACLE_MODULES for k, v in _module(mod)._oracle_sqls().items()}
