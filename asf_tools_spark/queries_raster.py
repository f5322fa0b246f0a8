"""Wave-2 query registry: raster/composite/statistics operator families with
DuckDB oracles (SURVEY §2.4 A7/A8/A9/A10/A13, §2.3 J3/A6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .core.io import local_frame
from .operators.multimodal import decode_and_featurize, sniff_media_type, synth_media

_NMAD_SCALE = 0.6744897501960817


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    from .core.io import register_views

    register_views(spark, sf_dir, *names)


def q_epsg_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (ref composite.py:32-57): hemisphere mode (ties -> North/lower),
    median zone pick zones[(n-1)//2]."""
    _register(spark, sf_dir, "nation")
    codes = spark.table("nation").select(
        (
            F.when(F.col("n_regionkey") % 2 == 0, 32600).otherwise(32700)
            + (F.col("n_nationkey") % 60) + 1
        ).alias("code")
    )
    hemi = codes.select((F.floor(F.col("code") / 100) * 100).alias("h"))
    hcount = hemi.groupBy("h").count()
    top = hcount.agg(F.max("count").alias("m"))
    target_h = (
        hcount.join(top, hcount["count"] == top["m"]).agg(F.min("h").alias("th"))
    )
    zones = codes.select((F.col("code") % 100).alias("z"))
    # median rank (n-1)//2+1 computed inside the plan (no eager count():
    # one job, not two). Unpartitioned windows are fine: zones is tiny by
    # construction (one row per scene/nation), never a data-scale column.
    zw = Window.orderBy(F.col("z").asc())
    target_z = (
        zones.withColumn("rk", F.row_number().over(zw))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
        .where(F.col("rk") == F.floor((F.col("n") - 1) / 2) + 1)
        .select(F.col("z").alias("tz"))
    )
    return target_h.crossJoin(target_z).select((F.col("th") + F.col("tz")).alias("target_epsg"))


def q_histogram_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/W5 (ref threshold.py:4-24): fractional-split histogram +
    [1,2,3,2,1] smoothing, on integer-bounded event values."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events").where(F.col("value").isNotNull())
    v = F.col("value") % 97.0
    binned = ev.select(v.alias("v"), F.floor(v).cast("long").alias("fv"))
    maximum = 98  # ceil(max(v)) + 1 for v in [0, 97)
    contrib = binned.where((F.col("fv") > 0) & (F.col("fv") < maximum - 1)).select(
        F.explode(
            F.array(
                F.struct(F.col("fv").alias("bin"), (F.col("v") - F.col("fv")).alias("w")),
                F.struct((F.col("fv") - 1).alias("bin"), (1.0 - (F.col("v") - F.col("fv"))).alias("w")),
            )
        ).alias("c")
    ).select(F.col("c.bin"), F.col("c.w"))
    hist = contrib.groupBy("bin").agg(F.sum("w").alias("mass"))
    kernel = [(-2, 1.0), (-1, 2.0), (0, 3.0), (1, 2.0), (2, 1.0)]
    kdf = local_frame(spark, kernel, "off int, kw double")
    smoothed = (
        hist.crossJoin(F.broadcast(kdf))
        .select((F.col("bin") + F.col("off")).alias("sbin"), (F.col("mass") * F.col("kw")).alias("m"))
        .where((F.col("sbin") >= 0) & (F.col("sbin") <= maximum - 2))
        .groupBy("sbin")
        .agg(F.sum("m").alias("smass"))
    )
    total = smoothed.agg(F.sum("smass").alias("t"))
    return (
        smoothed.crossJoin(total)
        .select(F.col("sbin").alias("bin"), F.round(F.col("smass") / F.col("t"), 9).alias("density"))
    )


def q_reverse_cdf_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (ref flood_map.py:34-38): reverse-CDF 95% threshold over a
    100-bin density histogram — fully distributed (no driver scalars), so
    the DuckDB oracle can reproduce it exactly: histogram -> reverse
    cumulative mass -> searchsorted('left', 0.95) -> flipped bin edge.

    Rounding-mode note (ADVICE r2): the final F.round/DuckDB ROUND is
    half-away-from-zero, while the reference's driver-side Python round()
    is banker's (half-even) — a bin edge landing EXACTLY on .5 diverges
    from the reference by 1. Spark and the oracle always agree with each
    other; the .5 case does not occur on continuous-valued inputs."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events").where(F.col("value").isNotNull()).select("value")
    mm = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi"), F.count("*").alias("n")
    )
    binned = ev.crossJoin(mm).select(
        "lo", "hi", "n",
        F.least(
            F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 100.0)).cast("int"),
            F.lit(99),
        ).alias("bin"),
    )
    hist = binned.groupBy("bin", "lo", "hi", "n").count()
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(Window.unboundedPreceding, 0)
    rcdf = hist.withColumn("rcdf", F.sum(F.col("count") / F.col("n")).over(w))
    # i = #bins with rcdf < 0.95 (searchsorted 'left'); edge = hi - i*width
    return rcdf.groupBy("lo", "hi").agg(
        F.sum((F.col("rcdf") < 0.95).cast("int")).alias("i")
    ).select(
        (F.round(F.col("hi") - F.col("i") * ((F.col("hi") - F.col("lo")) / 100.0), 0) + 1.0)
        .alias("pw_threshold")
    )


def q_confusion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (ref flood_map.py:75-81): one-pass confusion-matrix counts."""
    from .sources.pages import geotagged_documents

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    # Parity rule: round transcendental-derived columns (hand uses SIN/COS)
    # on BOTH sides before thresholding — a 1-ulp JVM-vs-DuckDB difference at
    # the 8.0 / 0.25 boundary would otherwise flip a count.
    pred = F.round(F.col("hand"), 6) < 8.0
    obs = F.round(F.col("value"), 6) < 0.25
    return pages.agg(
        F.sum((pred & obs).cast("long")).alias("tp"),
        F.sum((~pred & ~obs).cast("long")).alias("tn"),
        F.sum((pred & ~obs).cast("long")).alias("fp"),
        F.sum((~pred & obs).cast("long")).alias("fn"),
    )


def q_label_stats_nmad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (ref flood_map.py:165-180): per-group mean/std/median/NMAD."""
    _register(spark, sf_dir, "documents")
    d = spark.table("documents")
    med = d.groupBy("lang").agg(F.median("n_chars").alias("med"))
    nmad = (
        d.join(med, "lang")
        .groupBy("lang")
        .agg((F.median(F.abs(F.col("n_chars") - F.col("med"))) / _NMAD_SCALE).alias("nmad"))
    )
    stats = d.groupBy("lang").agg(
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.round(F.stddev_pop("n_chars"), 6).alias("std_chars"),
        F.median("n_chars").alias("med_chars"),
    )
    return stats.join(nmad.select("lang", F.round("nmad", 6).alias("nmad_chars")), "lang")


def q_mosaic_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A6 (ref composite.py:197-235): two offset rasters, local-area
    weighted mosaic + contributor counts."""
    from .operators.composite import make_composite

    _register(spark, sf_dir, "part", "supplier")
    p = spark.table("part")
    g1 = p.select(
        (F.col("p_partkey") % 40).cast("int").alias("row"),
        (F.col("p_size") % 50).cast("int").alias("col"),
        (F.col("p_retailprice") % 100.0).alias("value"),
    ).groupBy("row", "col").agg(F.max("value").alias("value"))
    a1 = g1.select("row", "col", (F.lit(1.0) + (F.col("row") % 3)).alias("area"))
    s = spark.table("supplier")
    g2 = s.select(
        (F.col("s_suppkey") % 30).cast("int").alias("row"),
        (F.col("s_suppkey") % 45).cast("int").alias("col"),
        (F.col("s_acctbal") % 100.0).alias("value"),
    ).groupBy("row", "col").agg(F.max("value").alias("value"))
    a2 = g2.select("row", "col", F.lit(2.0).alias("area"))
    out = make_composite([
        {"grid": g1, "area": a1, "row_off": 0, "col_off": 0},
        {"grid": g2, "area": a2, "row_off": 5, "col_off": 7},
    ])
    return out.select("row", "col", F.round("value", 6).alias("value"), "count")


def q_tile_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 (ref watermasking/utils.py:7-28): zero-padded tile-name strings
    from geotag lat/lon floors."""
    from .functions.spatial import tile_name_col
    from .sources.pages import geotagged_documents

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    return pages.select(
        "doc_id", tile_name_col(F.col("lat"), F.col("lon")).alias("tile_name")
    )


def q_area_raster_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (ref composite.py:60-70): *_VV.tif -> *_area.tif suffix rewrite."""
    _register(spark, sf_dir, "part")
    raster = F.concat(
        F.lit("S1A_IW_"), F.col("p_partkey").cast("string"), F.lit("_RTC30_"),
        F.col("p_brand"), F.lit("_VV.tif"),
    )
    return spark.table("part").select(
        "p_partkey",
        raster.alias("raster"),
        F.regexp_replace(raster, "_[A-Z]+\\.tif$", "_area.tif").alias("area_raster"),
    )


def q_bbox_filename_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11/S10 (ref generate_worldcover_tiles.py:36-49): lat/lon parsed from
    tile-name strings, range-filtered — predicate-pushdown scan shape."""
    from .functions.spatial import tile_name_col
    from .sources.pages import geotagged_documents

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    # tn comes through a 1-element explode — a Generate node — as a
    # pushdown fence: a plain projection lets the range filter push to the
    # scan with the whole tile_name+geotag chain substituted into EACH of
    # the four conjuncts, overflowing the 64 KB codegen method limit and
    # dropping the stage to interpreted mode (measured: ERROR CodeGenerator,
    # 4x slower; in Spark 4 neither an And-conjunct fence nor a
    # non-deterministic term blocks Project pushdown — the optimizer splits
    # conjunctions and pushes through projections regardless). Predicates
    # referencing generator output cannot cross a Generate, so tn
    # evaluates once per row and the substring parses stay cheap.
    named = pages.select(
        "doc_id",
        F.explode(F.array(tile_name_col(F.col("lat"), F.col("lon")))).alias("tn"),
    )
    lat_sign = F.when(F.substring("tn", 1, 1) == "n", 1).otherwise(-1)
    lat_v = lat_sign * F.substring("tn", 2, 2).cast("int")
    lon_sign = F.when(F.substring("tn", 4, 1) == "e", 1).otherwise(-1)
    lon_v = lon_sign * F.substring("tn", 5, 3).cast("int")
    return named.select(
        "doc_id", "tn", lat_v.alias("lat_deg"), lon_v.alias("lon_deg")
    ).where(
        (lat_v >= -30) & (lat_v <= 30) & (lon_v >= -90) & (lon_v <= 90)
    )


def q_rgb_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 (ref ArcGIS-toolbox/ASF_Tools.pyt:871-923 RGBDecomp): pixel
    cleanup (< 10^-4.8 -> 0) + band math compositions (sqrt/atan/when) over
    paired co/cross-pol power values derived from lineitem."""
    _register(spark, sf_dir, "lineitem")
    li = spark.table("lineitem").where(F.col("l_linenumber") <= 2)
    co = F.col("l_extendedprice") / 100000.0
    cross = F.col("l_quantity") / 5000.0
    floor_v = 10.0 ** (-4.8)
    co_c = F.when(co < floor_v, 0.0).otherwise(co)
    cross_c = F.when(cross < floor_v, 0.0).otherwise(cross)
    diff = co_c - cross_c
    blue = F.when(diff > 0, F.sqrt(diff)).otherwise(0.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt(co_c), 6).alias("red"),
        F.round(F.sqrt(cross_c), 6).alias("green"),
        F.round(blue, 6).alias("blue"),
        F.round(F.atan(cross_c / (co_c + 1e-12)) / 3.141592653589793 * 180.0, 6).alias("pol_angle"),
    )


def q_log_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 (ref ASF_Tools.pyt:612-614 LogDiff): change detection
    log10(before/after) between paired event values."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events").where((F.col("value") > 0) & (F.col("event_id") % 2 == 0))
    ev2 = spark.table("events").where((F.col("value") > 0) & (F.col("event_id") % 2 == 1))
    a = ev.select((F.col("event_id") / 2).cast("long").alias("pair_id"), F.col("value").alias("before"))
    b = ev2.select(((F.col("event_id") - 1) / 2).cast("long").alias("pair_id"), F.col("value").alias("after"))
    return a.join(b, "pair_id").select(
        "pair_id", F.round(F.log10(F.col("after") / F.col("before")), 6).alias("log_diff")
    )


def q_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join breadth: orders x customer broadcast join, date-range filter
    (timestamp functions per FIXTURES §1 warc_ts), per-segment aggregates."""
    _register(spark, sf_dir, "orders", "customer")
    o = spark.table("orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderstatus") != "F")
    )
    c = spark.table("customer")
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
            F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
        )
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window breadth: sessionization via lag + cumulative gap counting —
    sessions split on >30 min inactivity; per-user session count."""
    from pyspark.sql.window import Window

    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond epoch, NOT unix_timestamp: the latter truncates to whole
    # seconds, so a 1800.4s gap reads as 1800 and stays "same session" while
    # the DuckDB oracle's fractional epoch(ts) splits it. Integer micros
    # compare exactly (session tz is UTC, matching DuckDB's naive epoch).
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = epoch_us - F.lag(epoch_us).over(w)
    marked = ev.withColumn("new_session", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
    return marked.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical cell rollup (S3 'overviews'): res-8 page counts rolled
    up to res-4 parent cells — the pre-aggregated coarse summary table."""
    from . import oracle
    from .sources.pages import geotagged_documents

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    parent = F.expr(oracle.cell_sql("lat", "lon", 4))
    return (
        pages.withColumn("parent_cell", parent)
        .groupBy("parent_cell")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("cell_id").alias("n_child_cells"),
        )
    )


_MEDIA_N = 2000


def _media_features_oracle() -> str:
    """Independent pure-Python replay of the whole media_features pipeline
    (payload construction, magic sniff, sha256 fake decode, mean/histogram)
    emitted as VALUES — sidesteps DuckDB 1.0's VARCHAR-only sha256 (the
    r2-r4 blocker for this row). Shares NOTHING with the operator but the
    stdlib sha256; re-derives the magic table and sniff inline, so a
    byte-level bug anywhere in the Spark path (binary concat/encode, Arrow
    binary transfer into mapInPandas, batch carry columns) breaks the
    match. mean = k/64 is exact at 6dp (1/64 = 0.015625), so the rounding
    is drift-free."""
    import hashlib

    magics = [b"\x89PNG"[:4], b"\xff\xd8\xff", b"GIF8", b"RIFF"]
    names = ["png", "jpeg", "gif", "riff"]
    rows = []
    for mid in range(_MEDIA_N):
        payload = magics[mid % 4] + f"payload-{mid}".encode()
        container = "unknown"
        for nm, mg in zip(names, magics):
            if payload[: len(mg)] == mg:
                container = nm
                break
        kind = "audio" if mid % 4 == 3 else "image"
        digest = hashlib.sha256(payload).digest()
        px = (digest * 2)[:64]
        mean = round(sum(px) / 64.0, 6)
        hist = [0, 0, 0, 0]
        for b in px:
            hist[b >> 6] += 1
        h = ",".join(str(c) for c in hist)
        rows.append(f"({mid}, '{kind}', '{container}', {mean!r}, '{h}')")
    values = ", ".join(rows)
    return f"""
        SELECT CAST(media_id AS BIGINT) AS media_id, kind, container,
               CAST(8 AS INT) AS height, CAST(8 AS INT) AS width,
               CAST(mean_intensity AS DOUBLE) AS mean_intensity, histogram
        FROM (VALUES {values})
          AS t(media_id, kind, container, mean_intensity, histogram)
    """


_MEDIA_DUP_N = 500  # re-keyed copies of the first 500 payloads


def _dup_media(spark: SparkSession):
    """synth_media(2000) plus _MEDIA_DUP_N re-keyed byte-identical copies —
    the planted-duplicate corpus both the query and its replay construct."""
    base = synth_media(spark, _MEDIA_N)
    dups = base.where(F.col("media_id") < _MEDIA_DUP_N).withColumn(
        "media_id", F.col("media_id") + F.lit(_MEDIA_N)
    )
    return base.unionByName(dups)


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary blob dedup — content-addressable dedup of media
    payloads (the standard attachment/image store pass; the reference's
    S3 upload path implicitly relies on object-key identity, ref
    util.py upload paths): sha2-256 over the BINARY column (JVM-native
    crypto, no Python), ONE hash aggregate keyed by digest, keep = min
    media_id. At 10^12 blobs the exchange carries one 32-byte digest +
    counters per distinct payload — never the payload bytes. Planted:
    500 re-keyed byte-identical copies, so real groups of 2 exist.
    Oracle: hashlib replay of the identical construction, emitted as
    VALUES (DuckDB 1.0 sha256 is VARCHAR-only — same blocker, same
    sidestep as media_features)."""
    media = _dup_media(spark)
    return (
        media.select(F.col("media_id"), F.sha2(F.col("payload"), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("media_id").alias("keep_id"),
        )
    )


def _media_dedup_oracle() -> str:
    """hashlib replay of q_media_dedup's planted-duplicate corpus."""
    import hashlib

    magics = [b"\x89PNG"[:4], b"\xff\xd8\xff", b"GIF8", b"RIFF"]
    groups: dict[str, list[int]] = {}
    for mid in range(_MEDIA_N + _MEDIA_DUP_N):
        src = mid if mid < _MEDIA_N else mid - _MEDIA_N
        payload = magics[src % 4] + f"payload-{src}".encode()
        groups.setdefault(hashlib.sha256(payload).hexdigest(), []).append(mid)
    values = ", ".join(
        f"('{sha}', {len(ms)}, {min(ms)})" for sha, ms in groups.items()
    )
    return f"""
        SELECT content_sha, CAST(n_copies AS BIGINT) AS n_copies,
               CAST(keep_id AS BIGINT) AS keep_id
        FROM (VALUES {values}) AS t(content_sha, n_copies, keep_id)
    """


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synth media -> magic-byte sniff -> stub
    decode/featurize via mapInPandas. Oracled since r5 by an independent
    pure-Python VALUES replay (see _media_features_oracle)."""
    media = synth_media(spark, _MEDIA_N).withColumn("container", sniff_media_type(F.col("payload")))
    # ONE mapInPandas pass (kind/container carried through) — the former
    # sniff⋈features self-join executed the Python subtree twice.  The
    # histogram array is serialized to a string: the driver's canonicalizer
    # hashes rows and array cells are unhashable.
    feats = decode_and_featurize(media, target=(8, 8), fake=True, carry=("kind", "container"))
    return feats.select(
        "media_id", "kind", "container", "height", "width",
        F.round("mean_intensity", 6).alias("mean_intensity"),
        F.array_join(F.transform("histogram", lambda x: x.cast("string")), ",").alias("histogram"),
    )


def q_fill_missing_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ref watermasking/fill_missing_tiles.py:14-91: 5-degree tile lattice
    over (-30..30, -90..90) anti-joined against the catalog of tiles that
    already exist (tile names of the 5-degree-snapped document geotags) —
    each missing tile emits its name + origin + constant fill."""
    from .functions.spatial import fill_missing_tiles, tile_name_col
    from .sources.pages import geotagged_documents

    pages = geotagged_documents(spark, sf_dir, cell_res=8)
    lat0, lon0 = -30, -90
    inb = (
        (F.col("lat") >= lat0) & (F.col("lat") < 30)
        & (F.col("lon") >= lon0) & (F.col("lon") < 90)
    )
    lat5 = (F.floor((F.col("lat") - lat0) / 5) * 5 + lat0).cast("double")
    lon5 = (F.floor((F.col("lon") - lon0) / 5) * 5 + lon0).cast("double")
    existing = pages.where(inb).select(
        tile_name_col(lat5, lon5, postfix="").alias("tile_name")
    ).distinct()
    return fill_missing_tiles(
        spark, existing, (-30, 30), (-90, 90), (5, 5), fill_value=255
    )


def _oracle_sqls() -> dict[str, str]:
    from . import oracle

    docs = oracle.geotagged_documents_sql(8, oracle.DUCKDB)
    sqls: dict[str, str] = {}
    sqls["media_features"] = _media_features_oracle()
    sqls["media_dedup"] = _media_dedup_oracle()
    sqls["epsg_vote"] = """
        WITH codes AS (
          SELECT (CASE WHEN n_regionkey % 2 = 0 THEN 32600 ELSE 32700 END
                  + (n_nationkey % 60) + 1) AS code
          FROM nation
        ),
        hcount AS (SELECT CAST(FLOOR(code / 100) * 100 AS BIGINT) AS h, COUNT(*) AS c FROM codes GROUP BY 1),
        th AS (SELECT MIN(h) AS th FROM hcount WHERE c = (SELECT MAX(c) FROM hcount)),
        z AS (SELECT code % 100 AS z, ROW_NUMBER() OVER (ORDER BY code % 100 ASC) AS rk FROM codes),
        tz AS (SELECT z AS tz FROM z WHERE rk = (SELECT (COUNT(*) - 1) // 2 + 1 FROM codes))
        SELECT th + tz AS target_epsg FROM th, tz
    """
    sqls["histogram_smooth"] = """
        WITH binned AS (
          SELECT value % CAST(97.0 AS DOUBLE) AS v,
                 CAST(FLOOR(value % CAST(97.0 AS DOUBLE)) AS BIGINT) AS fv
          FROM events WHERE value IS NOT NULL
        ),
        contrib AS (
          SELECT fv AS bin, v - fv AS w FROM binned WHERE fv > 0 AND fv < 97
          UNION ALL
          SELECT fv - 1 AS bin, 1.0 - (v - fv) AS w FROM binned WHERE fv > 0 AND fv < 97
        ),
        hist AS (SELECT bin, SUM(w) AS mass FROM contrib GROUP BY bin),
        kernel AS (SELECT * FROM (VALUES (-2, 1.0), (-1, 2.0), (0, 3.0), (1, 2.0), (2, 1.0)) k(off, kw)),
        smoothed AS (
          SELECT bin + off AS sbin, SUM(mass * kw) AS smass
          FROM hist CROSS JOIN kernel
          WHERE bin + off >= 0 AND bin + off <= 96
          GROUP BY bin + off
        )
        SELECT sbin AS bin, ROUND(smass / (SELECT SUM(smass) FROM smoothed), 9) AS density
        FROM smoothed
    """
    sqls["confusion_counts"] = f"""
        -- CAST AS BIGINT: DuckDB SUM(INTEGER) is HUGEINT, which Arrow fetches as
        -- decimal128 and hash-mismatches Spark's int64 even when values agree.
        SELECT CAST(SUM(CASE WHEN ROUND(hand, 6) < 8.0 AND ROUND(value, 6) < 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN ROUND(hand, 6) >= 8.0 AND ROUND(value, 6) >= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(SUM(CASE WHEN ROUND(hand, 6) < 8.0 AND ROUND(value, 6) >= 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN ROUND(hand, 6) >= 8.0 AND ROUND(value, 6) < 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM {docs} p
    """
    sqls["label_stats_nmad"] = f"""
        WITH med AS (SELECT lang, MEDIAN(n_chars::DOUBLE) AS med FROM documents GROUP BY lang),
        nm AS (
          SELECT d.lang, MEDIAN(ABS(d.n_chars - m.med)) / {_NMAD_SCALE!r} AS nmad
          FROM documents d JOIN med m ON d.lang = m.lang GROUP BY d.lang
        )
        SELECT s.lang, s.mean_chars, s.std_chars, s.med_chars, ROUND(nm.nmad, 6) AS nmad_chars
        FROM (
          SELECT lang, ROUND(AVG(n_chars), 6) AS mean_chars,
                 ROUND(STDDEV_POP(n_chars), 6) AS std_chars,
                 MEDIAN(n_chars::DOUBLE) AS med_chars
          FROM documents GROUP BY lang
        ) s JOIN nm ON s.lang = nm.lang
    """
    sqls["mosaic_weighted"] = """
        WITH g1 AS (
          SELECT CAST(p_partkey % 40 AS INT) AS row, CAST(p_size % 50 AS INT) AS col,
                 MAX(p_retailprice % CAST(100.0 AS DOUBLE)) AS value
          FROM part GROUP BY 1, 2
        ),
        r1 AS (SELECT row, col, value, 1.0 / (1.0 + (row % 3)) AS w FROM g1),
        g2 AS (
          SELECT CAST(s_suppkey % 30 AS INT) AS row, CAST(s_suppkey % 45 AS INT) AS col,
                 MAX(s_acctbal % CAST(100.0 AS DOUBLE)) AS value
          FROM supplier GROUP BY 1, 2
        ),
        r2 AS (SELECT row + 5 AS row, col + 7 AS col, value, 1.0 / 2.0 AS w FROM g2),
        unioned AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
        SELECT row, col, ROUND(SUM(value * w) / SUM(w), 6) AS value, COUNT(*) AS count
        FROM unioned WHERE value IS NOT NULL GROUP BY row, col
    """
    sqls["rgb_decomp"] = """
        WITH px AS (
          SELECT l_orderkey, l_linenumber,
                 CASE WHEN l_extendedprice / CAST(100000.0 AS DOUBLE) < POWER(CAST(10.0 AS DOUBLE), -4.8)
                      THEN 0.0 ELSE l_extendedprice / CAST(100000.0 AS DOUBLE) END AS co_c,
                 CASE WHEN l_quantity / CAST(5000.0 AS DOUBLE) < POWER(CAST(10.0 AS DOUBLE), -4.8)
                      THEN 0.0 ELSE l_quantity / CAST(5000.0 AS DOUBLE) END AS cross_c
          FROM lineitem WHERE l_linenumber <= 2
        )
        SELECT l_orderkey, l_linenumber,
               ROUND(SQRT(co_c), 6) AS red,
               ROUND(SQRT(cross_c), 6) AS green,
               ROUND(CASE WHEN co_c - cross_c > 0 THEN SQRT(co_c - cross_c) ELSE 0.0 END, 6) AS blue,
               ROUND(ATAN(cross_c / (co_c + 1e-12)) / CAST(3.141592653589793 AS DOUBLE) * 180.0, 6) AS pol_angle
        FROM px
    """
    sqls["log_diff"] = """
        WITH a AS (
          SELECT CAST(event_id / 2 AS BIGINT) AS pair_id, value AS before
          FROM events WHERE value > 0 AND event_id % 2 = 0
        ),
        b AS (
          SELECT CAST((event_id - 1) / 2 AS BIGINT) AS pair_id, value AS after
          FROM events WHERE value > 0 AND event_id % 2 = 1
        )
        SELECT a.pair_id, ROUND(LOG10(b.after / a.before), 6) AS log_diff
        FROM a JOIN b ON a.pair_id = b.pair_id
    """
    sqls["orders_by_segment"] = """
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS revenue,
               ROUND(AVG(o_totalprice), 6) AS avg_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' AND o.o_orderstatus <> 'F'
        GROUP BY c_mktsegment
    """
    sqls["event_sessions"] = """
        WITH marked AS (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        )
        -- CAST AS BIGINT: DuckDB SUM(INTEGER) is HUGEINT (Arrow decimal128) vs Spark int64.
        SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        FROM marked GROUP BY user_id
    """
    from .core.cells import cell_layered_select

    parent4 = cell_layered_select(
        f"(SELECT doc_id, lat, lon, cell_id FROM {docs} _d)", "lat", "lon", 4,
        carry=["doc_id", "cell_id"], out="parent_cell",
    )
    sqls["cell_rollup"] = f"""
        SELECT parent_cell, COUNT(*) AS n_pages, COUNT(DISTINCT cell_id) AS n_child_cells
        FROM {parent4} t GROUP BY parent_cell
    """
    tn = """
        CASE WHEN lat >= 0 THEN 'n' || lpad(CAST(CAST(FLOOR(lat) AS BIGINT) AS VARCHAR), 2, '0')
             ELSE 's' || lpad(CAST(CAST(FLOOR(ABS(lat)) AS BIGINT) AS VARCHAR), 2, '0') END ||
        CASE WHEN lon >= 0 THEN 'e' || lpad(CAST(CAST(FLOOR(lon) AS BIGINT) AS VARCHAR), 3, '0')
             ELSE 'w' || lpad(CAST(CAST(FLOOR(ABS(lon)) AS BIGINT) AS VARCHAR), 3, '0') END || '.tif'
    """
    sqls["tile_name"] = f"""
        SELECT doc_id, {tn} AS tile_name FROM {docs} p
    """
    sqls["area_raster_name"] = """
        SELECT p_partkey,
               'S1A_IW_' || CAST(p_partkey AS VARCHAR) || '_RTC30_' || p_brand || '_VV.tif' AS raster,
               regexp_replace('S1A_IW_' || CAST(p_partkey AS VARCHAR) || '_RTC30_' || p_brand || '_VV.tif',
                              '_[A-Z]+\\.tif$', '_area.tif') AS area_raster
        FROM part
    """
    sqls["reverse_cdf_threshold"] = """
        WITH ev AS (SELECT value FROM events WHERE value IS NOT NULL),
        mm AS (SELECT MIN(value) AS lo, MAX(value) AS hi, COUNT(*) AS n FROM ev),
        binned AS (
          SELECT LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 100.0)) AS INT), 99) AS bin,
                 lo, hi, n
          FROM ev, mm
        ),
        hist AS (SELECT bin, lo, hi, n, COUNT(*) AS c FROM binned GROUP BY 1, 2, 3, 4),
        r AS (
          SELECT bin, lo, hi,
                 SUM(c * 1.0 / n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS rcdf
          FROM hist
        )
        SELECT ROUND(hi - SUM(CASE WHEN rcdf < 0.95 THEN 1 ELSE 0 END)
                          * ((hi - lo) / 100.0), 0) + 1.0 AS pw_threshold
        FROM r GROUP BY lo, hi
    """
    tn5 = """
        CASE WHEN lat >= 0 THEN 'n' || lpad(CAST(CAST(FLOOR(lat) AS BIGINT) AS VARCHAR), 2, '0')
             ELSE 's' || lpad(CAST(CAST(FLOOR(ABS(lat)) AS BIGINT) AS VARCHAR), 2, '0') END ||
        CASE WHEN lon >= 0 THEN 'e' || lpad(CAST(CAST(FLOOR(lon) AS BIGINT) AS VARCHAR), 3, '0')
             ELSE 'w' || lpad(CAST(CAST(FLOOR(ABS(lon)) AS BIGINT) AS VARCHAR), 3, '0') END
    """
    sqls["fill_missing_tiles"] = f"""
        WITH lattice AS (
          SELECT CAST(-30 + (i // 36) * 5 AS DOUBLE) AS lat,
                 CAST(-90 + (i % 36) * 5 AS DOUBLE) AS lon
          FROM generate_series(0, {12 * 36 - 1}) t(i)
        ),
        named AS (SELECT {tn5} AS tile_name, lat, lon FROM lattice),
        existing AS (
          SELECT DISTINCT {tn5} AS tile_name FROM (
            SELECT CAST(FLOOR((lat + 30) / 5) * 5 - 30 AS DOUBLE) AS lat,
                   CAST(FLOOR((lon + 90) / 5) * 5 - 90 AS DOUBLE) AS lon
            FROM {docs} p
            WHERE lat >= -30 AND lat < 30 AND lon >= -90 AND lon < 90
          )
        )
        SELECT n.tile_name, n.lon AS xmin, n.lat AS ymin,
               CAST(0.00009009009 AS DOUBLE) AS pixel_size,
               CAST(255 AS INT) AS fill_value
        FROM named n LEFT JOIN existing e ON n.tile_name = e.tile_name
        WHERE e.tile_name IS NULL
    """
    sqls["bbox_filename_filter"] = f"""
        WITH named AS (SELECT doc_id, {tn} AS tn FROM {docs} p),
        parsed AS (
          SELECT doc_id, tn,
                 (CASE WHEN substr(tn, 1, 1) = 'n' THEN 1 ELSE -1 END) * CAST(substr(tn, 2, 2) AS INT) AS lat_deg,
                 (CASE WHEN substr(tn, 4, 1) = 'e' THEN 1 ELSE -1 END) * CAST(substr(tn, 5, 3) AS INT) AS lon_deg
          FROM named
        )
        SELECT * FROM parsed
        WHERE lat_deg BETWEEN -30 AND 30 AND lon_deg BETWEEN -90 AND 90
    """
    return sqls
