"""Synthetic Common-Crawl-style page table — deterministic, generated in-plan.

Input shape per BASELINE.json input_hint:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
plus engine-derived ``lat/lon/value/hand/cell_id``.

Everything is a pure Catalyst expression over ``spark.range`` — no data
files, no Python workers, seed-deterministic (hash-of-id), and it scales to
any row count by changing ``n``: the generator IS the 100 TB stand-in. The
per-row invariant (extracted ``text`` is byte-identical per ``url``) holds
by construction: ``text`` is derived from ``html`` by the same tag-stripping
expression every time, and tests re-extract from ``html`` to verify.

Hash/geotag/cell expressions are staged as named columns (one md5 per salt,
one projection per Morton spread level) so whole-stage codegen stays
compact — the inline emitters duplicate operands 32x and stall compilation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import oracle
from ..functions.spatial import with_cell_col

_WORDS = [
    "river", "flood", "water", "basin", "terrain", "radar", "backscatter",
    "sentinel", "map", "height", "drainage", "polar", "orbit", "pixel",
]


def _h8xx(key: Column, salt: str) -> Column:
    """xxhash64-based uniform BIGINT in [0, 2^32) — lock-free and ~10x the
    md5 throughput; same distributional role, different values (fine for the
    synthetic bulk table, which never crosses the DuckDB oracle)."""
    return F.pmod(F.xxhash64(F.lit(salt), key), F.lit(1 << 32))


def _with_geotag(df: DataFrame, key: Column, fast_hash: bool = False) -> DataFrame:
    """lat/lon/value/hand from staged hash columns (oracle-parity CASEs).

    Built as FOUR batched selectExpr calls instead of ~10 chained
    withColumns: the Column-algebra form cost ~0.35 s of driver/py4j time
    per invocation (times ~17 geo registry rows per bench run), while the
    parsed expressions — and therefore the physical plan and every value —
    are identical (the SQL text comes from the same oracle emitters; bare
    float literals ride oracle.dbl so nothing parses as DECIMAL)."""
    # withColumn REPLACED same-named input columns (events carries a raw
    # `value`); the batched "*"-selects append, so drop clashes up front
    clash = [c for c in ("lat", "lon", "value", "hand") if c in df.columns]
    if clash:
        df = df.drop(*clash)
    d = oracle.dbl
    if fast_hash:
        def hx(salt: str) -> str:
            return f"pmod(xxhash64('{salt}', _gk), 4294967296)"
    else:
        def hx(salt: str) -> str:
            return oracle.hash8_sql("_gk", oracle.SPARK, salt=salt)
    df = df.withColumn("_gk", key).selectExpr(
        "*",
        f"{hx('geo-a')} AS _ha", f"{hx('geo-b')} AS _hb",
        f"{hx('geo-c')} AS _hc", f"{hx('geo-d')} AS _hd",
        f"{hx('val')} AS _hv", f"{hx('hand')} AS _hh",
    ).selectExpr(
        "*",
        f"{oracle.geotag_lat_from_hashes_sql()} AS lat",
        f"{oracle.geotag_lon_from_hashes_sql()} AS lon",
    ).selectExpr(
        "*",
        f"pow(_hv % 1000000 / {d(1000000.0)}, {d(3.0)}) * {d(2.0)} + {d(0.000001)} AS value",
    ).selectExpr(
        "*",
        f"greatest({d(15.0)} * ({d(1.0)} + sin(lat * {d(0.2)}) * cos(lon * {d(0.2)}))"
        f" + _hh % 1000 / {d(200.0)} - {d(2.5)}, {d(0.0)}) AS hand",
    )
    return df.drop("_ha", "_hb", "_hc", "_hd", "_hv", "_hh", "_gk")


def synth_pages(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    cell_res: int = 8,
) -> DataFrame:
    """Deterministic page table with geotags, cell ids and synthetic fields.

    30% of pages land in 5 hotspot cells (oracle.HOTSPOTS) — deliberate
    mega-cell skew, so every per-cell aggregate over these pages meets
    keys far heavier than the rest (the map-side partial aggregate is
    what bounds them).
    """
    if partitions is None:
        partitions = max(int(spark.sparkContext.defaultParallelism), 1)
    df = spark.range(0, n, 1, partitions)
    key = F.col("id")

    word = F.element_at(
        F.array(*[F.lit(w) for w in _WORDS]),
        (_h8xx(key, "w") % len(_WORDS) + 1).cast("int"),
    )
    n_repeat = (_h8xx(key, "r") % 40 + 3).cast("int")
    body = F.concat_ws(" ", F.array_repeat(word, n_repeat))
    html_str = F.concat(
        F.lit("<html><head><title>Page "), key.cast("string"),
        F.lit("</title></head><body><p>"), body, F.lit("</p></body></html>"),
    )
    lang = F.element_at(
        F.array(*[F.lit(x) for x in ["en", "en", "en", "en", "en", "zh", "es", "de", "fr", "pt"]]),
        (_h8xx(key, "l") % 10 + 1).cast("int"),
    )

    df = df.select(
        "id",
        F.concat(
            F.lit("https://site"), (_h8xx(key, "d") % 1000).cast("string"),
            F.lit(".example.com/page/"), key.cast("string"),
        ).alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=(_h8xx(key, "t") % 31536000))
        ).alias("warc_ts"),
        html_str.cast("binary").alias("html"),
        extract_text(html_str.cast("binary")).alias("text"),
        lang.alias("lang"),
    )
    df = _with_geotag(df, F.col("id"), fast_hash=True).drop("id")
    return with_cell_col(df, "lat", "lon", cell_res, "cell_id")


def extract_text(html_col) -> Column:
    """The canonical HTML->text extraction (strip tags, collapse space).

    Deterministic function of the html bytes — this IS the per-row invariant
    (BASELINE.json input_hint: byte-identical extracted text per url).
    """
    s = F.decode(html_col, "UTF-8")
    return F.regexp_replace(F.regexp_replace(s, "<[^>]*>", " "), "\\s+", " ")


def geotag_pages(df: DataFrame, key: str = "url", cell_res: int = 8) -> DataFrame:
    """Attach deterministic lat/lon/cell_id to any table with a key column —
    the generic 'geotagged at 10^12-document scale' entry (north_star)."""
    key_col = F.crc32(key) if dict(df.dtypes).get(key) == "string" else F.col(key)
    return with_cell_col(_with_geotag(df, key_col, fast_hash=True), "lat", "lon", cell_res, "cell_id")


def geotagged_documents(spark: SparkSession, sf_dir: str, cell_res: int = 8) -> DataFrame:
    """The driver's ``documents`` table as a geotagged page table, matching
    oracle.geotagged_documents_sql value-for-value."""
    from ..core.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    return with_cell_col(_with_geotag(docs, F.col("doc_id")), "lat", "lon", cell_res, "cell_id")