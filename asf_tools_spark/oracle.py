"""Dialect-templated SQL builders shared by the engine and the DuckDB oracle.

Every derived quantity that must agree bit-for-bit between the Spark plan and
the DuckDB oracle (deterministic geotags, cell ids, tile ids, hashes) is
emitted from ONE generator here. The only dialect difference is the
hex->int idiom (Spark ``conv``; DuckDB ``CAST('0x…')``); everything else is
shared text using operators verified identical on both engines
(``% << & |``, FLOOR/LEAST/GREATEST/CAST, md5).
"""

from __future__ import annotations

from .core import cells

SPARK = "spark"
DUCKDB = "duckdb"


def dbl(x: float) -> str:
    """Literal forced to DOUBLE — Spark parses bare decimals as DECIMAL
    (exact decimal arithmetic), DuckDB as DOUBLE; casting keeps both engines
    in binary-float semantics so derived values match bit-for-bit."""
    return f"CAST({x!r} AS DOUBLE)"


def hash8_sql(expr: str, dialect: str, salt: str = "") -> str:
    """First 8 hex digits of md5(salt || expr) as a BIGINT in [0, 2^32)."""
    inner = f"CONCAT('{salt}', CAST({expr} AS STRING))" if dialect == SPARK else f"'{salt}' || CAST({expr} AS VARCHAR)"
    if dialect == SPARK:
        return f"CAST(conv(substr(md5({inner}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST('0x' || substr(md5({inner}), 1, 8) AS BIGINT)"


# Five deterministic "mega-city" hotspot centers — the skew source the
# engine's salting has to handle (BASELINE.json north_star).
HOTSPOTS = [(40.71, -74.01), (51.51, -0.13), (35.68, 139.69), (-23.55, -46.63), (28.61, 77.21)]
HOTSPOT_PCT = 30  # percent of pages pinned to a hotspot


def synth_value_sql(key_expr: str, dialect: str) -> str:
    """Backscatter-power analogue: right-skewed positive double."""
    h = hash8_sql(key_expr, dialect, salt="val")
    u = f"(({h}) % 1000000) / {dbl(1000000.0)}"
    return f"POWER({u}, {dbl(3.0)}) * {dbl(2.0)} + {dbl(0.000001)}"


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """Dialect-free Z-order cell id (core.cells emitter)."""
    return cells.morton_cell_sql(lat_expr, lon_expr, res)


def _never_null(expr: str) -> str:
    """``COALESCE(expr, 0.0)`` for a geotag coordinate that is never NULL.

    The hashes are in [0, 2^32) and every divisor is a non-zero constant,
    but Spark types ``%`` and ``/`` as nullable (even under ANSI, and an
    exhaustive ``ELSE`` does not help). A nullable lat/lon lets any
    predicate on them (a box test, a join condition) infer
    ``isnotnull(lat)`` and push it below the staged hash projections, so
    every row evaluates the md5/xxhash chain twice. The COALESCE types the
    column non-nullable; its fallback is never taken, so values are
    unchanged on both engines."""
    return f"COALESCE({expr}, {dbl(0.0)})"


def geotag_lat_from_hashes_sql() -> str:
    """Latitude CASE over pre-computed hash columns _ha/_hb/_hc."""
    hotspot_case = " ".join(
        f"WHEN _hb % 5 = {i} THEN {dbl(lat)}" for i, (lat, _lon) in enumerate(HOTSPOTS)
    )
    jitter = f"(_hc % 1000) / {dbl(1000.0)} - {dbl(0.5)}"
    uniform = f"(_hc % 1700000) / {dbl(10000.0)} - {dbl(85.0)}"
    return _never_null(
        f"CASE WHEN _ha % 100 < {HOTSPOT_PCT} THEN (CASE {hotspot_case} END) + {jitter} ELSE {uniform} END"
    )


def geotag_lon_from_hashes_sql() -> str:
    """Longitude CASE over pre-computed hash columns _ha/_hb/_hd."""
    hotspot_case = " ".join(
        f"WHEN _hb % 5 = {i} THEN {dbl(lon)}" for i, (_lat, lon) in enumerate(HOTSPOTS)
    )
    jitter = f"(_hd % 1000) / {dbl(1000.0)} - {dbl(0.5)}"
    uniform = f"(_hd % 3500000) / {dbl(10000.0)} - {dbl(175.0)}"
    return _never_null(
        f"CASE WHEN _ha % 100 < {HOTSPOT_PCT} THEN (CASE {hotspot_case} END) + {jitter} ELSE {uniform} END"
    )


def geotagged_documents_sql(res: int, dialect: str, table: str = "documents") -> str:
    """A subquery string turning the driver's ``documents`` table into a
    geotagged page table: (doc_id, text, lang, source, n_chars, lat, lon,
    value, hand, cell_id). Identical values on Spark and DuckDB by
    construction; layered named columns keep every md5 computed exactly
    once and the Morton spread linear-size (codegen-friendly)."""
    from .core.cells import cell_layered_select

    base_cols = "doc_id, text, lang, source, n_chars"
    hashes = f"""(
      SELECT {base_cols},
             {hash8_sql("doc_id", dialect, salt="geo-a")} AS _ha,
             {hash8_sql("doc_id", dialect, salt="geo-b")} AS _hb,
             {hash8_sql("doc_id", dialect, salt="geo-c")} AS _hc,
             {hash8_sql("doc_id", dialect, salt="geo-d")} AS _hd,
             {hash8_sql("doc_id", dialect, salt="val")} AS _hv,
             {hash8_sql("doc_id", dialect, salt="hand")} AS _hh
      FROM {table}
    )"""
    geo = f"""(
      SELECT {base_cols}, _hv, _hh,
             {geotag_lat_from_hashes_sql()} AS lat,
             {geotag_lon_from_hashes_sql()} AS lon
      FROM {hashes} _g0
    )"""
    u = f"(_hv % 1000000) / {dbl(1000000.0)}"
    noise = f"(_hh % 1000) / {dbl(200.0)}"
    fields = f"""(
      SELECT {base_cols}, lat, lon,
             POWER({u}, {dbl(3.0)}) * {dbl(2.0)} + {dbl(0.000001)} AS value,
             GREATEST({dbl(15.0)} * ({dbl(1.0)} + SIN(lat * {dbl(0.2)}) * COS(lon * {dbl(0.2)}))
                      + {noise} - {dbl(2.5)}, {dbl(0.0)}) AS hand
      FROM {geo} _g1
    )"""
    return cell_layered_select(
        fields, "lat", "lon", res,
        carry=["doc_id", "text", "lang", "source", "n_chars", "value", "hand"],
    )


def geotag_py(key: int) -> tuple[float, float]:
    """Pure-python (hashlib) replay of the md5 geotag lat/lon CASEs — for
    VALUES-replay oracles that must recompute page coordinates outside
    both engines (the core/xxh.py discipline applied to the geotag)."""
    import hashlib

    def h8(salt: str) -> int:
        return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16)

    ha, hb = h8("geo-a"), h8("geo-b")
    hc, hd = h8("geo-c"), h8("geo-d")
    if ha % 100 < HOTSPOT_PCT:
        lat0, lon0 = HOTSPOTS[hb % 5]
        return (lat0 + (hc % 1000) / 1000.0 - 0.5,
                lon0 + (hd % 1000) / 1000.0 - 0.5)
    return ((hc % 1700000) / 10000.0 - 85.0,
            (hd % 3500000) / 10000.0 - 175.0)
