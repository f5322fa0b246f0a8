"""Dev harness mimicking the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare
row count, schema (column names), and an order-insensitive value hash.

Round-3 hardening (VERDICT r2 item 2): the oracle side is fetched via
Arrow (like the driver), typed strictly — a DuckDB HUGEINT/DECIMAL column
(e.g. a bare SUM(INTEGER)) surfaces as decimal128 and is *rejected by a
lint* before compare, so the mirror can no longer pass where the driver
hash-fails on int-vs-Decimal. Ints are hashed as ints (no int->float
normalization leniency).

Every PASS and rows-only (OK?) line carries the Spark-side value hash,
so a diff of two runs' output (say, before and after a change) also
covers the rows that have no oracle. Runs from any working directory: the
package is imported from this script's repository.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import sys
import time
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        tuple(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _norm(v):
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if v != v:
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        # Strict: int stays int. A Decimal('5') on the oracle side must NOT
        # collide with Spark's 5 — that's exactly the driver's behavior.
        return v
    if isinstance(v, decimal.Decimal):
        return v  # repr differs from int/float -> hash mismatch, as intended
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return str(v)


def _arrow_type_lint(tbl: pa.Table) -> list[str]:
    """Columns whose Arrow type would diverge from any Spark-collectable type."""
    bad = []
    for field in tbl.schema:
        t = field.type
        if pa.types.is_decimal(t):
            bad.append(f"{field.name}:{t}")
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from asf_tools_spark import queries as Q
    from asf_tools_spark.session import get_spark

    spark = get_spark("correctness", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = Q.queries(), Q.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error {e}")
            failures += 1
            continue
        hs = value_hash(srows, scols)
        if name not in os_:
            print(f"OK?  {name}: rows-only ({len(srows)} rows, no oracle) hash {hs}")
            continue
        try:
            otbl = con.execute(os_[name]).arrow()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            failures += 1
            continue
        lint = _arrow_type_lint(otbl)
        if lint:
            print(f"FAIL {name}: oracle emits decimal128 columns {lint} "
                  f"(HUGEINT/DECIMAL — CAST AS BIGINT/DOUBLE in the oracle SQL)")
            failures += 1
            continue
        ocols = otbl.column_names
        orows = [tuple(d[c] for c in ocols) for d in otbl.to_pylist()]
        status = []
        if len(srows) != len(orows):
            status.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            status.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not status:
            ho = value_hash(orows, ocols)
            if hs != ho:
                status.append(f"hash {hs} != {ho}")
        if status:
            print(f"FAIL {name}: {'; '.join(status)}")
            failures += 1
        else:
            print(f"PASS {name}: {len(srows)} rows hash {hs} ({time.time()-t0:.1f}s)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
