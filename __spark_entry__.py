"""Driver contract for the spark-graft builder (PySpark target).

``entry``: flagship spatial-join + tile-assignment pipeline at sf0.001.
``queries``/``oracle_sql``: per-operator correctness battery (DuckDB oracle
at sf0.01) — see asf_tools_spark/queries.py for the registry.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from asf_tools_spark import queries as _registry  # noqa: E402
from asf_tools_spark.plans.assignments import tile_assignments  # noqa: E402
from asf_tools_spark.sources.pages import geotagged_documents  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: geotag the page table,
    broadcast-join it against the watershed layer, aggregate per (polygon,
    cell) in one partial/final aggregate, and flag HAND water-candidate
    tiles."""
    pages = geotagged_documents(spark, "/root/testdata/sf0.001", cell_res=8)
    return tile_assignments(pages, res=8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
