"""Session-scoped parquet-scan handles for the registry's input tables.

``spark.read.parquet(path)`` costs ~90 ms of driver time per call (footer
read + datasource resolution) and every registry query re-resolves the
same handful of tables — ~20 s of pure driver overhead per 170-query
bench run. One scan DataFrame per (session, path) is built and reused;
this memoizes the PLAN handle only (an immutable logical scan), never any
computed data, so every query still computes from the parquet inputs.

Parquet inputs are treated as immutable within a session: a file
rewritten under the same path while the session lives may be served
from the memoized scan (stale file listing). A new session reads afresh.

The memos hold the handles of ONE application at a time: a stopped
session's Python id() can be reused by a fresh session, and a handle
bound to a dead SparkContext must never be handed out (same discipline
as the IVF driver-state cache). When the applicationId differs from the
one the memos were filled under, both memos are cleared, so the handles
of stopped sessions do not accumulate.

Tables built on the driver (polygon covers, kNN target rings, label root
maps, lookup tables) go through :func:`local_frame`: an Arrow table handed
to ``createDataFrame`` becomes a ``LocalRelation`` (an RDD of Arrow batches
above ``spark.sql.execution.arrow.localRelationThreshold``), never a
pickled ``PythonRDD`` whose every execution starts Python workers.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_APP: str | None = None  # the applicationId the memos below belong to
_SCANS: dict[str, DataFrame] = {}  # parquet path -> scan
_VIEWS: dict[str, str] = {}  # view name -> sf_dir it was registered from


def _own(spark: SparkSession) -> None:
    """Clear both memos if they were filled under another application."""
    global _APP
    app = spark.sparkContext.applicationId
    if app != _APP:
        _SCANS.clear()
        _VIEWS.clear()
        _APP = app


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The (memoized) parquet scan for ``{sf_dir}/{name}.parquet``."""
    _own(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = _SCANS.get(path)
    if df is None:
        df = spark.read.parquet(path)
        _SCANS[path] = df
    return df


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """createOrReplaceTempView for each table, skipping names already
    registered from the SAME sf_dir in this session (a different sf_dir
    re-registers, so mixed-scale test sessions stay correct)."""
    _own(spark)
    for n in names:
        if _VIEWS.get(n) == sf_dir:
            continue
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)
        _VIEWS[n] = sf_dir


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence] | pd.DataFrame, schema: str | StructType
) -> DataFrame:
    """A driver-built table as a JVM-only DataFrame.

    ``rows`` is a sequence of tuples in ``schema`` order, or a pandas
    DataFrame with ``schema``'s column names; ``schema`` is a DDL string
    or a StructType. The rows become one Arrow table typed by ``schema``,
    so the plan reads a ``LocalTableScan`` and no execution of it starts
    a Python worker. A ``pyarrow.Table`` has no non-Arrow fallback, so an
    unconvertible value raises here instead of silently turning into a
    pickled RDD."""
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows[struct.names], schema=arrow_schema, preserve_index=False)
    else:
        columns = list(zip(*rows)) or [()] * len(struct.names)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
        )
    return spark.createDataFrame(table, struct)
