"""SparkSession factory: the package must reach Python workers from any
working directory."""

import ast
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_SCRIPT = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
import pandas as pd
from asf_tools_spark.session import get_spark
from asf_tools_spark.operators import labeling

spark = get_spark("cwd-independence", master="local[2]", shuffle_partitions=2)
base = spark.createDataFrame(pd.DataFrame({{
    "row": pd.Series([0, 0, 1, 6], dtype="int32"),
    "col": pd.Series([0, 1, 2, 6], dtype="int32"),
    "flag": True,
}}))
labeling.DRIVER_EXACT_MAX_PX = 0  # the distributed (pandas-UDF) path
out = labeling.label_connected(base, "flag", (4, 4))
print("components", out.select("label").distinct().count())
spark.stop()
"""


def test_udf_runs_outside_repo_root(tmp_path):
    """The pandas-UDF labeling path imports asf_tools_spark in the Python
    workers; with PYTHONPATH unset and the cwd elsewhere, only the
    session's executor environment tells them where the package is."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "components 2" in r.stdout


def _env_names_read(tree: ast.AST) -> set:
    """Names passed to os.environ.get / os.getenv / os.environ[...]; a
    non-literal name is reported as its source text."""
    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ"
                and isinstance(node.value, ast.Name) and node.value.id == "os")

    def name(node):
        return node.value if isinstance(node, ast.Constant) else ast.unparse(node)

    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and is_environ(f.value)) or (
                f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            ):
                names.add(name(node.args[0]))
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            names.add(name(node.slice))
    return names


def test_no_new_environment_switches():
    """The package reads exactly these environment variables; a new
    behaviour switch must come with a reviewed edit of this set."""
    names = set()
    for path in (REPO / "asf_tools_spark").rglob("*.py"):
        names |= _env_names_read(ast.parse(path.read_text(), str(path)))
    assert names == {
        "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY",
        "SPARK_DRIVER_JAVA_OPTS", "SPARK_GRAFT_HASH_FAMILY",
    }


def test_scan_memo_evicts_other_sessions(spark, tmp_path):
    """Accessing the parquet-scan memo drops every entry of another
    applicationId (a stopped session's handles must not accumulate)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from asf_tools_spark.core import io

    pq.write_table(pa.table({"x": [1, 2]}), tmp_path / "memo_t.parquet")
    io._APP = "app-stopped"
    io._SCANS["elsewhere/memo_t.parquet"] = None
    io._VIEWS["memo_t"] = "elsewhere"
    assert io.read_table(spark, str(tmp_path), "memo_t").count() == 2
    assert io._APP == spark.sparkContext.applicationId
    assert list(io._SCANS) == [f"{tmp_path}/memo_t.parquet"]
    assert io._VIEWS == {}
