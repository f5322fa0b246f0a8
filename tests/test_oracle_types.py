"""Registry-wide oracle typing lint (VERDICT r2 item 2).

DuckDB SUM(INTEGER) is HUGEINT; fetched via Arrow it becomes decimal128 and
hash-mismatches Spark's int64 in the driver's comparer even when values
agree (the r2 event_sessions/confusion_counts failure). This test DESCRIBEs
every oracle (DuckDB plans, does not execute) against the sf0.001 views and
fails on any HUGEINT/DECIMAL output column — catching the trap at pytest
speed instead of at driver-gate time.
"""

import hashlib
import importlib
import json

import duckdb
import pytest

import __spark_entry__ as entry
from asf_tools_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
BAD_TYPES = ("HUGEINT", "DECIMAL", "UHUGEINT")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return c


def test_all_oracles_emit_driver_safe_types(con):
    bad = {}
    for name, sql in entry.oracle_sql().items():
        cols = con.execute(f"DESCRIBE SELECT * FROM ({sql}) _q").fetchall()
        offenders = [
            f"{cname}:{ctype}" for cname, ctype, *_ in cols
            if any(b in str(ctype).upper() for b in BAD_TYPES)
        ]
        if offenders:
            bad[name] = offenders
    assert not bad, f"oracles emitting HUGEINT/DECIMAL columns (CAST them): {bad}"


def test_every_query_has_oracle_or_documented_rows_only(con):
    """Every rows-only query must be one of the documented-by-design set —
    a new query silently missing its oracle is a registry bug, not a
    design decision."""
    # r5: embedding_near_dup / media_features / simhash64_pairs moved OUT of
    # this set — they gained independent pure-Python/numpy VALUES-replay
    # oracles (the BPE-golden de-circularization pattern)
    rows_only_by_design = {
        "ivf_topk",       # sample-trained centroids are driver state
        "pq_topk",        # sample-trained codebooks are driver state
        "hll_distinct",   # DuckDB approx_count_distinct is a different estimator
        "ivfpq_topk",     # driver-state centroids/codebooks, like pq_topk
        "ivfpq_rerank",   # same driver-state codebooks (two-stage refine)
    }
    # the VALUES-replay oracles read the sf0.01 fixture at oracle-build time
    # and deliberately fall back to rows-only when it is absent — allow that
    # degradation here instead of failing the lint in fixture-less envs
    import os
    if not os.path.exists("/root/testdata/sf0.01/documents.parquet"):
        rows_only_by_design |= {"simhash64_pairs"}
    if not os.path.exists("/root/testdata/sf0.01/embeddings.parquet"):
        rows_only_by_design |= {"embedding_near_dup"}
    qs = set(entry.queries())
    os_ = set(entry.oracle_sql())
    assert os_ <= qs, f"oracles without queries: {os_ - qs}"
    assert qs - os_ == rows_only_by_design, (
        f"undocumented rows-only queries: {(qs - os_) - rows_only_by_design}"
    )


# sha256 of json.dumps(list(keys)) for queries() and oracle_sql(): the
# driver records the first 50 rows, so the key order is part of the contract
QUERY_KEYS_SHA256 = "83a30c04eb1fa661fd490b64ff7f0c50cb96ef12c26e625b9c42b5f5646681ec"
ORACLE_KEYS_SHA256 = "6b35d115fde095aad27bc8a87349b6a91d2bea07916e98872990a653a8751491"


def _keys_sha256(d: dict) -> str:
    return hashlib.sha256(json.dumps(list(d)).encode()).hexdigest()


def test_registry_keys_and_order_are_pinned():
    qs, os_ = entry.queries(), entry.oracle_sql()
    assert (len(qs), len(os_)) == (170, 165)
    assert _keys_sha256(qs) == QUERY_KEYS_SHA256
    assert _keys_sha256(os_) == ORACLE_KEYS_SHA256


def test_registry_table_rows_only_reasons_and_builders():
    rows_only = {name for name, _mod, *reason in REGISTRY if reason}
    assert rows_only == set(entry.queries()) - set(entry.oracle_sql())
    for name, mod, *_ in REGISTRY:
        fn = getattr(importlib.import_module(f"asf_tools_spark.{mod}"), f"q_{name}")
        assert (fn.__module__, fn.__name__) == (f"asf_tools_spark.{mod}", f"q_{name}")


def test_testdata_word_count_under_oracle_cap():
    """Position-enumerating oracles use a constant range bound (DuckDB 1.0
    generate_series limitation). A longer doc would make the oracle
    silently drop tail n-grams — fail loudly here instead."""
    import duckdb

    from asf_tools_spark.queries_text import ORACLE_MAX_WORDS

    for sf in ("0.001", "0.01", "0.1"):
        mx = duckdb.sql(
            "SELECT MAX(len(string_split(trim(regexp_replace(lower(text),"
            f"'\\s+', ' ', 'g')), ' '))) FROM '/root/testdata/sf{sf}/documents.parquet'"
        ).fetchone()[0]
        assert mx <= ORACLE_MAX_WORDS, f"sf{sf} has a {mx}-word doc; raise ORACLE_MAX_WORDS"
