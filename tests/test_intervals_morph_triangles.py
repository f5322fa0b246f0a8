"""Unit tests for the round-5 session-4 operators: gaps-and-islands
interval merge, 3x3 binary morphology, and degree-ordered triangle
counting (each also DuckDB-oracled via its registry row)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from asf_tools_spark.operators import tiling
from asf_tools_spark.operators.graph import triangle_count
from asf_tools_spark.operators.intervals import merge_intervals
from asf_tools_spark.operators.morphology import (
    binary_close,
    binary_dilate,
    binary_erode,
    binary_open,
)


def test_merge_intervals_islands_and_gap(spark):
    """Overlap merges, abutment merges (gap == 0 counts as touching only
    when start <= prev_end + min_gap), and min_gap bridges small gaps."""
    rows = [
        # key "a": [0,10] + [5,20] overlap; [20,30] abuts (start == prev
        # end); [40,50] is a separate island at min_gap=0
        ("a", 0, 10), ("a", 5, 20), ("a", 20, 30), ("a", 40, 50),
        # key "b": containment ([0,100] swallows [10,20]) + far island
        ("b", 0, 100), ("b", 10, 20), ("b", 200, 210),
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = {
        (r["k"], r["island_start"]): (r["island_end"], r["n_intervals"], r["covered"])
        for r in merge_intervals(df, "k", "s", "e").collect()
    }
    assert got == {
        ("a", 0): (30, 3, 30),
        ("a", 40): (50, 1, 10),
        ("b", 0): (100, 2, 100),
        ("b", 200): (210, 1, 10),
    }
    # min_gap=10 bridges a's [30..40] gap into one island
    bridged = {
        (r["k"], r["island_start"]): r["island_end"]
        for r in merge_intervals(df, "k", "s", "e", min_gap=10).collect()
    }
    assert bridged == {("a", 0): 50, ("b", 0): 100, ("b", 200): 210}


def _tri_counts(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}


def test_triangle_count_k4_pendant_and_noise(spark):
    """K4 gives every member 3 triangles; a pendant node and a disconnected
    edge give 0 (absent from output); duplicate/reversed/self-loop edges
    are ignored (simple undirected semantics)."""
    k4 = [(a, b) for a in "pqrs" for b in "pqrs" if a < b]
    noise = [("s", "p"), ("p", "p"), ("x", "q"), ("y", "z"), ("q", "p")]
    got = _tri_counts(spark, k4 + noise)
    assert got == {"p": 3, "q": 3, "r": 3, "s": 3}


def test_triangle_count_two_sharing_an_edge(spark):
    """Two triangles sharing edge (a,b): a,b in 2 each; c,d in 1."""
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")]
    assert _tri_counts(spark, edges) == {"a": 2, "b": 2, "c": 1, "d": 1}


def _np_morph(arr: np.ndarray, op: str) -> np.ndarray:
    """Tiny independent numpy oracle: zero-padded 3x3 min/max filters."""
    h, w = arr.shape
    padded = np.zeros((h + 2, w + 2), dtype=arr.dtype)
    padded[1:-1, 1:-1] = arr
    stack = np.stack(
        [padded[1 + dr : 1 + dr + h, 1 + dc : 1 + dc + w]
         for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
    )
    return stack.min(axis=0) if op == "erode" else stack.max(axis=0)


@pytest.fixture(scope="module")
def speck_grid(spark):
    """16x16 grid: an isolated speck, a 1px hole inside a solid block, and
    a 4x4 solid square — the canonical opening/closing demonstrators."""
    arr = np.zeros((16, 16), dtype=np.int64)
    arr[2, 2] = 1                      # speck: opening removes it
    arr[5:11, 5:11] = 1
    arr[8, 8] = 0                      # pinhole: closing fills it
    arr[12:16, 0:4] = 1                # corner block: boundary semantics
    rows = [(int(r), int(c), int(arr[r, c])) for r in range(16) for c in range(16)]
    df = spark.createDataFrame(rows, "row int, col int, water int")
    return arr, df


@pytest.mark.parametrize("fn,ops", [
    (binary_erode, ["erode"]),
    (binary_dilate, ["dilate"]),
    (binary_open, ["erode", "dilate"]),
    (binary_close, ["dilate", "erode"]),
])
def test_morphology_matches_numpy(spark, speck_grid, monkeypatch, fn, ops):
    """On the default tile (one tile holds the grid) and on small tiles
    whose edges the 3x3 windows straddle: 16 is a multiple of 4, not of
    5 or 3."""
    arr, df = speck_grid
    expect = arr
    for op in ops:
        expect = _np_morph(expect, op)
    for tile in (tiling.HALO_TILE, (4, 4), (5, 3)):
        monkeypatch.setattr(tiling, "HALO_TILE", tile)
        out = fn(df, "water", 16, 16).collect()
        assert len(out) == 256
        got = np.zeros_like(arr)
        for r in out:
            got[r["row"], r["col"]] = r["water"]
        np.testing.assert_array_equal(got, expect)


def test_opening_and_closing_semantics(spark, speck_grid):
    arr, df = speck_grid
    opened = {(r["row"], r["col"]): r["water"]
              for r in binary_open(df, "water", 16, 16).collect()}
    closed = {(r["row"], r["col"]): r["water"]
              for r in binary_close(df, "water", 16, 16).collect()}
    assert opened[(2, 2)] == 0          # speck gone
    assert opened[(7, 7)] == 1          # block interior survives
    assert closed[(8, 8)] == 1          # pinhole filled
    assert closed[(2, 2)] == 1          # closing keeps the speck
