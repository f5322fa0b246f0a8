"""Physical-plan audits: the plans must stay the plans we designed.

Asserts the scale-critical properties on the optimized/physical plans:
column pruning reaches the parquet scan, small sides broadcast, the hot
paths stay JVM-side (no Python eval and no pickled driver table in the
headline pipeline), and its aggregate is one partial/final pair around one
Exchange.
"""

import re

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def lineage(df) -> str:
    """The RDD lineages one execution of ``df`` runs: its own, and that of
    every RDD scan in its physical plan (a broadcast build side runs its
    own chain, which ``toRdd`` does not show)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    return "\n".join([qe.toRdd().toDebugString()] + [
        leaf.rdd().toDebugString() for leaf in scans if leaf.getClass().getSimpleName() == "RDDScanExec"
    ])


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def test_cell_counts_prunes_columns(spark, sf_dir):
    """The per-cell count/mean must NOT read text/lang/source from parquet —
    only doc_id (geotag key) should reach the scan."""
    from asf_tools_spark.queries import q_cell_assign_counts

    plan = plan_of(q_cell_assign_counts(spark, sf_dir))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "doc_id" in scan[0]
    assert "text" not in scan[0] and "source" not in scan[0], scan[0]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_quantity") > 40) & F.col("l_returnflag").isNotNull()
    ).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,40.0)" in plan, plan


def test_tile_assignments_broadcasts_and_stays_jvm(spark, sf_dir):
    """Flagship plan: polygon cover joins are broadcast (no shuffle of the
    page side) and the whole pipeline is JVM-only (no Python workers):
    no Python plan node, and no ``PythonRDD`` in any lineage it executes
    (a pickled driver table hides one under ``Scan ExistingRDD``)."""
    from asf_tools_spark.queries import q_tile_assignments

    df = q_tile_assignments(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "page side must not shuffle for the join"
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"hot path fell off the JVM: {marker}"
    rdds = lineage(df)
    assert "PythonRDD" not in rdds, rdds


def test_driver_build_sides_are_local_table_scans(spark):
    """The driver-built build sides (box and ring polygon covers, the kNN
    target rings, the label root map) are Arrow LocalTableScans, not
    pickled RDDs; PySpark's silent non-Arrow fallback would fail this."""
    from asf_tools_spark.operators.labeling import merge_labels
    from asf_tools_spark.operators.spatial_join import knn_join, polygon_cover_df
    from asf_tools_spark.sources.pages import synth_pages
    from asf_tools_spark.sources.polygons import watershed_boxes, watershed_polygons

    labeled = spark.range(6).selectExpr("id AS key", "id AS label")
    edges = spark.createDataFrame([(1, 2), (4, 5)], "label long, nbr_label long")
    targets = [{"target_id": 1, "lat": 10.0, "lon": 20.0}]
    for df in (
        polygon_cover_df(spark, watershed_boxes(), 8),
        polygon_cover_df(spark, watershed_polygons(), 8),
        knn_join(synth_pages(spark, 100), targets),
        merge_labels(labeled, edges),
    ):
        plan = executed_plan(df)
        assert "LocalTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan
        assert "PythonRDD" not in lineage(df)


def test_box_join_one_probe_one_hash_chain(spark, sf_dir):
    """The box spatial join is ONE broadcast probe: the box test is the
    condition of the cell_id BroadcastHashJoin (one BroadcastExchange), and
    the geotag hash chain runs once per page. A nullable lat/lon would let
    the box test infer isnotnull(lat) below the geotag projections and
    evaluate every hash twice (salt ``geo-a`` would appear again)."""
    from asf_tools_spark.plans.assignments import tile_assignments
    from asf_tools_spark.queries import q_tile_assignments
    from asf_tools_spark.sources.pages import synth_pages
    from asf_tools_spark.sources.polygons import watershed_boxes

    for df in (
        tile_assignments(synth_pages(spark, 1000), watershed_boxes(), res=8),
        q_tile_assignments(spark, sf_dir),
    ):
        plan = executed_plan(df)
        assert plan.count("geo-a") == 1, plan
        assert plan.count("BroadcastExchange") == 1, plan


def test_tile_assignments_job_bound(spark, count_jobs):
    """One execution of the flagship plan: at most 3 jobs (the shuffle map
    stage, the final aggregate, the broadcast of the cover)."""
    from asf_tools_spark.plans.assignments import tile_assignments
    from asf_tools_spark.sources.pages import synth_pages
    from asf_tools_spark.sources.polygons import watershed_boxes

    df = tile_assignments(synth_pages(spark, 100_000), watershed_boxes(), res=8)
    rows, jobs = count_jobs(df.collect)
    assert rows
    assert jobs <= 3, jobs


def test_slope_window_computes_lag_lead_once(spark):
    """The slope stencil's Window evaluates one lag and one lead, however
    often the CASE chain reads them."""
    from asf_tools_spark.operators.fuzzy_ops import slope_magnitude_col

    grid = spark.range(100).selectExpr("id % 10 AS row", "id div 10 AS col", "CAST(id AS DOUBLE) AS value")
    windows = [ln for ln in executed_plan(slope_magnitude_col(grid)).splitlines() if "Window [" in ln]
    assert len(windows) == 1, windows
    assert len(re.findall(r"\b(?:lag|lead)\(", windows[0])) == 2, windows[0]


@pytest.mark.parametrize("name,passes", [("hillshade_grid", 1), ("aspect_grid", 1), ("morph_open_grid", 4)])
def test_stencils_are_halo_passes(spark, sf_dir, name, passes):
    """Each Horn or morphology pass is one tile+halo grouped map: one
    shuffle Exchange into one FlatMapGroupsInPandas, and its one Generate
    sends a cell to its distinct halo tiles (~1.03x the cells). A 9x
    scatter stencil (an explode of the 3x3 offsets into a hash aggregate
    per target cell) fails this."""
    from asf_tools_spark.queries import queries

    plan = plan_of(queries()[name](spark, sf_dir), "simple")
    generates = [ln for ln in plan.splitlines() if "Generate " in ln]
    assert len(generates) == passes, plan
    assert all("explode(array_distinct(array(" in ln for ln in generates), generates
    assert plan.count("Exchange hashpartitioning") == passes, plan
    assert plan.count("FlatMapGroupsInPandas") == passes, plan
    assert "HashAggregate" not in plan, plan


def test_cell_agg_is_one_partial_final_pair(spark, sf_dir):
    """The per-cell count/mean is one groupBy: a map-side partial
    aggregate below the plan's one Exchange, the final one above it, and
    no salt column."""
    from asf_tools_spark.queries import q_cell_assign_counts

    plan = plan_of(q_cell_assign_counts(spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    below = plan[plan.index("Exchange hashpartitioning"):]
    assert re.search(r"HashAggregate\(keys=\[cell_id[^\]]*\], functions=\[partial_", below), plan
    assert "_salt" not in plan, plan


def test_knn_builds_broadcast_ring_side(spark, sf_dir):
    from asf_tools_spark.queries import q_knn_pages

    plan = plan_of(q_knn_pages(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_headline_whole_stage_codegen(spark):
    """Synthetic page generation + cell encode compiles into whole-stage
    codegen (no interpreted expression islands)."""
    from asf_tools_spark.sources.pages import synth_pages

    plan = plan_of(synth_pages(spark, 1000), "simple")
    assert "*(1)" in plan  # the '*(n)' prefix marks whole-stage codegen
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_flood_depth_no_nested_loop(spark, sf_dir):
    """flood_depth_simple: cover-cell equi-join (BroadcastHashJoin), never a
    range-predicate BroadcastNestedLoopJoin — the nested loop is a
    cartesian-family scan that explodes at 100x polygons."""
    from asf_tools_spark.queries import q_flood_depth_simple

    plan = plan_of(q_flood_depth_simple(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan



# Queries whose plan legitimately contains a BroadcastNestedLoopJoin — every
# one is a tiny-literal replication, never a big-x-big scan:
#   candidate_intersection  1-row global-median aggregate join
#   ann_cosine_topk         deliberate brute-force baseline (broadcast queries)
#   epsg_vote               1-row x 1-row final combine
#   histogram_smooth        5-row smoothing-kernel replication
#   reverse_cdf_threshold   1-row min/max/count scalar join
_BNLJ_ALLOWED = {
    "candidate_intersection", "ann_cosine_topk", "ann_topk_int8", "epsg_vote",
    "histogram_smooth", "reverse_cdf_threshold",
    "lsh_recall_report",  # 1-row x 1-row final aggregate combine
    "pq_topk",  # ADC scan: corpus x broadcast 3-row query-LUT frame
    # r5 ranking family: 1-row corpus-stat scalar joins (N, avgdl, token /
    # pair totals) broadcast into the scoring projection
    "tfidf_terms", "bm25_search", "cooccur_pmi",
    "lm_perplexity",  # 1-row vocab-size scalar broadcast into LM smoothing
    "chi2_terms",  # 1-row N + L-row label-marginal broadcast replication
    "histogram_quantile",  # 3-row quantile-literal frame broadcast into bins
    "morans_i", "gi_star",  # 1-row global-moment scalar broadcast joins
    "gi_star_spacetime",  # same 1-row global-moment scalar broadcast
    "tile_decay_rank",  # 1-row max-ts scalar broadcast into the decay weight
    "emerging_hotspots",  # 1-row calendar-bounds explode (span-bounded)
    "rrf_fusion",  # full-outer of two 50-row rank lists (BHJ can't do full outer)
    "nb_classify",  # model grid = |C| x |V| broadcast NL + 1-row V/N scalars
    "dq_checks",  # 1-row x 1-row report-line combines
    # users x calendar scaffold: the build side is the 1-row global
    # min/max date bounds exploded to <= span-days rows (bounded by time
    # range, not data size) — any scalar-derived cross is BNLJ in Spark
    "gap_fill_days",
}

# These queries execute eagerly while BUILDING (driver-side selection /
# iterative fixpoints / fixture loads) — skipped to keep the sweep fast;
# each is tiny and covered by its own oracle row.
_EAGER_BUILD = {
    "grid_labels", "segment_areas_grid", "label_bboxes", "gaussian_infill",
    "flow_accum_grid", "hand_grid", "em_fixture_thresholds", "ivf_topk",
    "flood_depth_grid", "pq_topk", "ivfpq_topk", "corpus_funnel",
    "ivfpq_rerank",
    "pareto_frontier",  # approxQuantile bucket boundaries run eagerly
}


def test_registry_sweep_no_accidental_nested_loops(spark, sf_dir):
    """Every registry query's physical plan must be free of CartesianProduct
    and of BroadcastNestedLoopJoin outside the justified allowlist — the
    guardrail that caught flood_depth_simple's big-x-boxes nested loop."""
    from asf_tools_spark.queries import queries

    for name, fn in queries().items():
        if name in _EAGER_BUILD:
            continue
        plan = plan_of(fn(spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, name
        if name not in _BNLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_minhash_single_shuffle(spark, sf_dir):
    """MinHash signatures: one explode + one aggregate — exactly one
    exchange (the groupBy), no joins."""
    from asf_tools_spark.queries_text import q_minhash_signatures

    plan = plan_of(q_minhash_signatures(spark, sf_dir), "simple")
    assert plan.count("Exchange") <= 2  # partial/final agg exchange (+AQE read)
    assert "Join" not in plan


def test_tile_pyramid_one_scan_two_aggregates(spark, sf_dir):
    """The pyramid must scan the point table ONCE: base partial/final
    aggregate + the tiny ancestor rollup — no joins, no per-level
    re-scan (exactly one parquet scan in the plan)."""
    from asf_tools_spark.queries import q_tile_pyramid

    plan = plan_of(q_tile_pyramid(spark, sf_dir), "simple")
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") <= 3  # base agg + rollup (+AQE reads)


def test_media_dedup_shuffles_digest_not_payload(spark, sf_dir):
    """The blob-dedup exchange must carry the 32-byte digest, never the
    payload bytes: sha2 is computed map-side below the exchange and the
    payload column does not cross it."""
    from asf_tools_spark.queries_raster import q_media_dedup

    plan = plan_of(q_media_dedup(spark, sf_dir), "formatted")
    ex = [b for b in plan.split("\n\n") if b.startswith("(")
          and "Exchange" in b.splitlines()[0]]
    assert ex, plan
    assert all("payload" not in b for b in ex), ex


def test_value_anomalies_broadcasts_group_stats(spark, sf_dir):
    """Both per-key stat joins must be broadcast — the fact table is
    scanned, never shuffled by key."""
    from asf_tools_spark.queries_events import q_value_anomalies

    plan = plan_of(q_value_anomalies(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
