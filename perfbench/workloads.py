"""The benchmark's workloads.

Each workload is a closed loop with one client: ``op`` runs one operation
and returns only when it has finished. ``prepare`` is one set-up
repetition (build inputs and plans, then one warm operation). ``reference``
computes, by an independent route, what every operation must output for
this seed. ``layers`` turns a traced run's spans and event log into the
workload's per-layer numbers.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

import checks
import datagen
import eventlog
from tracing import Tracer, patched


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_noop(df: DataFrame, *exprs) -> dict:
    """Materialize ``df`` into the noop sink and return ``exprs``
    aggregated over its rows during the same execution."""
    obs = Observation()
    noop(df.observe(obs, *exprs))
    return obs.get


def row_digest(df: DataFrame) -> list:
    """Row count and an order-insensitive digest: the sum of each row's
    xxhash64 (mod 2^31) over every column, floats rounded to 6 places."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c, 6) + F.lit(0.0)  # + 0.0 folds -0.0 into 0.0
        elif isinstance(f.dataType, ArrayType) and isinstance(f.dataType.elementType, (DoubleType, FloatType)):
            c = F.transform(c, lambda x: F.round(x, 6) + F.lit(0.0))
        cols.append(c)
    h = F.pmod(F.xxhash64(*cols), F.lit(1 << 31))
    return [F.count(F.lit(1)).alias("rows"), F.coalesce(F.sum(h), F.lit(0)).alias("digest")]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    items = ""  # what one operation processes
    n_items = 0
    setup_reps = 1

    def __init__(self, spark, seed: int, work: Path, tracer: Tracer | None = None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def instrument(self):
        """Wrappers installed around the traced operations only."""
        return nullcontext()

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self) -> dict:
        """One operation: ``{"build_s", "action_s", "out"}``."""
        raise NotImplementedError

    def reference(self) -> dict:
        raise NotImplementedError

    def between_ops(self) -> None:
        """Untimed: drop what an operation cached and let the driver JVM
        collect garbage, so each operation starts from the same state."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def probe(self, untraced_op_s: float) -> dict:
        """Traced run only: extra measurements that need the session."""
        return {}

    def layers(self, log: eventlog.EventLog) -> dict:
        """Traced run only: per-layer numbers from spans and the event log."""
        return {}


class TileAssign(Workload):
    """The headline operator: in-plan page generation, JVM cell encode,
    broadcast cover join with box refine, salted aggregate."""

    name, items = "tile_assign", "pages"
    n_items = 4_000_000
    setup_reps = 2
    # operations keep getting faster for the first few executions of the
    # plan (JIT), so each set-up repetition ends with several warm ones
    warm_ops = 3

    def prepare(self) -> None:
        from asf_tools_spark.plans.assignments import tile_assignments
        from asf_tools_spark.sources.pages import synth_pages
        from asf_tools_spark.sources.polygons import watershed_boxes

        self.polygons = watershed_boxes(seed=self.seed)
        self.pages = synth_pages(self.spark, self.n_items, cell_res=8)
        self.out = tile_assignments(self.pages, polygons=self.polygons, res=8)
        for _ in range(self.warm_ops):
            self.op()

    def op(self) -> dict:
        # the plan was built once in prepare; an operation only attaches
        # the output check to it ("build") and re-executes it ("action")
        with self.span("op") as sp:
            t0 = time.perf_counter()
            df = self.out.observe(
                obs := Observation(),
                F.count(F.lit(1)).alias("rows"),
                F.sum("n_pages").alias("n_pages"),
                F.sum(F.col("hand_candidate").cast("long")).alias("candidates"),
            )
            t1 = time.perf_counter()
            noop(df)
            t2 = time.perf_counter()
            if sp:
                sp.attrs.update(obs.get)
        return {"build_s": t1 - t0, "action_s": t2 - t1, "out": obs.get}

    def reference(self) -> dict:
        """Per-(polygon, cell) counts from a plain box filter over the same
        pages: every box against every page, no cell cover."""

        def compute() -> dict:
            boxes = self.spark.createDataFrame(
                [(int(p["poly_id"]), p["min_lat"], p["min_lon"], p["max_lat"], p["max_lon"]) for p in self.polygons],
                "poly_id int, b_lat0 double, b_lon0 double, b_lat1 double, b_lon1 double",
            )
            inside = (
                (F.col("lat") >= F.col("b_lat0")) & (F.col("lat") <= F.col("b_lat1"))
                & (F.col("lon") >= F.col("b_lon0")) & (F.col("lon") <= F.col("b_lon1"))
            )
            per_cell = (
                self.pages.select("lat", "lon", "cell_id", "hand")
                .crossJoin(F.broadcast(boxes)).where(inside)
                .groupBy("poly_id", "cell_id")
                .agg(F.count(F.lit(1)).alias("n"), F.avg((F.col("hand") < 15.0).cast("double")).alias("low"))
            )
            r = per_cell.agg(
                F.count(F.lit(1)), F.sum("n"), F.sum((F.col("low") > 0.8).cast("long"))
            ).collect()[0]
            return {"rows": int(r[0]), "n_pages": int(r[1]), "candidates": int(r[2])}

        return checks.cached(self.work / "ref" / f"tile_assign_n{self.n_items}_seed{self.seed}.json", compute)

    STEPS = ("sources.pages.generate", "operators.spatial_join.join", "plans.assignments.aggregate")
    USED = ("cell_id", "lat", "lon", "value", "hand")  # the page columns the pipeline reads

    def probe(self, untraced_op_s: float) -> dict:
        from asf_tools_spark.operators.spatial_join import spatial_join_polygons

        # each step is timed by materializing the pipeline's prefix up to it,
        # restricted to the columns the full pipeline keeps after pruning
        joined = spatial_join_polygons(self.pages, self.polygons, res=8)
        prefixes = (self.pages.select(*self.USED), joined.select("poly_id", *self.USED), self.out)
        for name, df in zip(self.STEPS, prefixes):
            noop(df)  # warm this plan shape
            for _ in range(3):
                with self.span(f"{name}.prefix"):
                    noop(df)
                self.between_ops()
        return {"tile_assign.scaling_eff_1to4": self._scaling()}

    def _scaling(self) -> float:
        """Strong scaling at a quarter of the page count: this session's
        median against one operation at ``local[1]`` in a child process."""
        import json

        from asf_tools_spark.plans.assignments import tile_assignments
        from asf_tools_spark.sources.pages import synth_pages

        n = self.n_items // 4
        out = tile_assignments(synth_pages(self.spark, n, cell_res=8), polygons=self.polygons, res=8)
        noop(out)
        times = []
        for _ in range(3):
            with self.span("tile_assign.scaling_n") as sp:
                noop(out)
            times.append(sp.duration)
        with self.span("tile_assign.scaling_1"):
            res = subprocess.run(
                [sys.executable, str(Path(__file__).with_name("run.py")), "--workload", self.name,
                 "--seed", str(self.seed), "--seconds", "4", "--trace", "0", "--cpus", "1",
                 "--pages", str(n)],
                capture_output=True, text=True, timeout=170, check=True,
            )
        op_s_1 = json.loads(res.stdout.strip().splitlines()[-1])["metrics"]["op_s"]["value"]
        cpus = int(self.spark.sparkContext.defaultParallelism)
        return op_s_1 / (cpus * _median(times))

    def layers(self, log) -> dict:
        out, prev = {}, 0.0
        for name in self.STEPS:
            med = _median([s.duration for s in self.tracer.named(f"{name}.prefix")])
            out[f"{name}_s"] = med - prev  # this prefix minus the previous one
            prev = med
        # output rows of the join and aggregate nodes in the traced
        # operations, picked by node description: the cover join is keyed on
        # cell_id, the box refine on poly_id, the partial aggregate groups
        # by the _salt column
        ops = self.tracer.named("op")

        def rows(pred) -> float:
            return _median([log.node_rows(s.start, s.end, pred) for s in ops])

        cand = rows(lambda n, s: "Join" in n and "cell_id" in s.split("]")[0])
        refined = rows(lambda n, s: "Join" in n and "poly_id" in s.split("]")[0])
        out["operators.spatial_join.candidate_rows"] = cand
        out["operators.spatial_join.refined_rows"] = refined
        out["operators.spatial_join.refine_keep_ratio"] = refined / cand if cand else 0.0
        out["plans.assignments.partial_rows"] = rows(
            lambda n, s: "HashAggregate" in n and "_salt" in s.split("functions=")[0] and "partial_" not in s
        )
        out["plans.assignments.output_rows"] = _median([s.attrs.get("rows", 0) for s in ops])
        return out


class WaterMap(Workload):
    """The hydrosar pipeline on a synthetic dual-pol scene: driver-serialized
    scalar collects, an Arrow EM fit, helper threads and driver-local
    labeling kernel calls."""

    name, items = "water_map", "px"
    # 50x50 tiles: at 100x100 no backscatter tile qualifies on this scene
    # and the EM fit never runs
    shape = (300, 400)
    tile = (50, 50)
    # one set-up repetition: a cold map costs ~30 s on a 4-core host and
    # the whole run must stay short
    setup_reps = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from scripts.bench_watermap import synth_scene

        self.n_items = self.shape[0] * self.shape[1]
        self.scene = synth_scene(*self.shape, seed=self.seed)

    def prepare(self) -> None:
        from asf_tools_spark.operators.tiling import long_grid_df

        # eager local checkpoints rather than persist(): between_ops clears
        # the cache the pipeline fills, and the inputs must survive that
        self.grids = [long_grid_df(self.spark, a, self.tile).localCheckpoint(eager=True) for a in self.scene]
        self.op()
        self.between_ops()

    def op(self) -> dict:
        from asf_tools_spark.plans.water_map import make_water_map_grid

        vv, vh, hand = self.grids
        with self.span("op"):
            t0 = time.perf_counter()
            with self.span("plans.water_map.build"):
                wm = make_water_map_grid(vv, vh, hand, self.shape, tile_shape=self.tile)
            t1 = time.perf_counter()
            with self.span("plans.water_map.action"):
                idx = F.col("row").cast("long") * self.shape[1] + F.col("col").cast("long")
                r = wm["water_map"].agg(F.count(F.lit(1)), F.sum(idx), F.sum(idx * idx)).collect()[0]
            t2 = time.perf_counter()
        out = {
            "px": int(r[0]), "idx_sum": int(r[1] or 0), "idx_sq_sum": int(r[2] or 0),
            "hand_candidates": [int(t) for t in wm["hand_candidates"]],
            "selected_tiles": [int(t) for t in wm["selected_tiles"]],
        }
        return {"build_s": t1 - t0, "action_s": t2 - t1, "out": out}

    def _mirror(self) -> dict:
        from asf_tools_spark.core import watermap_mirror

        vv, vh, hand = (np.ma.MaskedArray(a, mask=np.zeros(a.shape, dtype=bool)) for a in self.scene)
        return watermap_mirror.make_water_map(vv, vh, hand, tile_shape=self.tile)

    def reference(self) -> dict:
        def compute() -> dict:
            res = self._mirror()
            rows, cols = np.nonzero(res["water_map"])
            return {
                **checks.pixel_digest(rows, cols, self.shape[1]),
                "hand_candidates": [int(t) for t in res["hand_candidates"]],
                "selected_tiles": [int(t) for t in res["selected_tiles"]],
            }

        name = f"water_map_{self.shape[0]}x{self.shape[1]}_t{self.tile[0]}x{self.tile[1]}_seed{self.seed}.json"
        return checks.cached(self.work / "ref" / name, compute)

    @contextmanager
    def instrument(self):
        from asf_tools_spark.operators import labeling as op_labeling
        from asf_tools_spark.operators import tiling
        from asf_tools_spark.plans import water_map

        tr = self.tracer
        kernel = op_labeling.label_components

        def counted_kernel(flag, *a, **kw):
            with tr.span("core.labeling.label_components", px=int(np.asarray(flag).size)):
                return kernel(flag, *a, **kw)

        targets = [
            (tiling, "select_hand_tiles", "operators.tiling.select_hand_tiles"),
            (tiling, "select_backscatter_tiles", "operators.tiling.select_backscatter_tiles"),
            (tiling, "determine_em_threshold_distributed", "operators.tiling.em_threshold"),
            (water_map, "label_connected", "operators.labeling.label_connected"),
        ]
        with patched(targets, tr):
            op_labeling.label_components = counted_kernel
            try:
                yield
            finally:
                op_labeling.label_components = kernel

    def probe(self, untraced_op_s: float) -> dict:
        with self.span("core.watermap_mirror") as sp:
            self._mirror()
        out = {"core.watermap_mirror.s": sp.duration, "plans.water_map.mirror_ratio": untraced_op_s / sp.duration}
        # the registry rows ride along in the traced run: one traced,
        # checked pass, each row run once in this session as in the
        # registry battery (the JVM is already warm from the water maps)
        self.registry = RegistryRows(self.spark, self.seed, self.work, tracer=self.tracer)
        try:
            res = self.registry.op()
        except Exception as e:  # counted as a failed operation
            print(f"# registry rows raised {type(e).__name__}: {e}", file=sys.stderr)
            return {**out, "_attempted": 1, "_failed": 1}
        bad = checks.mismatches(res["out"], self.registry.reference())
        if bad:
            print(f"# registry rows: output check failed: {'; '.join(bad)}", file=sys.stderr)
        out["registry.pass_s"] = res["build_s"] + res["action_s"]
        return {**out, "_attempted": 1, "_failed": int(bool(bad))}

    def layers(self, log) -> dict:
        tr = self.tracer
        ops = tr.named("op")
        per_op = len(ops) or 1
        out = {}
        for name in ("plans.water_map.build", "plans.water_map.action"):
            out[f"{name}_s"] = _median([s.duration for s in tr.named(name)])
        for name in ("operators.tiling.select_hand_tiles", "operators.tiling.select_backscatter_tiles",
                     "operators.tiling.em_threshold", "operators.labeling.label_connected",
                     "core.labeling.label_components"):
            spans = tr.named(name)
            out[f"{name}_s"] = sum(s.duration for s in spans) / per_op
            out[f"{name}.calls"] = len(spans) / per_op
        out["core.labeling.label_components.px"] = sum(s.attrs["px"] for s in tr.named("core.labeling.label_components")) / per_op
        # how much of the build the wrapped spans and the driver gap explain
        builds = tr.named("plans.water_map.build")
        fracs = []
        for b in builds:
            wrapped = [s for s in tr.spans if s.start >= b.start and s.end <= b.end and s.id != b.id]
            gap = log.summarize(b.start, b.end)["driver_gap_s"]
            fracs.append((sum(tr.self_time(s) for s in wrapped) + gap) / b.duration)
        out["plans.water_map.accounted_frac"] = _median(fracs)
        if getattr(self, "registry", None):
            out.update({f"registry.{k}": v for k, v in self.registry.layers(log).items()})
        return out


class RegistryRows(Workload):
    """Registry rows over seeded parquet tables read through ``core.io``:
    the ``pip_refine`` geo family, the HAND fixpoint, a shuffle-heavy text
    self-join and the headline's small-input twin. One operation is one
    pass over the rows. Measured in the water map's traced run only: one
    pass costs about as much as a whole untraced run may."""

    name, items = "registry_rows", "rows"
    rows = ("geofence_events", "zonal_stats", "pip_page_counts", "hand_grid",
            "setsim_join", "tile_assignments")
    n_events, n_docs = 10_000, 500

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from asf_tools_spark import queries as registry

        self.n_items = len(self.rows)
        self.sf_dir = str(datagen.write_tables(self.work / "data", self.seed, self.n_events, self.n_docs))
        all_rows = registry.queries()
        self.fns = {n: all_rows[n] for n in self.rows}
        self.schemas = {}

    def op(self) -> dict:
        build = action = 0.0
        out = {}
        with self.span("registry.pass"):
            for name, fn in self.fns.items():
                t0 = time.perf_counter()
                with self.span(f"{name}.build", module=fn.__module__.rsplit(".", 1)[-1]):
                    df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with self.span(f"{name}.action"):
                    got = observed_noop(df, *row_digest(df))
                t2 = time.perf_counter()
                self.schemas[name] = df.schema
                out[name] = [int(got["rows"]), int(got["digest"])]
                build += t1 - t0
                action += t2 - t1
        return {"build_s": build, "action_s": action, "out": out}

    def reference(self) -> dict:
        """Row count and digest of each row's DuckDB oracle over the same
        tables, cast to the schema the Spark row produced."""
        import duckdb

        from asf_tools_spark import queries as registry

        def compute() -> dict:
            with _no_fixtures_outside(self.work):
                oracle = registry.oracle_sql()
            con = duckdb.connect()
            try:
                for t in ("events", "documents"):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
                ref = {}
                for name in self.rows:
                    schema = self.schemas[name]
                    tbl = con.execute(oracle[name]).arrow()
                    df = self.spark.createDataFrame(tbl).select(
                        *[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in schema.fields]
                    )
                    r = df.agg(*row_digest(df)).collect()[0]
                    ref[name] = [int(r["rows"]), int(r["digest"])]
                return ref
            finally:
                con.close()

        name = f"registry_rows_e{self.n_events}_d{self.n_docs}_seed{self.seed}.json"
        return checks.cached(self.work / "ref" / name, compute)

    def layers(self, log) -> dict:
        tr = self.tracer
        out, families = {}, {}
        for name in self.rows:
            builds, actions = tr.named(f"{name}.build"), tr.named(f"{name}.action")
            b = _median([s.duration for s in builds])
            a = _median([s.duration for s in actions])
            windows = [log.summarize(x.start, y.end) for x, y in zip(builds, actions)]
            out[f"{name}.build_s"] = b
            out[f"{name}.action_s"] = a
            for c in ("jobs", "shuffle_write_bytes", "join_rows"):
                out[f"{name}.{c}"] = _median([w[c] for w in windows])
            fam = builds[0].attrs["module"] if builds else "queries"
            families[fam] = families.get(fam, 0.0) + b + a
        for fam in ("queries_geo", "queries_grid", "queries_text", "queries"):
            out[f"{fam}.s"] = families.get(fam, 0.0)
        return out


@contextmanager
def _no_fixtures_outside(work: Path):
    """Building the registry's oracle dict also builds the oracles of rows
    this benchmark does not run, and three of those read a fixed parquet
    file outside the repository when it exists. Point them at an absent
    file, their rows-only fallback, while the dict is built."""
    from unittest import mock

    from asf_tools_spark import queries_geo, queries_text

    absent = str(work / "absent.parquet")
    with mock.patch.object(queries_geo, "_HILBERT_ORACLE_SF", absent), \
            mock.patch.object(queries_text, "_SIMHASH64_ORACLE_SF", absent), \
            mock.patch.object(queries_text, "_EMB_ORACLE_SF", absent):
        yield


WORKLOADS = {w.name: w for w in (TileAssign, WaterMap)}
