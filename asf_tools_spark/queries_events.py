"""Event-stream + webgraph registry queries: semi-structured JSON
extraction, Markov transitions, cohort retention, and label-propagation
communities.

The web-analytics face of the engine: `events` is the clickstream-shaped
table (ts, user_id, event_type, JSON props) and the 97-node expander
(doc_id residues, the same deterministic graph bfs_hops/shortest_paths
use) stands in for the domain link graph. Every query has a full-SQL
DuckDB oracle; the only cross-engine hazards are typed JSON extraction
(from_json vs json_extract), week truncation (both engines are
ISO/Monday), and HUGEINT sums (CAST AS BIGINT per the repo parity rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    from .core.io import register_views

    register_views(spark, sf_dir, *names)


LPA_ITERS = 4


def q_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON payload extraction + rollup: parse the `props` JSON
    column with ONE schema-checked from_json (the production path — a
    typed struct parsed once, not get_json_object re-parsing per
    access), then aggregate the extracted field per event_type. At
    100 TB this is a pure map stage + one partial/final hash aggregate;
    the JSON parse is JVM-side Jackson inside codegen, no Python.
    Oracle: DuckDB json_extract with the same BIGINT cast."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    k = F.from_json(F.col("props"), "k BIGINT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user navigation: per-user
    event sequences (ordered by ts, event_id tiebreak), consecutive
    (src_type -> dst_type) pairs via ONE lead window (the shuffle is
    keyed by user_id — bounded-cardinality event types never hot-spot),
    then P(dst|src) from two hash aggregates. The probability divides
    exact integer counts (< 2^53) so the double is IEEE-identical in
    both engines."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src_type"),
        F.lead("event_type").over(w).alias("dst_type"),
    ).where(F.col("dst_type").isNotNull())
    cnt = pairs.groupBy("src_type", "dst_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("src_type")
    return cnt.select(
        "src_type", "dst_type", "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"), 6
        ).alias("prob"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: cohort = ISO week of a user's
    first event, one row per (cohort_week, week_offset) counting users
    active that many weeks later. Two shuffles total: distinct
    (user, week) pairs, then the user-keyed min/join rides the SAME
    hash partitioning (no extra exchange), then one small aggregate.
    Offsets are exact multiples of 7 days so the int division is
    lossless in both engines; both engines truncate weeks to ISO
    Monday."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    act = ev.select("user_id", wk.alias("act_week")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("act_week").alias("cohort_week"))
    joined = act.join(cohort, "user_id")
    return (
        joined.select(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_gap_fill_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + LOCF: densify per-user daily activity onto
    the full observed calendar (missing days -> 0 events) and carry the
    last observed daily mean value forward (classic warehouse
    backfill / downstream-feature prep). Calendar = explode(sequence)
    off the 1-row global bounds aggregate — no driver collect; the
    user x calendar grid is a broadcast NL of the tiny calendar frame.
    Leading days before a user's first event have no LOCF source ->
    sentinel 0.0 (NULL would break mixed-type row sorts downstream).
    Oracle replays the grid with a bounded generate_series + the same
    IGNORE NULLS running window."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = (
        ev.select(F.col("user_id"), day.alias("day"), "value")
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("day_value"),
        )
    )
    bounds = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    users = ev.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(cal))
    filled = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "user_id", "day",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        F.coalesce(
            F.last("day_value", ignorenulls=True).over(w), F.lit(0.0)
        ).alias("value_locf"),
    )


def q_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier screen — Iglewicz-Hoaglin modified
    z-scores (|0.6745 * (x - median) / MAD| > 3.5) via
    operators.anomaly.robust_outliers: the 50%-breakdown telemetry screen
    whose MAD core is the same statistic as the reference's NMAD flood
    estimator (ref flood_map.py; core/stats.py). Exact medians here (the
    oracle-parity path); the operator's ``exact=False`` flips both passes
    to mergeable percentile_approx sketches for the 10^12-row tier.
    Oracle: identical two-pass median/MAD algebra in DuckDB."""
    from .operators.anomaly import robust_outliers

    _register(spark, sf_dir, "events")
    out = robust_outliers(
        spark.table("events"), key="event_type", value_col="value", cutoff=3.5
    )
    return out.select(
        "event_id", "event_type", "value",
        F.round("robust_z", 6).alias("robust_z"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-user activity matrix — ``groupBy().pivot()`` with the
    EXPLICIT value list (no extra distinct-values job; on a cluster the
    pivot is then a single partial/final hash aggregate, one shuffle,
    with |values| counters per group — never a per-type scan). Unknown
    types fall out of the explicit list by design. Oracle: per-type
    FILTER aggregates."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )
    total = sum((F.col(t) for t in _EVENT_TYPES[1:]), F.col(_EVENT_TYPES[0]))
    return wide.select(
        "user_id", *[F.col(t).cast("long").alias(t) for t in _EVENT_TYPES],
        total.cast("long").alias("total"),
    )


def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week activity growth per event_type: weekly counts (one
    hash aggregate) + a lag window over the per-type weekly series (the
    window partitions carry ~52 rows per type-year — never data-sized).
    Growth = n/prev - 1, rounded 6; the first week of each type has no
    prior and reports NULL in both engines."""
    _register(spark, sf_dir, "events")
    ev = spark.table("events")
    weekly = (
        ev.groupBy(
            "event_type",
            F.to_date(F.date_trunc("week", "ts")).alias("week"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type", "week", F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / prev.cast("double") - 1.0, 6).alias("wow_growth"),
    )


KCORE_K = 3
_KCORE_ROUNDS = 6  # sim converges by round 4 on this fixture; extra rounds
                   # are idempotent (pinned by test_kcore_extra_rounds_idempotent)


def _kcore_edges(spark: SparkSession) -> DataFrame:
    """Deterministic 112-node fixture graph with real k-core structure:
    a dense 12-node core (two INDEPENDENT doc_id residues — not a
    functional map, so it's clique-like), a 100-node degree-2 periphery
    cycle, and sparse core->periphery bridges. At k=3 the periphery peels
    over 4 cascading rounds and the core survives."""
    d = spark.table("documents").select("doc_id")
    e0 = (
        d.selectExpr("doc_id % 12 AS u", "(doc_id div 12) % 12 AS v")
        .unionByName(d.selectExpr("12 + doc_id % 100 AS u",
                                  "12 + (doc_id + 1) % 100 AS v"))
        .unionByName(d.where("doc_id % 7 = 0")
                     .selectExpr("doc_id % 12 AS u", "12 + doc_id % 100 AS v"))
    )
    return (
        e0.selectExpr("u AS src", "v AS dst")
        .unionByName(e0.selectExpr("v AS src", "u AS dst"))
        .where("src <> dst")
        .distinct()
    )


def q_kcore_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (Seidman 1983) at k=3 — dense-subgraph
    extraction on the link graph (template/spam farms survive the peel,
    tendrils drop; the degeneracy sibling of lpa/triangles). Operator:
    graph.k_core — per peel round one live-set semi-join + one degree
    aggregate, live set monotonically shrinking, driver-local small-graph
    guard with the distributed path pinned equal by test. Oracle: the
    identical peel unrolled as chained CTE rounds (a fixpoint can't ride
    a recursive CTE with aggregation; rounds > convergence depth are
    idempotent, pinned by test)."""
    from .operators.graph import k_core

    _register(spark, sf_dir, "documents")
    return k_core(_kcore_edges(spark), KCORE_K)


def _kcore_sql(k: int, rounds: int) -> str:
    parts = ["""
        WITH e0 AS (
          SELECT doc_id % 12 AS u, (doc_id // 12) % 12 AS v FROM documents
          UNION ALL
          SELECT 12 + doc_id % 100, 12 + (doc_id + 1) % 100 FROM documents
          UNION ALL
          SELECT doc_id % 12, 12 + doc_id % 100 FROM documents
          WHERE doc_id % 7 = 0
        ),
        edges AS (
          SELECT DISTINCT u AS src, v AS dst FROM (
            SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
          ) s WHERE u <> v
        ),
        live0 AS (SELECT DISTINCT src AS node FROM edges)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
        live{i} AS (
          SELECT e.src AS node FROM edges e
          JOIN live{i - 1} a ON e.src = a.node
          JOIN live{i - 1} b ON e.dst = b.node
          GROUP BY e.src HAVING COUNT(*) >= {k}
        )""")
    parts.append(f"""
        SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
        FROM edges e
        JOIN live{rounds} a ON e.src = a.node
        JOIN live{rounds} b ON e.dst = b.node
        GROUP BY e.src""")
    return "".join(parts)


def q_moving_avg_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily per-type activity via a
    time-RANGE window frame (RANGE BETWEEN INTERVAL 6 DAYS PRECEDING) —
    the VALUE-based frame ROWS cannot replicate when days are missing: a
    gap shrinks the trailing window instead of silently reaching further
    back. Frame scan is per (type, day) — ~365 rows per type-year, never
    data-sized; the daily rollup is the only full-data aggregate. Oracle:
    the identical RANGE frame in DuckDB (INTERVAL dialect differs:
    '6 DAYS' vs '6 DAY')."""
    _register(spark, sf_dir, "events")
    return spark.sql("""
        WITH daily AS (
          SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
          FROM events GROUP BY event_type, date_trunc('day', ts)
        )
        SELECT event_type, CAST(day AS DATE) AS day, CAST(n AS BIGINT) AS n,
               ROUND(AVG(n) OVER (PARTITION BY event_type ORDER BY day
                     RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW),
                     6) AS avg_7d
        FROM daily
    """)


def _expander_edges(spark: SparkSession) -> DataFrame:
    """Symmetrized deterministic 97-node expander (doc_id residues; the
    undirected closure of the bfs_hops graph)."""
    docs = spark.table("documents")
    a = (F.col("doc_id") % 97).cast("long")
    nd = lambda e: F.concat(F.lit("n"), e.cast("string"))
    pairs = []
    for m, c in ((3, 1), (5, 2)):
        b = (m * a + c) % 97
        pairs.append(docs.select(nd(a).alias("src"), nd(b).alias("dst")))
        pairs.append(docs.select(nd(b).alias("src"), nd(a).alias("dst")))
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out.distinct()


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (Raghavan 2007, deterministic
    synchronous variant) over the symmetrized 97-node expander: 4
    simultaneous rounds of adopt-the-most-frequent-neighbor-label,
    ties -> smallest label. The oracle unrolls the identical rounds as
    chained CTEs (count -> per-node ROW_NUMBER argmax), an independent
    formulation of the same schedule-free update; a third pure-Python
    replay guards the operator in pytest (distributed path forced)."""
    from .operators.graph import label_propagation

    _register(spark, sf_dir, "documents")
    return label_propagation(_expander_edges(spark), n_iters=LPA_ITERS)


def _lpa_sql(iters: int) -> str:
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
        c{k} AS (
          SELECT e.dst AS node, l.label, COUNT(*) AS c
          FROM e JOIN l{k - 1} l ON l.node = e.src
          GROUP BY e.dst, l.label
        ),
        l{k} AS (
          SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM c{k}
          ) z WHERE rn = 1
        )""")
    return f"""
        WITH base AS (SELECT doc_id % 97 AS a FROM documents),
        e AS (
          SELECT DISTINCT src, dst FROM (
            SELECT 'n' || CAST(a AS VARCHAR) AS src,
                   'n' || CAST((3 * a + 1) % 97 AS VARCHAR) AS dst FROM base
            UNION ALL
            SELECT 'n' || CAST((3 * a + 1) % 97 AS VARCHAR),
                   'n' || CAST(a AS VARCHAR) FROM base
            UNION ALL
            SELECT 'n' || CAST(a AS VARCHAR),
                   'n' || CAST((5 * a + 2) % 97 AS VARCHAR) FROM base
            UNION ALL
            SELECT 'n' || CAST((5 * a + 2) % 97 AS VARCHAR),
                   'n' || CAST(a AS VARCHAR) FROM base
          ) u
        ),
        nodes AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        ),
        l0 AS (SELECT node, node AS label FROM nodes),
        {",".join(steps)}
        SELECT node, label FROM l{iters}
    """


def _oracle_sqls() -> dict[str, str]:
    sqls: dict[str, str] = {}
    sqls["json_extract_stats"] = """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               ROUND(AVG(k), 6) AS avg_k,
               MIN(k) AS min_k,
               MAX(k) AS max_k
        FROM (
          SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
          FROM events
        ) t
        GROUP BY event_type
    """
    sqls["transition_probs"] = """
        WITH pairs AS (
          SELECT event_type AS src_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dst_type
          FROM events
        ),
        cnt AS (
          SELECT src_type, dst_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM pairs WHERE dst_type IS NOT NULL
          GROUP BY src_type, dst_type
        )
        SELECT src_type, dst_type, n,
               ROUND(CAST(n AS DOUBLE)
                     / CAST(SUM(n) OVER (PARTITION BY src_type) AS DOUBLE),
                     6) AS prob
        FROM cnt
    """
    sqls["cohort_retention"] = """
        WITH act AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week
          FROM events
        ),
        coh AS (
          SELECT user_id, MIN(act_week) AS cohort_week FROM act GROUP BY user_id
        )
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, act_week) / 7 AS INT)
                 AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM act JOIN coh USING (user_id)
        GROUP BY cohort_week, week_offset
    """
    sqls["lpa_communities"] = _lpa_sql(LPA_ITERS)
    _types = ", ".join(f"'{t}'" for t in _EVENT_TYPES)
    _cols = ",\n               ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    sqls["event_pivot"] = f"""
        SELECT user_id,
               {_cols},
               CAST(COUNT(*) FILTER (WHERE event_type IN ({_types})) AS BIGINT)
                 AS total
        FROM events GROUP BY user_id
    """
    sqls["wow_growth"] = """
        WITH weekly AS (
          SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        )
        SELECT event_type, week, CAST(n AS BIGINT) AS n,
               ROUND(CAST(n AS DOUBLE)
                     / CAST(LAG(n) OVER (PARTITION BY event_type ORDER BY week)
                            AS DOUBLE) - 1.0, 6) AS wow_growth
        FROM weekly
    """
    sqls["kcore_nodes"] = _kcore_sql(KCORE_K, _KCORE_ROUNDS)
    sqls["moving_avg_7d"] = """
        WITH daily AS (
          SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
          FROM events GROUP BY event_type, date_trunc('day', ts)
        )
        SELECT event_type, CAST(day AS DATE) AS day, CAST(n AS BIGINT) AS n,
               ROUND(AVG(n) OVER (PARTITION BY event_type ORDER BY day
                     RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW),
                     6) AS avg_7d
        FROM daily
    """
    sqls["value_anomalies"] = """
        WITH med AS (
          SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY 1
        ),
        dev AS (
          SELECT e.event_id, e.event_type, e.value, m.med,
                 ABS(e.value - m.med) AS ad
          FROM events e JOIN med m USING (event_type)
        ),
        mad AS (
          SELECT event_type, MEDIAN(ad) AS mad FROM dev GROUP BY 1
        )
        SELECT d.event_id, d.event_type, d.value,
               ROUND(CAST(0.6745 AS DOUBLE) * (d.value - d.med) / mad.mad, 6)
                 AS robust_z
        FROM dev d JOIN mad USING (event_type)
        WHERE mad.mad > 0
          AND ABS(CAST(0.6745 AS DOUBLE) * (d.value - d.med) / mad.mad)
                > CAST(3.5 AS DOUBLE)
    """
    sqls["gap_fill_days"] = """
        WITH daily AS (
          SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 ROUND(AVG(value), 6) AS day_value
          FROM events GROUP BY 1, 2
        ),
        bounds AS (
          SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS lo,
                 CAST(MAX(date_trunc('day', ts)) AS DATE) AS hi
          FROM events
        ),
        cal AS (
          SELECT CAST(lo + (g.i * INTERVAL 1 DAY) AS DATE) AS day
          FROM bounds, (SELECT unnest(range(0, 10000)) AS i) g
          WHERE lo + (g.i * INTERVAL 1 DAY) <= hi
        ),
        users AS (SELECT DISTINCT user_id FROM events),
        grid AS (SELECT u.user_id, c.day FROM users u CROSS JOIN cal c)
        SELECT g.user_id, g.day,
               CAST(COALESCE(d.n_events, 0) AS BIGINT) AS n_events,
               COALESCE(
                 last_value(d.day_value IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 CAST(0 AS DOUBLE)) AS value_locf
        FROM grid g LEFT JOIN daily d
          ON d.user_id = g.user_id AND d.day = g.day
    """
    return sqls
