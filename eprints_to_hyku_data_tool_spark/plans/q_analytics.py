"""Product-analytics macro-operators over the events stream: funnel
analysis and cohort retention (assignment mandate breadth beyond
SURVEY.md §2 — the aggregation/window machinery applied to the two
canonical event-analytics questions).

Both are oracle-paired; timestamps compare exactly (integer microsecond
instants on both engines)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .registry import register

FUNNEL_STEP_HOURS = 24


# --------------------------------------------------------------------------
# X26 — ordered funnel (view -> click -> purchase, each within 24h)
# --------------------------------------------------------------------------
@register(
    "z12795_funnel",
    oracle=f"""
    WITH v AS (SELECT user_id,
                      MIN(CASE WHEN event_type='view' THEN ts END) AS t_view
               FROM events GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type='click' AND e.ts > v.t_view
            AND e.ts <= v.t_view + INTERVAL {FUNNEL_STEP_HOURS} HOUR
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type='purchase' AND e.ts > c.t_click
            AND e.ts <= c.t_click + INTERVAL {FUNNEL_STEP_HOURS} HOUR
          GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS completed
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    doc="Ordered three-step funnel (first view -> first qualifying click "
    "within 24h -> first qualifying purchase within 24h) per user. The "
    "oracle uses the textbook three-CTE join chain (three shuffles); "
    "the Spark plan instead STACKS conditional window minima over the "
    "same user_id partition — each step's predicate references the "
    "previous step's column, Catalyst reuses one exchange for all three "
    "Window operators plus the final per-user aggregate: a single "
    "shuffle end-to-end at any scale (plan-asserted in "
    "tests/test_plans.py). Fixture: 150 users -> 60 clicked -> 25 "
    "completed (funnel/sessionization mandate).",
)
def z12795_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    W = Window.partitionBy("user_id")
    step = F.expr(f"INTERVAL {FUNNEL_STEP_HOURS} HOURS")
    e1 = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(W),
    )
    e2 = e1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t_view"))
                & (F.col("ts") <= F.col("t_view") + step),
                F.col("ts"),
            )
        ).over(W),
    )
    e3 = e2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click"))
                & (F.col("ts") <= F.col("t_click") + step),
                F.col("ts"),
            )
        ).over(W),
    )
    return e3.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
        F.max(
            F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
        )
        .cast("int")
        .alias("completed"),
    )


# --------------------------------------------------------------------------
# X27 — cohort retention (first-purchase-day cohorts x day offset)
# --------------------------------------------------------------------------
@register(
    "z12796_cohort_retention",
    oracle="""
    WITH f AS (SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS cohort_day
               FROM events WHERE event_type='purchase' GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS activity_day
          FROM events WHERE event_type='purchase')
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.activity_day) AS BIGINT)
             AS day_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM f JOIN a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-purchase day, "
    "counted on every subsequent day they purchase again. Shuffles: "
    "per-user first-purchase agg, distinct (user, day) activity, one "
    "user-keyed join, final (cohort, offset) count-distinct — all keyed "
    "on bounded-cardinality columns; the matrix is O(days^2) regardless "
    "of event volume (retention mandate).",
)
def z12796_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    f = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("cohort_day")
    )
    a = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("activity_day")
    ).distinct()
    return (
        f.join(a, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("activity_day", "cohort_day")
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# X28 — sessionization: assign session IDs to EVENTS (gap rule)
# --------------------------------------------------------------------------
@register(
    "z117228_sessionize",
    oracle="""
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id, user_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT)
             AS session_id
    FROM g
    """,
    doc="Per-event session assignment (30-min gap rule): lag + cumulative "
    "sum over the same user_id window — the event-level complement of "
    "q56's session_window AGGREGATES (you get the session id ON each "
    "row, which session_window cannot give). Both windows share one "
    "user_id exchange; ties broken by event_id for determinism "
    "(sessionization mandate).",
)
def z117228_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Full-microsecond gap (ADVICE r3): cast('long') truncates to whole
    # seconds, so a true gap in (1799s, 1801s] could classify differently
    # from the oracle's full-precision INTERVAL comparison.
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_id"),
    )


# --------------------------------------------------------------------------
# X29 — histogram / binning (fixed-width buckets, identical arithmetic)
# --------------------------------------------------------------------------
@register(
    "z12797_fixed_width_histogram",
    oracle="""
    SELECT CAST(LEAST(GREATEST(CAST(FLOOR(value / 25) AS INT), 0), 19) AS INT)
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bucket_sum
    FROM events GROUP BY 1
    """,
    doc="Value histogram: 20 fixed-width buckets over [0, 500), clamped "
    "tails. DuckDB has no width_bucket, so BOTH engines compute the "
    "identical floor(value/25) IEEE expression — no boundary "
    "divergence by construction. One partial-agg shuffle on a 20-value "
    "key; decimal-exact per-bucket sums as in q54.",
)
def z12797_fixed_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 25).cast("int"), F.lit(0)),
        F.lit(19),
    ).cast("int")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("bucket_sum"),
    )


# --------------------------------------------------------------------------
# X30 — training-mix reweighting (per-stratum sampling weights)
# --------------------------------------------------------------------------
@register(
    "z12798_mix_reweight",
    oracle="""
    WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
               FROM documents GROUP BY lang, source),
    t AS (SELECT SUM(n) AS total, COUNT(*) AS n_groups FROM c)
    SELECT c.lang, c.source, c.n,
           CAST(c.n AS DOUBLE) / t.total AS current_share,
           1.0 / t.n_groups AS target_share,
           (CAST(t.total AS DOUBLE) / t.n_groups) / c.n AS weight
    FROM c, t
    """,
    doc="Per-(lang, source) resampling weights to hit a uniform target "
    "mix — the knob an LLM data pipeline turns to rebalance corpus "
    "strata. The totals side is a ONE-ROW aggregate cross-joined back "
    "(broadcast, same whitelisted shape as x15); share/weight are "
    "fixed-order IEEE division chains mirrored exactly. Output is "
    "O(strata), independent of corpus size (data-mixing mandate).",
)
def z12798_mix_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_groups")
    )
    return c.crossJoin(F.broadcast(t)).select(
        "lang",
        "source",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("current_share"),
        (F.lit(1.0) / F.col("n_groups")).alias("target_share"),
        (
            (F.col("total").cast("double") / F.col("n_groups")) / F.col("n")
        ).alias("weight"),
    )


# --------------------------------------------------------------------------
# Y45 — PageRank over the part co-purchase graph (iterative)
# --------------------------------------------------------------------------
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both directions of the SHARED memoized undirected edge set
    # (functions/copurchase.py) — the graph family (PageRank, BFS,
    # triangles, clustering, modularity, power-law) reads one
    # materialization instead of re-running the lineitem self-join
    # + distinct per query.
    from ..functions.copurchase import directed_edges

    return directed_edges(spark, sf_dir)


def pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node PageRank (damping 0.85, 10 fixed iterations) over the
    part co-purchase graph: parts appearing in the same order are
    linked both ways (lineitem self-joined on l_orderkey, distinct
    directed pairs). The canonical iterative-DataFrame algorithm: two
    shuffles per round (ranks->edges join keyed src, contribution
    partial-agg keyed dst), each round localCheckpoint-ed so the plan
    stays flat instead of doubling (functions/graph.py). Per-order
    line counts bound the self-join fan-out, so edge count is
    O(orders * lines_per_order^2) at any scale. The rank VALUES are an
    iterative float fixpoint (not SQL-oracle-expressible);
    tests/test_graph.py checks them against an independent numpy power
    iteration on the identical edge set. The registered q117588_pagerank
    wraps this in a driver-checkable structure + mass verdict."""
    from ..functions.graph import pagerank

    edges = _copurchase_edges(spark, sf_dir)
    ranks = pagerank(edges, damping=0.85, n_iter=10)
    return ranks.select("node", F.round("rank", 9).alias("rank"))


@register(
    "q117588_pagerank",
    oracle="""
    WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
               FROM lineitem a JOIN lineitem b
                 ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey <> b.l_partkey),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e),
    v AS (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes
          FROM (SELECT src AS node FROM e
                UNION ALL SELECT dst FROM e))
    SELECT v.n_nodes, m.n_edges, CAST(10 AS INT) AS n_iter,
           TRUE AS mass_ok
    FROM v CROSS JOIN m
    """,
    doc="Driver-checkable verdict over the PageRank path (the q85/q86 "
    "pattern, closing the repo's last rows-only driver row): the graph "
    "STRUCTURE the iteration ran on (node and directed-edge counts) is "
    "recomputed relationally by the oracle, and rank-mass conservation "
    "(|sum(rank) - 1| < 1e-6 after 10 damped rounds with dangling "
    "redistribution — a property any correct PageRank must satisfy, "
    "and a broken join/agg in the loop would break) is emitted as a "
    "boolean verdict. Rank values themselves are a float fixpoint and "
    "never enter the hashed output; they are verified against a numpy "
    "power iteration in tests/test_graph.py. Plan: the pagerank_ranks "
    "pipeline plus one count-agg per side of the tiny one-row-x-one-"
    "row join.",
)
def q117588_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _copurchase_edges is a cheap projection of the session-memoized
    # edge checkpoint (functions/copurchase.py) — no per-query
    # materialization needed; pagerank() checkpoints its own input.
    edges = _copurchase_edges(spark, sf_dir)
    from ..functions.graph import pagerank

    ranks = pagerank(edges, damping=0.85, n_iter=10)
    stats = ranks.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("rank").alias("mass"),
    )
    ecnt = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return stats.crossJoin(F.broadcast(ecnt)).select(
        "n_nodes",
        "n_edges",
        F.lit(10).cast("int").alias("n_iter"),
        (F.abs(F.col("mass") - 1.0) < 1e-6).alias("mass_ok"),
    )


# --------------------------------------------------------------------------
# Y44 — per-user z-score anomaly flags (exact-moment discipline)
# --------------------------------------------------------------------------
@register(
    "z119187_anomaly_zscore",
    oracle="""
    WITH s AS (SELECT user_id,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sv,
                      CAST(SUM(CAST(value AS DECIMAL(18,6))
                               * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                        AS svv
               FROM events GROUP BY user_id),
    m AS (SELECT user_id, n, sv / n AS mean,
                 sqrt((svv - sv * sv / n) / (n - 1)) AS sd
          FROM s WHERE n >= 2)
    SELECT e.event_id, e.user_id, e.value,
           round((e.value - m.mean) / m.sd, 4) AS z,
           CAST(CASE WHEN abs((e.value - m.mean) / m.sd) > 2
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM events e JOIN m ON e.user_id = m.user_id
    WHERE m.sd > 0
    """,
    doc="Per-user z-score anomaly detection over event values: events "
    "more than 2 sigma from their user's mean are flagged — the "
    "standard metric-monitoring primitive. Unlike q28 (which rounds "
    "Spark's single-pass moment aggregates because their low bits are "
    "partition-order dependent), the moments here are derived from "
    "EXACT decimal sums (sum(v), sum(v*v) as DECIMAL -> identical "
    "doubles on any engine/partitioning), so mean, sd, every z value, "
    "and the >2-sigma decision are all bit-deterministic — no rounding "
    "needed for correctness, 4dp only for display. One partial-agg "
    "shuffle for the per-user moments; the join-back onto the event "
    "stream carries NO mandatory broadcast hint (the stats table scales "
    "with the user population — AQE broadcasts it while it fits, "
    "sort-merges past the threshold); degenerate users (n<2 or zero "
    "variance) are excluded on both sides.",
)
def z119187_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    s = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).cast("double").alias("sv"),
        F.sum(dec * dec).cast("double").alias("svv"),
    )
    m = (
        s.filter(F.col("n") >= 2)
        .select(
            "user_id",
            (F.col("sv") / F.col("n")).alias("mean"),
            F.sqrt(
                (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sd"),
        )
        .filter(F.col("sd") > 0)
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        # No mandatory broadcast: the per-user stats table scales with
        # the user population (events corpus), so a forced build side
        # OOMs at the 100 TB mandate — AQE broadcasts it while it fits.
        ev.join(m, "user_id")
        .select(
            "event_id",
            "user_id",
            "value",
            F.round(z, 4).alias("z"),
            F.when(F.abs(z) > 2, 1).otherwise(0).cast("int").alias(
                "is_anomaly"
            ),
        )
    )


# --------------------------------------------------------------------------
# Y52 — triangle counting (degree-ordered orientation, join-based)
# --------------------------------------------------------------------------
_TRI_EDGES_SQL = """
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey)
"""


@register(
    "q117566_triangle_count",
    oracle=_TRI_EDGES_SQL
    + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(COUNT(DISTINCT t.u) AS BIGINT) AS n_apex_nodes
    FROM (SELECT e1.u, e1.v AS b, e2.v AS c
          FROM pairs e1 JOIN pairs e2
            ON e1.u = e2.u AND e1.v < e2.v) t
    JOIN pairs e3 ON e3.u = t.b AND e3.v = t.c
    """,
    doc="Triangle counting over the part co-purchase graph (y45's edge "
    "set, undirected u<v). Spark side uses DEGREE-ORDERED orientation "
    "— every edge points from its lower-(degree, id) endpoint to the "
    "higher one — so each wedge join fans out from the LOW-degree "
    "vertex: the per-key join width is bounded by sqrt-ish effective "
    "degree and the whole enumeration is O(m^1.5) work instead of "
    "O(sum deg^2) under skew (the standard compact-forward scheme). "
    "Triangle count is orientation-invariant, so the oracle uses the "
    "simpler id-ordering — equal result, and the test proves the "
    "orientation trick changes the plan, not the answer. The edge set "
    "and the oriented edge list come from the SHARED memoized "
    "materializations in functions/copurchase.py (one localCheckpoint "
    "per session serves the whole graph family — without it Catalyst "
    "re-derives the self-join+distinct subtree per reference; "
    "measured: 26 exchanges -> 5). Remaining shuffles: wedge join and "
    "closing join (SURVEY §2.13 graph family).",
)
def q117566_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.copurchase import triangle_node_stats

    # Shared memoized materializations (functions/copurchase.py): edge
    # set, degree-ordered orientation, AND the per-node triangle stats
    # are each built once per session for the whole graph family (the
    # wedge join is the family's most expensive step; without the
    # shared checkpoints Catalyst re-derives the self-join+distinct
    # subtree per reference — measured: 26 exchanges -> 5). The memo is
    # O(nodes): every triangle has exactly one min-id (apex) corner, so
    # the global count is sum(n_apex) and the apex cardinality is the
    # count of nodes with n_apex > 0 — the exploded O(#triangles) rows
    # never materialize.
    stats = triangle_node_stats(spark, sf_dir)
    # coalesce: a triangle-free graph yields an EMPTY stats table, and
    # sum() over zero rows is NULL where the old count() form gave 0.
    return stats.agg(
        F.coalesce(F.sum("n_apex"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
        F.coalesce(
            F.sum(F.when(F.col("n_apex") > 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_apex_nodes"),
    )


# --------------------------------------------------------------------------
# Y55 — per-group OLS regression (exact-decimal moments, y44 discipline)
# --------------------------------------------------------------------------
@register(
    "z117198_group_ols",
    oracle="""
    WITH p AS (
        SELECT user_id,
               CAST(datediff('day', TIMESTAMP '1997-01-01',
                             CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
               CAST(value AS DECIMAL(18,6)) AS y
        FROM events),
    s AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy
        FROM p GROUP BY user_id)
    SELECT user_id, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy)
                        / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM s
    WHERE n >= 2 AND n * sxx - sx * sx <> 0
    """,
    doc="Per-user ordinary-least-squares trend (value vs day index): "
    "slope and intercept from the closed form, with every moment "
    "accumulated EXACTLY — x as integer day offsets (bounded, so "
    "sums/squares are overflow-free BIGINTs), y and x*y in DECIMAL — "
    "then one double division at the end. That makes the result "
    "bit-deterministic under any partitioning and engine (y44's "
    "discipline; the builtin one-pass regr_slope/regr_intercept are "
    "the streaming-sketch alternative but their float accumulation "
    "order is partition-dependent). One map-side-combined shuffle "
    "(metric-trend mandate).",
)
def z117198_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1997-01-01").cast("date")
        )
        .cast("long")
        .alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    s = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        s.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0)
        )
        .select(
            "user_id",
            "n",
            F.round(slope, 6).alias("slope"),
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
            ).alias("intercept"),
        )
    )


# --------------------------------------------------------------------------
# Y57 — Z-order (Morton) clustering key + locality audit
# --------------------------------------------------------------------------
_Z_BITS = 16  # bits per dimension; z-value uses 2*_Z_BITS bits
_Z_COARSE = 22  # right-shift for the coarse cell id (top 10 bits)


def _morton_spark(x: str, y: str) -> str:
    """shiftleft/shiftright form (Spark SQL has no << operator)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"shiftleft((shiftright({x}, {i}) & 1), {2 * i})")
        terms.append(f"shiftleft((shiftright({y}, {i}) & 1), {2 * i + 1})")
    return " + ".join(terms)


def _morton_duck(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "z117231_zorder_layout",
    oracle=f"""
    WITH d AS (
        SELECT user_id & 65535 AS xd,
               CAST(datediff('day', TIMESTAMP '1997-01-01',
                             CAST(ts AS TIMESTAMP)) AS BIGINT) & 65535
                 AS yd
        FROM events),
    z AS (SELECT xd, yd, {_morton_duck('xd', 'yd')} AS zval FROM d)
    SELECT zval >> {_Z_COARSE} AS z_cell,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(xd) AS BIGINT) AS x_min,
           CAST(MAX(xd) AS BIGINT) AS x_max,
           CAST(MIN(yd) AS BIGINT) AS y_min,
           CAST(MAX(yd) AS BIGINT) AS y_max
    FROM z GROUP BY zval >> {_Z_COARSE}
    """,
    doc="Z-order (Morton) clustering key over (user, day): interleave "
    "the low 16 bits of each dimension so rows close in BOTH "
    "dimensions land in the same coarse z-cell — the layout key "
    "behind multi-dimensional file clustering (sort/bucket the write "
    "by z_cell and min/max footer stats prune 2-D range predicates, "
    "which a single-column sort cannot). Emits each cell's row count "
    "and per-dimension min/max envelope — the locality audit: the "
    "envelope area is ~2^{cs} of the full grid, proving the key "
    "actually clusters. Pure integer bit arithmetic (exact in any "
    "engine), one partial-agg shuffle on the cell id "
    "(SURVEY §4 layout row; X06's pruning demonstrated "
    "multi-dimensionally).".format(cs=_Z_COARSE),
)
def z117231_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.expr("user_id & 65535").alias("xd"),
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1997-01-01') AS BIGINT)"
            " & 65535"
        ).alias("yd"),
    )
    z = d.withColumn("zval", F.expr(_morton_spark("xd", "yd")))
    return (
        z.groupBy(
            F.expr(f"shiftright(zval, {_Z_COARSE})").alias("z_cell")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("xd").cast("long").alias("x_min"),
            F.max("xd").cast("long").alias("x_max"),
            F.min("yd").cast("long").alias("y_min"),
            F.max("yd").cast("long").alias("y_max"),
        )
    )


# --------------------------------------------------------------------------
# Y58 — equi-depth histogram (quantile bucketing via ntile)
# --------------------------------------------------------------------------
_EQD_BUCKETS = 16


@register(
    "z13117232_equidepth_histogram",
    oracle=f"""
    WITH b AS (
        SELECT o_totalprice,
               ntile({_EQD_BUCKETS}) OVER (ORDER BY o_totalprice,
                                           o_orderkey) AS bucket
        FROM orders)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(MIN(o_totalprice), 2) AS lo,
           round(MAX(o_totalprice), 2) AS hi
    FROM b GROUP BY bucket
    """,
    doc="Equi-depth (equal-frequency) histogram of order totals: "
    "ntile({B}) assigns equal-count buckets, then per-bucket "
    "count/min/max gives the variable-width boundaries — the "
    "histogram optimizers actually keep (x29 is the fixed-width "
    "complement), and the boundary table IS a {B}-quantile sketch. "
    "The ntile window is ordered with an o_orderkey tiebreak so "
    "bucket assignment is total and engine-identical. Caveat, stated "
    "honestly: a single unpartitioned ntile funnels the table "
    "through one task — fine for the fixture, but at 100 TB this "
    "exact histogram is built from approx_percentile boundaries "
    "(y49) or the q37 two-phase global-position scheme, which "
    "computes the same bucket id distributedly "
    "(functions/ordering.py).".format(B=_EQD_BUCKETS),
)
def z13117232_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ordering import with_global_position

    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    # Distributed ntile: global position via the two-phase q37 scheme
    # (per-partition counts -> offsets, zero single-task windows), then
    # bucket = exactly ntile's split: first (n % B) buckets get
    # ceil(n/B) rows, the rest floor(n/B).
    pos = with_global_position(
        orders.select("o_totalprice", "o_orderkey"),
        order_exprs=[F.col("o_totalprice"), F.col("o_orderkey")],
        position_col="global_pos",
    )
    big = n % _EQD_BUCKETS
    size_hi = n // _EQD_BUCKETS + 1
    size_lo = n // _EQD_BUCKETS
    cutoff = big * size_hi
    bucket = F.when(
        F.col("global_pos") <= cutoff,
        F.ceil(F.col("global_pos") / size_hi),
    ).otherwise(
        big + F.ceil((F.col("global_pos") - cutoff) / size_lo)
    )
    return (
        pos.select(
            bucket.cast("int").alias("bucket"), F.col("o_totalprice")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# Y59 — chi-square independence test (lang x source contingency)
# --------------------------------------------------------------------------
@register(
    "z117233_chisquare",
    oracle="""
    WITH o AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
               FROM documents GROUP BY lang, source),
    r AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_n FROM o GROUP BY lang),
    c AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS col_n FROM o
          GROUP BY source),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o)
    SELECT o.lang, o.source, o.obs,
           round(CAST(r.row_n AS DOUBLE) * c.col_n / t.n, 4) AS expected,
           round(pow(o.obs - CAST(r.row_n AS DOUBLE) * c.col_n / t.n, 2)
                 / (CAST(r.row_n AS DOUBLE) * c.col_n / t.n), 4)
             AS chi2_term
    FROM o, r, c, t
    WHERE o.lang = r.lang AND o.source = c.source
    """,
    doc="Chi-square independence audit of the lang x source contingency "
    "table: observed counts (exact BIGINTs), expected = row*col/total, "
    "and each cell's (o-e)^2/e term, 4dp-rounded — the standard "
    "is-my-corpus-mix-confounded check before training-mix decisions "
    "(x30/q77 operate on exactly these strata). All marginals are "
    "tiny aggregates of one groupBy output; the three joins broadcast "
    "O(langs + sources) rows. The global chi2 statistic is "
    "SUM(chi2_term) — left per-cell so the hashed result is "
    "summation-order independent (mix-audit mandate).",
)
def z117233_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    r = o.groupBy("lang").agg(F.sum("obs").alias("row_n"))
    c = o.groupBy("source").agg(F.sum("obs").alias("col_n"))
    t = o.agg(F.sum("obs").alias("n"))
    j = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(t))
    )
    expected = (
        F.col("row_n").cast("double") * F.col("col_n") / F.col("n")
    )
    return j.select(
        "lang",
        "source",
        "obs",
        F.round(expected, 4).alias("expected"),
        F.round(
            F.pow(F.col("obs") - expected, 2) / expected, 4
        ).alias("chi2_term"),
    )


# --------------------------------------------------------------------------
# Y64 — rolling 28-day active users (DAU/MAU machinery)
# --------------------------------------------------------------------------
_RAU_DAYS = 28


@register(
    "z117238_rolling_active_users",
    oracle=f"""
    WITH a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                        AS day
               FROM events),
    days AS (SELECT DISTINCT day FROM a)
    SELECT d.day,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_{_RAU_DAYS}d
    FROM days d JOIN a
      ON a.day <= d.day
     AND a.day > d.day - INTERVAL {_RAU_DAYS} DAY
    GROUP BY d.day
    """,
    doc="Rolling {N}-day active users per day (the MAU curve; DAU is the "
    "1-day special case): SQL windows cannot COUNT DISTINCT over a "
    "RANGE frame, so the rolling distinct is built relationally — "
    "dedupe to (user, day) pairs first (the only corpus-sized "
    "shuffle), EXPLODE each pair into the {N} future grid days it "
    "keeps a user active on (map-side sequence(), no join), keep only "
    "days that exist in the data via a broadcast semi-join on the "
    "tiny observed-day grid, and count distinct per day. All joins "
    "equi; work is O(active_pairs x {N}), independent of raw event "
    "volume (engagement-metrics mandate).".format(N=_RAU_DAYS),
)
def z117238_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    days = a.select("day").distinct()
    covered = a.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), _RAU_DAYS - 1),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )  # no pre-distinct: countDistinct's two-phase agg dedups map-side
    return (
        covered.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias(f"active_{_RAU_DAYS}d"))
    )


# --------------------------------------------------------------------------
# Y65 — event-type transition matrix (first-order Markov)
# --------------------------------------------------------------------------
@register(
    "z117239_transition_matrix",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS p
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lag pairs each event with its predecessor (one "
    "user-keyed exchange, event_id tiebreak), transitions aggregate "
    "to a types^2-sized matrix, and a second window over the TINY "
    "matrix row-normalizes to probabilities — the behavioral-model "
    "primitive behind next-action prediction and anomaly scoring. "
    "p = exact-count ratio (one double division per cell), so it "
    "hashes cleanly (sequence-analytics mandate).",
)
def z117239_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    m = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_row = Window.partitionBy("prev_type")
    return m.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_row)).alias("p"),
    )


# --------------------------------------------------------------------------
# Y66 — session rollup (duration / size stats over x28's session ids)
# --------------------------------------------------------------------------
@register(
    "z117240_session_stats",
    oracle="""
    WITH g AS (
      SELECT event_id, user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
      FROM g)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
             AS duration_us,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_id
    """,
    doc="Per-session rollup composed ON TOP of the x28 sessionizer (same "
    "gap rule, same single user-keyed exchange — the session-id "
    "window, the groupBy, and the lag all share one partitioning, so "
    "the whole two-operator composition is still ONE shuffle): events "
    "per session, exact microsecond duration, decimal-exact value sum "
    "— the table session_window (q56) cannot give because it only "
    "emits aggregates keyed by window, not by session ordinal "
    "(sessionization mandate, rollup half).",
)
def z117240_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .q_core import dec_sum

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-exact gap, matching x28 (ADVICE r3).
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        F.lag("ts").over(w).isNull() | (gap > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    s = ev.select(
        "user_id",
        "ts",
        "value",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_id"),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
        ).alias("duration_us"),
        dec_sum(F.col("value"), "total_value", "decimal(18,6)"),
    )
