"""Join operators: SURVEY.md §2.3 Q08-Q18.

The reference repo has no code (SURVEY.md §0); this is the join surface an
EPrints->Hyku ETL needs — child<->parent joins, broadcast vocabulary lookups,
semi/anti referential-integrity checks, reconciliation outer joins — plus the
north-star temporal (as-of) and vector-similarity joins.

Scale posture per query:
- Q08/Q15: large<->large equi joins -> planner picks sort-merge; AQE handles
  skew. One shuffle per side on the join key; the residual range predicate in
  Q15 stays a post-join filter on the SMJ output, never a nested loop.
- Q09: dims (nation 25 rows, region 5 rows) are broadcast explicitly —
  zero shuffle of the fact side.
- Q10-Q13: outer/semi/anti equi joins — all shuffle-partitioned hash/SMJ;
  semi/anti never materialize the probe side's payload.
- Q14: deliberate small-dim cartesian (125 rows); the ONLY crossJoin in the
  engine besides Q18's fixture-scale exact similarity baseline.
- Q16: as-of implemented as union + running last_value window — ONE shuffle
  on user_id, no pairwise blowup (the naive range-join + row_number would be
  O(views x purchases) per user at 100 TB).
- Q18: exact cosine all-pairs is the fixture-scale correctness baseline; the
  100 TB path is the LSH-bucketed variant in q_north.py (same semantics,
  equi-join on bucket keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from .registry import register
from .q_core import dec_sum


# --------------------------------------------------------------------------
# Q08 — inner equi join (large <-> large, sort-merge)
# --------------------------------------------------------------------------
@register(
    "q908_inner_join",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS order_date,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderkey, o_custkey, order_date
    """,
    doc="Child->parent inner equi join (lineitem x orders); planner/AQE "
    "chooses sort-merge at scale (SURVEY §2.3 Q08).",
)
def q908_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(8,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --------------------------------------------------------------------------
# Q09 — broadcast hash join (vocabulary lookup chain)
# --------------------------------------------------------------------------
@register(
    "q909_broadcast_join",
    oracle="""
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="Two chained broadcast hash joins onto tiny dims (nation 25 rows, "
    "region 5): the fact side never shuffles for the join (SURVEY §2.3 Q09).",
)
def q909_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum("c_acctbal", "total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Q10 — left outer join (records without children survive)
# --------------------------------------------------------------------------
@register(
    "z13910_left_outer_join",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
    doc="Left outer join: every customer survives, zero-order customers get "
    "count 0 and NULL total (SURVEY §2.3 Q10).",
)
def z13910_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dec_sum("o_totalprice", "total_spent"),
        )
    )


# --------------------------------------------------------------------------
# Q11 — full outer join (migration reconciliation of two id universes)
# --------------------------------------------------------------------------
@register(
    "z13911_full_outer_join",
    oracle="""
    WITH o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders
               FROM orders GROUP BY o_custkey),
         e AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n_events
               FROM events GROUP BY user_id)
    SELECT COALESCE(o.k, e.k) AS entity_key, n_orders, n_events
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
    doc="Full outer join reconciling two id sets (order-holders vs "
    "event-producers) — the 'which records exist on which side' migration "
    "report (SURVEY §2.3 Q11).",
)
def z13911_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    e = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return o.join(e, o.k == e.k, "full").select(
        F.coalesce(o.k, e.k).alias("entity_key"),
        "n_orders",
        "n_events",
    )


# --------------------------------------------------------------------------
# Q12 — left semi join (EXISTS)
# --------------------------------------------------------------------------
@register(
    "z13912_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    doc="Left semi join = EXISTS: customers having at least one finished "
    "order. The build side carries only the key (SURVEY §2.3 Q12).",
)
def z13912_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    f_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return cust.join(
        f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


# --------------------------------------------------------------------------
# Q13 — left anti join (NOT EXISTS: the "unmapped records" report)
# --------------------------------------------------------------------------
@register(
    "z13913_anti_join",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left anti join = NOT EXISTS: customers with no orders — the "
    "referential-integrity / not-yet-migrated report (SURVEY §2.3 Q13).",
)
def z13913_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


# --------------------------------------------------------------------------
# Q14 — cross join (small-dim cartesian + post-filter)
# --------------------------------------------------------------------------
@register(
    "z13914_cross_join",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    WHERE r_regionkey <> n_regionkey
    """,
    doc="Deliberate cartesian over two tiny dims with a post-filter (all "
    "cross-region pairs). Cartesians are banned on large inputs; this is "
    "the pair-generation pattern on dims only (SURVEY §2.3 Q14).",
)
def z13914_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        region.crossJoin(nation)
        .filter(F.col("r_regionkey") != F.col("n_regionkey"))
        .select("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# Q15 — theta / range join (equi key + date-window residual)
# --------------------------------------------------------------------------
@register(
    "z13915_range_join",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_shipped_in_90d,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_shipped
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <  o_orderdate + INTERVAL 90 DAY
    GROUP BY order_month
    """,
    doc="Equi join with a non-equi date-window residual: Catalyst extracts "
    "the equi part (SMJ on orderkey) and evaluates the range predicate as "
    "a post-join filter — never a nested loop (SURVEY §2.3 Q15).",
)
def z13915_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(orders, cond, "inner")
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shipped_in_90d"),
            dec_sum("l_quantity", "qty_shipped"),
        )
    )


# --------------------------------------------------------------------------
# Q16 — as-of join (latest 'view' at-or-before each 'purchase', per user)
# --------------------------------------------------------------------------
@register(
    "z13916_asof_join",
    oracle="""
    WITH p AS (SELECT event_id AS purchase_id, user_id,
                      CAST(ts AS TIMESTAMP) AS purchase_ts
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT event_id AS view_id, user_id,
                      CAST(ts AS TIMESTAMP) AS view_ts
               FROM events WHERE event_type = 'view'),
         j AS (SELECT p.purchase_id, p.user_id, p.purchase_ts, v.view_id, v.view_ts,
                      ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                         ORDER BY v.view_ts DESC, v.view_id DESC) AS rn
               FROM p LEFT JOIN v
                 ON p.user_id = v.user_id AND v.view_ts <= p.purchase_ts)
    SELECT purchase_id, user_id, purchase_ts, view_id AS asof_view_id,
           view_ts AS asof_view_ts
    FROM j WHERE rn = 1
    """,
    doc="As-of join: for each purchase, the same user's latest view event "
    "at-or-before it. Spark plan: union both event slices, ONE shuffle on "
    "user_id, running last_value(ignorenulls) window — no pairwise blowup, "
    "unlike the oracle's range-join+row_number formulation which is "
    "O(views x purchases) per user (SURVEY §2.3 Q16).",
)
def z13916_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_id"),
        F.lit(None).cast("long").alias("purchase_id"),
        # ties: a view at the exact same ts as a purchase counts (<=), so
        # views sort BEFORE purchases at equal ts
        F.lit(0).alias("tag"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("view_id"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", F.coalesce("view_id", "purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = views.unionByName(purchases).withColumn(
        "asof_view_id", F.last("view_id", ignorenulls=True).over(w)
    ).withColumn("asof_view_ts", F.last(F.when(F.col("view_id").isNotNull(), F.col("ts")), ignorenulls=True).over(w))
    return merged.filter(F.col("purchase_id").isNotNull()).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "asof_view_id",
        "asof_view_ts",
    )


# --------------------------------------------------------------------------
# Q17 — self join / consecutive-event pairs (lag formulation)
# --------------------------------------------------------------------------
@register(
    "z13917_self_join_pairs",
    oracle="""
    SELECT user_id, event_id, prev_event_id, prev_type, event_type,
           date_diff('microsecond', prev_ts, ts) AS gap_us
    FROM (SELECT user_id, event_id, event_type, ts,
                 LAG(event_id)   OVER w AS prev_event_id,
                 LAG(event_type) OVER w AS prev_type,
                 LAG(ts)         OVER w AS prev_ts
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    WHERE prev_event_id IS NOT NULL
    """,
    doc="Consecutive-event pairing per user — the sessionization building "
    "block. Expressed as lag() (one shuffle on user_id) rather than a "
    "literal self-join, which would shuffle twice (SURVEY §2.3 Q17).",
)
def z13917_self_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            F.lag("event_id").over(w).alias("prev_event_id"),
            F.lag("event_type").over(w).alias("prev_type"),
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .filter(F.col("prev_event_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            "prev_event_id",
            "prev_type",
            "event_type",
            (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
        )
    )


# --------------------------------------------------------------------------
# Q18 — similarity join (vector cosine >= tau) — exact fixture-scale form
# --------------------------------------------------------------------------
@register(
    "z13918_similarity_join",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           a.label AS label_a, b.label AS label_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
          / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
          >= 0.4
    """,
    doc="Exact all-pairs cosine similarity join via the distributed "
    "chunk-pair kernel (functions/vectors.py): vectors hash into C "
    "chunks, an IN-PLAN explode(sequence(0, C-1)) fans each row into "
    "the C chunk-pairs its chunk participates in (no driver-built "
    "membership, no broadcast — code-review r15), and one applyInPandas "
    "task matmuls each pair — no driver collect anywhere, task memory "
    "bounded by 2n/C vectors, shuffle O(n*C*d). "
    "The fixture's minimum |cos-0.4| margin is >=1e-4 "
    "(verified offline), so summation-order ulp noise cannot flip the "
    "tau decision vs the oracle. Exact all-pairs is O(n^2) compute by "
    "definition; the sub-quadratic scale paths are the LSH/IVF families "
    "(q_north.q60/q61) (SURVEY §2.3 Q18, §4).",
)
def z13918_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import similarity_pairs_chunked

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity_pairs_chunked(emb, tau=0.4, spark=spark)


# --------------------------------------------------------------------------
# Q68 — salted skew join (registered form of functions/skew.py)
# --------------------------------------------------------------------------
@register(
    "z11768_skew_salted_join",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Per-segment event rollup through a SALTED join (r2 verdict item "
    "8: the skew utility now backs a registered query). events.user_id "
    "concentrates on few keys; the large side gets a seeded random salt, "
    "the small side replicates n_salts times, and the join key becomes "
    "(key, salt) — the hot key spreads over n_salts tasks. A shuffle_hash "
    "hint keeps the build side off the broadcast path so the salted "
    "exchange actually partitions (asserted in tests/test_plans.py: the "
    "exchange hashes (c_custkey, __salt)). Salting is result-transparent "
    "— the oracle is the plain unsalted SQL join (SURVEY §4 skew row; "
    "functions/skew.py).",
)
def z11768_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import salted_join

    events = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        events,
        cust.hint("shuffle_hash"),
        large_key="user_id",
        small_key="c_custkey",
        n_salts=8,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum(F.col("value"), "total_value", "decimal(18,6)"),
    )


# --------------------------------------------------------------------------
# X25 — MERGE / upsert semantics (CDC apply) as one declarative plan
# --------------------------------------------------------------------------
@register(
    "z12794_cdc_full_outer_merge",
    oracle="""
    WITH changes AS (
      SELECT o_custkey AS key,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spend,
             MAX(o_orderdate) AS last_order
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'
      GROUP BY o_custkey),
    cdc AS (
      SELECT * FROM changes
      UNION ALL
      SELECT key + 10000000, n_orders, total_spend, last_order
      FROM changes WHERE key % 50 = 0)
    SELECT COALESCE(b.c_custkey, c.key) AS key,
           b.c_name AS name,
           c.n_orders, c.total_spend, c.last_order,
           CASE WHEN b.c_custkey IS NOT NULL AND c.key IS NOT NULL
                  THEN 'update'
                WHEN b.c_custkey IS NULL THEN 'insert'
                ELSE 'keep' END AS action
    FROM customer b FULL OUTER JOIN cdc c ON b.c_custkey = c.key
    """,
    doc="MERGE INTO semantics (the Delta/Iceberg upsert trio) as plain "
    "Spark: a CDC batch (recent-order aggregates, plus deterministic "
    "synthetic keys so WHEN NOT MATCHED fires) full-outer-joined with "
    "the customer dimension; WHEN MATCHED -> update, WHEN NOT MATCHED "
    "-> insert, WHEN NOT MATCHED BY SOURCE -> keep. One shuffle keyed "
    "on the merge key; at table-format scale the same plan feeds a "
    "partition-overwrite writer (exercises all three action branches: "
    "1497/30/3 at sf0.01). Decimal-exact spend sums as in q54.",
)
def z12794_cdc_full_outer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    changes = (
        orders.filter(F.col("o_orderdate") >= F.lit("1997-06-01").cast("timestamp"))
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend"),
            F.max("o_orderdate").alias("last_order"),
        )
    )
    cdc = changes.unionAll(
        changes.filter(F.col("key") % 50 == 0).select(
            (F.col("key") + 10000000).alias("key"),
            "n_orders",
            "total_spend",
            "last_order",
        )
    )
    b = cust.select("c_custkey", "c_name")
    return (
        b.join(cdc, b["c_custkey"] == cdc["key"], "full_outer")
        .select(
            F.coalesce("c_custkey", "key").alias("key"),
            F.col("c_name").alias("name"),
            "n_orders",
            "total_spend",
            "last_order",
            F.when(
                F.col("c_custkey").isNotNull() & F.col("key").isNotNull(),
                "update",
            )
            .when(F.col("c_custkey").isNull(), "insert")
            .otherwise("keep")
            .alias("action"),
        )
    )


# --------------------------------------------------------------------------
# Y51 — bloom-filter join prefilter (runtime-filter pattern, relational)
# --------------------------------------------------------------------------
# Same Carter-Wegman arithmetic as y50's CMS (portable BIGINT hashing);
# K=2 hash rows over an M=4096-bit filter built from the dim-side keys.
_BLOOM_P = 2_147_483_647
_BLOOM_M = 4_096
_BLOOM_SEEDS = ((1, 1_000_081, 611_953_889), (2, 1_000_099, 257_002_663))


def _bloom_bucket_sql(key: str, a: int, b: int) -> str:
    return f"(({a} * {key} + {b}) % {_BLOOM_P}) % {_BLOOM_M}"


@register(
    "z117194_bloom_prefilter",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_custkey IN
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
    doc="Semi-join through an EXPLICIT bloom-filter prefilter — the "
    "runtime-filter pattern Spark's InjectRuntimeFilter applies "
    "internally (bloom_filter_agg/might_contain are not public SQL "
    "API), built relationally so the plan is inspectable: the dim side "
    "(BUILDING customers) hashes into K=2 rows of an M=4096-bucket "
    "bit set (a distinct aggregate of <= 2*|dim| tiny rows); the fact "
    "side keeps a row only if BOTH its buckets are occupied (two "
    "broadcast left-semi joins = the bloom AND — the bit set is O(M), "
    "bounded, so ITS hint is sound at any SF); an exact semi-join then "
    "removes false positives, with NO mandatory hint — the dim side "
    "scales with SF, so AQE broadcasts it while it fits (fixture scale, "
    "plan-asserted) and sort-merges the bloom survivors past that. "
    "Result == the plain "
    "semi-join (bloom filters have no false negatives), which is the "
    "oracle. At 100 TB the payoff is shuffle avoidance: the bit set is "
    "O(M) regardless of fact size, it pushes into the scan before any "
    "exchange, and only bloom-surviving rows pay the real join "
    "(SURVEY §4 shuffle-minimization; q68's sibling pattern).",
)
def z117194_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    # K x M bit set from the dim side: rows (h, bucket), deduplicated.
    bits = dim.select(
        F.expr(
            "stack({n}, {cells}) AS (h, bucket)".format(
                n=len(_BLOOM_SEEDS),
                cells=", ".join(
                    f"{h}, {_bloom_bucket_sql('c_custkey', a, b)}"
                    for h, a, b in _BLOOM_SEEDS
                ),
            )
        )
    ).distinct()

    probe = orders
    for h, a, b in _BLOOM_SEEDS:
        occupied = (
            bits.filter(F.col("h") == h)
            .select(F.col("bucket").alias(f"__b{h}"))
        )
        probe = probe.withColumn(
            f"__b{h}", F.expr(_bloom_bucket_sql("o_custkey", a, b))
        ).join(F.broadcast(occupied), f"__b{h}", "left_semi")

    survivors = probe.join(
        dim, probe.o_custkey == dim.c_custkey, "left_semi"
    )
    return survivors.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("o_totalprice", "total_price"),
    )


# --------------------------------------------------------------------------
# Y62 — SCD2 dimension build (validity intervals from change events)
# --------------------------------------------------------------------------
@register(
    "z117236_scd2_intervals",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
               lag(o_orderpriority) OVER w AS prev_prio
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
    ch AS (
        SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
        FROM o WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority)
    SELECT o_custkey, o_orderpriority AS prio,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           CAST(CASE WHEN lead(o_orderdate) OVER w2
                     IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
    FROM ch
    WINDOW w2 AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Slowly-changing-dimension type 2 build: each customer's order "
    "priority history collapses into validity intervals — a change row "
    "opens an interval (lag detects the change), the next change "
    "closes it (lead), the open interval is flagged current. THE "
    "dimension-maintenance pattern of warehouse ETL (x25's MERGE "
    "applies deltas; this derives the versioned dimension itself). "
    "Both windows share one o_custkey exchange (change-detect sort "
    "and interval sort are compatible); timestamps compare as exact "
    "microsecond instants, o_orderkey tiebreak makes same-day "
    "sequences deterministic (ETL/SCD mandate).",
)
def z117236_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = orders.withColumn(
        "prev_prio", F.lag("o_orderpriority").over(w)
    )
    ch = o.filter(
        F.col("prev_prio").isNull()
        | (F.col("prev_prio") != F.col("o_orderpriority"))
    )
    w2 = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    valid_to = F.lead("o_orderdate").over(w2)
    return ch.select(
        "o_custkey",
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderdate").alias("valid_from"),
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).cast("int").alias(
            "is_current"
        ),
    )
