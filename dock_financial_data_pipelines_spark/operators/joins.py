"""Join operators (SURVEY.md §2-B J1-J9).

The reference links accounts ↔ statements ↔ balances implicitly through
its API URLs (STMTS:66 `accounts/{id}/statements`); here the linkage is
explicit relational joins over the star schema.

Scale notes:
- Dimension joins (nation, region, supplier, small customer slices) use
  explicit ``broadcast()`` — no shuffle of the fact side.
- Fact-fact joins shuffle on the join key; AQE picks SMJ/SHJ and splits
  skewed partitions (session.py turns skewJoin on).
- The as-of join (J8) is expressed as range-join + aggregation; at 100 TB
  the same plan partitions by the equality key (user/account) first, so
  the range scan happens within co-located partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import dec_sum, load, maybe_broadcast
from dock_financial_data_pipelines_spark.hashing import h60_sql
from dock_financial_data_pipelines_spark.registry import query


# ---------------------------------------------------------------------------
# J1 — inner equi-join (fact ⋈ fact): Catalyst picks the strategy.
# ---------------------------------------------------------------------------
@query(
    "j1_inner_join",
    oracle="""
    SELECT o.o_orderstatus AS status,
           count(*) AS n_lines,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))), 2)::DOUBLE AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def j1_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# J2 — broadcast hash join over the dim chain customer→nation→region.
# ---------------------------------------------------------------------------
@query(
    "j2_broadcast_dim_join",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           count(*) AS n_customers,
           round(sum(CAST(c.c_acctbal AS DECIMAL(27,2))), 2)::DOUBLE AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def j2_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum("c_acctbal", scale=2).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — left outer join: customers keep rows with zero orders.
# ---------------------------------------------------------------------------
@query(
    "j3_left_outer_join",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    SELECT n_orders, count(*) AS n_customers
    FROM per_cust GROUP BY 1
    """,
)
def j3_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# J4 — left semi join (EXISTS)
# ---------------------------------------------------------------------------
@query(
    "j4_semi_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    GROUP BY 1
    """,
)
def j4_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# J5 — left anti join (NOT EXISTS)
# ---------------------------------------------------------------------------
@query(
    "j5_anti_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_inactive
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1999
    )
    GROUP BY 1
    """,
)
def j5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    o99 = load(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1999)
    return (
        cust.join(o99, cust.c_custkey == o99.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


# ---------------------------------------------------------------------------
# J6 — cross join (small × small only; guarded by explicit crossJoin)
# ---------------------------------------------------------------------------
@query(
    "j6_cross_join",
    oracle="""
    SELECT r.r_name AS region, s.s_name AS supplier
    FROM region r CROSS JOIN supplier s
    WHERE s.s_acctbal > 3000
    """,
)
def j6_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load(spark, sf_dir, "region")
    supp = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 3000)
    return region.crossJoin(supp).select(
        F.col("r_name").alias("region"), F.col("s_name").alias("supplier")
    )


# ---------------------------------------------------------------------------
# J7 — theta / band join (non-equi): customers whose balance is within
# ±100 of a supplier's balance. BroadcastNestedLoop with the tiny side
# broadcast; at scale this becomes a band-partitioned range join.
# ---------------------------------------------------------------------------
@query(
    "j7_band_join",
    oracle="""
    SELECT s.s_suppkey, count(*) AS n_close_customers
    FROM supplier s JOIN customer c
      ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
    GROUP BY 1
    """,
)
def j7_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    return (
        cust.join(
            F.broadcast(supp),
            F.col("c_acctbal").between(
                F.col("s_acctbal") - 100, F.col("s_acctbal") + 100
            ),
            "inner",
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_close_customers"))
    )


# ---------------------------------------------------------------------------
# J8 — as-of join: for each event, the latest order of that customer at or
# before the event timestamp (the reference's T+1 freshness semantics,
# REPORT:59, generalized to point-in-time correctness).
#
# PRIMARY formulation = union + one sort per key + carried window state
# (the 100 TB plan): both inputs shuffle once on the key, one sort, and
# each row is touched once — no per-event scan of the order history. The
# oracle states the same semantics as a declarative range join, which is
# fine for DuckDB at oracle scale but would be a per-key cartesian on a
# skewed key at 100×; `j8_asof_join_rangejoin_twin` keeps that
# formulation registered with an explicitly bounded lookback window.
# ---------------------------------------------------------------------------
@query(
    "j8_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id,
           strftime(max(o.o_orderdate), '%Y-%m-%d') AS last_order_date,
           count(o.o_orderkey) AS n_prior_orders
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    GROUP BY 1, 2
    """,
)
def j8_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
    )
    # Orders at t == event ts sort before the event (is_event 0 < 1), so
    # they are visible to it — matching the oracle's `o_orderdate <= e.ts`.
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.unionByName(orders).select(
        "is_event",
        "event_id",
        F.col("k").alias("user_id"),
        F.last("o_orderdate", ignorenulls=True).over(w).alias("_last_dt"),
        F.count("o_orderkey").over(w).alias("n_prior_orders"),
    )
    # Formatting only after the events-only filter: the window carries a
    # raw timestamp, so the string conversion runs on output rows, not
    # on every merged row.
    return carried.where(F.col("is_event") == 1).select(
        "event_id",
        "user_id",
        F.date_format("_last_dt", "yyyy-MM-dd").alias("last_order_date"),
        "n_prior_orders",
    )


# ---------------------------------------------------------------------------
# J8c — the declarative range-join formulation, kept as an oracle twin
# with a BOUNDED lookback (1 year): the per-event probe window is
# capped, so even on a skewed key the fan-out is bounded by orders per
# key-year, not the whole history. Use this form when the business rule
# itself is windowed ("latest order within the last year"); use the
# primary sort-merge form for unbounded as-of.
# ---------------------------------------------------------------------------
@query(
    "j8_asof_join_rangejoin_twin",
    oracle="""
    SELECT e.event_id, e.user_id,
           strftime(max(o.o_orderdate), '%Y-%m-%d') AS last_order_date,
           count(o.o_orderkey) AS n_recent_orders
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id
     AND o.o_orderdate <= e.ts
     AND o.o_orderdate >= e.ts - INTERVAL 365 DAY
    GROUP BY 1, 2
    """,
)
def j8_asof_join_rangejoin_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    return (
        ev.join(
            orders,
            (orders.o_custkey == ev.user_id)
            & (orders.o_orderdate <= ev.ts)
            & (orders.o_orderdate >= ev.ts - F.expr("INTERVAL 365 DAYS")),
            "left",
        )
        .groupBy("event_id", "user_id")
        .agg(
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_date"),
            F.count("o_orderkey").alias("n_recent_orders"),
        )
    )


# ---------------------------------------------------------------------------
# J8b — as-of join, sort-merge formulation (the 100 TB path): union both
# streams on the key, one sort per key partition, carry the latest order
# forward with last_value(ignoreNulls). One shuffle + one sort — no
# range join, no per-event scan of the order history.
# ---------------------------------------------------------------------------
@query(
    "j8_asof_join_sortmerge",
    oracle="""
    WITH ranked AS (
        SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
               row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id,
           o_orderkey AS asof_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS asof_date
    FROM ranked WHERE rn = 1
    """,
)
def j8_asof_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_orderdate"),
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
    )
    merged = ev.unionByName(orders)
    # Orders sort before events at the same instant (is_event 0 < 1), so
    # an order dated exactly at the event timestamp is visible to it;
    # o_orderkey breaks same-date ties deterministically (latest key wins).
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.select(
        "is_event",
        "event_id",
        F.col("k").alias("user_id"),
        F.last("o_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("o_orderdate", ignorenulls=True).over(w).alias("_asof_ts"),
    )
    return (
        carried.where((F.col("is_event") == 1) & F.col("asof_orderkey").isNotNull())
        .select(
            "event_id",
            "user_id",
            "asof_orderkey",
            F.date_format("_asof_ts", "yyyy-MM-dd").alias("asof_date"),
        )
    )


# ---------------------------------------------------------------------------
# J9 — multi-way star join (TPC-H Q5 shape): revenue by nation for one
# region and order-date window; dims broadcast, facts shuffle once.
# ---------------------------------------------------------------------------
@query(
    "j9_star_join",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))), 2)::DOUBLE AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def j9_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(maybe_broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(maybe_broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# J11 — interval-overlap join, bucketized: which user sessions overlap
# in time (concurrency analysis)? The naive formulation is a theta join
# (O(n²) comparisons); the scalable one explodes each interval into the
# hour buckets it touches, EQUI-joins on the bucket, dedups candidate
# pairs, and verifies the exact overlap — comparisons bounded by
# pairs-per-bucket, the same candidate-then-verify shape as LSH dedup.
# Sessions are derived with the W10 gap rule (30-minute silence).
# ---------------------------------------------------------------------------
@query(
    "j11_interval_overlap_join",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_no,
               ts
        FROM flagged
    ),
    intervals AS (
        SELECT user_id, session_no,
               min(ts) AS s_start, max(ts) AS s_end
        FROM sess GROUP BY 1, 2
    )
    SELECT a.user_id AS user_a, a.session_no AS sess_a,
           b.user_id AS user_b, b.session_no AS sess_b
    FROM intervals a JOIN intervals b
      ON a.user_id < b.user_id
     AND a.s_start <= b.s_end AND b.s_start <= a.s_end
    """,
)
def j11_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # unix_timestamp, not cast("long"): the parquet ts column is
    # TIMESTAMP_NTZ (no UTC flag) and Spark refuses a direct numeric cast;
    # with the UTC session timezone both forms yield the same epoch.
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    intervals = (
        ev.withColumn(
            "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn("session_no", F.sum("new_session").over(wrun).cast("bigint"))
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .localCheckpoint(eager=True)  # both join sides read this
    )
    hour = 3600
    bucketed = intervals.select(
        "user_id",
        "session_no",
        "s_start",
        "s_end",
        F.explode(
            F.sequence(
                (F.unix_timestamp("s_start") / hour).cast("long"),
                (F.unix_timestamp("s_end") / hour).cast("long"),
            )
        ).alias("bucket"),
    )
    a = bucketed.select(
        F.col("user_id").alias("user_a"),
        F.col("session_no").alias("sess_a"),
        F.col("s_start").alias("start_a"),
        F.col("s_end").alias("end_a"),
        "bucket",
    )
    b = bucketed.select(
        F.col("user_id").alias("user_b"),
        F.col("session_no").alias("sess_b"),
        F.col("s_start").alias("start_b"),
        F.col("s_end").alias("end_b"),
        "bucket",
    )
    return (
        a.join(b, ["bucket"])  # equi-join on the hour bucket
        .where(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
        )
        .select("user_a", "sess_a", "user_b", "sess_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# J12 — currency conversion via as-of join: every financial reporting
# pipeline prices foreign-currency facts with the latest FX rate
# published ON OR BEFORE the transaction date. Five currencies with
# deterministic pseudo-random fixes every 3 days, orders assigned a
# currency by customer key, so the as-of carry across unpublished days
# is genuinely exercised PER KEY. The engine uses the union + sort +
# last_value carry plan partitioned by currency (the j8 primary shape:
# one shuffle on the key, windows never global, no join operator); the
# oracle cross-checks with DuckDB's native keyed ASOF JOIN — two
# independent as-of implementations must agree exactly.
# ---------------------------------------------------------------------------
@query(
    "j12_currency_asof_convert",
    oracle="""
    WITH rates AS (
        SELECT cur, CAST(d AS DATE) AS rate_date,
               4.5 + cur
                   + ((date_diff('day', DATE '1970-01-01', CAST(d AS DATE))
                       * 7919 + cur * 131) % 1000) / 1000.0 AS rate
        FROM (SELECT unnest(generate_series(DATE '1995-01-01',
                                            DATE '2001-12-31',
                                            INTERVAL 3 DAY)) AS d)
        CROSS JOIN (VALUES (0), (1), (2), (3), (4)) currencies(cur)
    ),
    fx_orders AS (
        SELECT o_orderkey, o_totalprice,
               CAST(o_custkey % 5 AS INT) AS cur,
               CAST(o_orderdate AS DATE) AS ev_date,
               year(o_orderdate) AS yr
        FROM orders
    ),
    priced AS (
        SELECT o.yr, o.cur,
               floor(o.o_totalprice * r.rate * 100 + 0.5) / 100 AS converted
        FROM fx_orders o
        ASOF JOIN rates r ON o.cur = r.cur AND o.ev_date >= r.rate_date
    )
    SELECT yr, cur,
           count(*) AS n_orders,
           round(sum(CAST(converted AS DECIMAL(27,2))), 2)::DOUBLE AS revenue_converted
    FROM priced GROUP BY 1, 2
    """,
)
def j12_currency_asof_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_custkey") % 5).cast("int").alias("cur"),
        F.col("o_orderdate").cast("date").alias("ev_date"),
        F.year("o_orderdate").alias("yr"),
    )
    day_num = F.datediff("ev_date", F.lit("1970-01-01").cast("date"))
    rates = (
        orders.sparkSession.range(5)
        .select(F.col("id").cast("int").alias("cur"))
        .crossJoin(
            orders.sparkSession.range(1).select(
                F.explode(
                    F.sequence(
                        F.lit("1995-01-01").cast("date"),
                        F.lit("2001-12-31").cast("date"),
                        F.expr("INTERVAL 3 DAYS"),
                    )
                ).alias("ev_date")
            )
        )
        .select(
            "cur",
            "ev_date",
            (
                4.5
                + F.col("cur")
                + ((day_num * 7919 + F.col("cur") * 131) % 1000) / 1000.0
            ).alias("rate"),
        )
    )
    # Union + per-currency event-time sort + last_value carry: rate rows
    # sort before fact rows on the same date (is_rate desc) so a
    # same-day fix applies to that day's orders. The window partitions
    # on the currency key — no global ordering anywhere.
    unioned = rates.select(
        "cur", "ev_date", F.lit(1).alias("is_rate"), "rate",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("int").alias("yr"),
    ).unionByName(
        orders.select(
            "cur", "ev_date", F.lit(0).alias("is_rate"),
            F.lit(None).cast("double").alias("rate"),
            "o_totalprice", "yr",
        )
    )
    w = (
        Window.partitionBy("cur")
        .orderBy("ev_date", F.col("is_rate").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    priced = (
        unioned.withColumn("carried", F.last("rate", ignorenulls=True).over(w))
        # Inner-ASOF semantics: a fact dated before its currency's first
        # rate fix has no carried rate and must DROP, exactly as the
        # oracle's inner ASOF JOIN drops it. Without this filter such
        # orders would be kept with a NULL rate (counted in n_orders,
        # skipped by dec_sum) — latent-only today because the fixture
        # rates series starts on the earliest possible order date.
        .where((F.col("is_rate") == 0) & F.col("carried").isNotNull())
        .select(
            "yr", "cur",
            # money-round each converted amount BEFORE accumulation with
            # the cross-engine-exact floor(x*100+0.5)/100 primitive: a
            # raw double->DECIMAL(…,4) cast can land on a rounding
            # boundary where Spark and DuckDB disagree by 1e-4.
            (
                F.floor(F.col("o_totalprice") * F.col("carried") * 100 + 0.5)
                / 100
            ).alias("converted"),
        )
    )
    return priced.groupBy("yr", "cur").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum("converted", scale=2).alias("revenue_converted"),
    )


# ---------------------------------------------------------------------------
# J13 — nearest-neighbor time join: every purchase event matched to the
# CLOSEST click of the same user within ±6 h, in either direction —
# the bidirectional generalization of the backward-only as-of join
# (J8). Attribution use: "which click drove this purchase".
#
# Scale shape: candidate generation is an equi-join on
# (user_id, time_bucket) — clicks keep their own 6 h bucket, purchases
# probe bucket-1/bucket/bucket+1 — so no theta join ever forms; any
# candidate within the window is guaranteed to share a probed bucket,
# each (purchase, click) pair surfaces at most once (a click has
# exactly one bucket), and the argmin is a per-purchase window. Gaps
# are integer microseconds (unix_micros ↔ DuckDB epoch_us), so the
# ordering and output are cross-engine exact. At 100 TB the shuffle is
# keyed on (user, bucket): time-local, so bucket skew only forms if one
# user floods one 6 h window — the same salting answer as J10 applies.
# ---------------------------------------------------------------------------
_J13_WINDOW_US = 6 * 3600 * 1_000_000


@query(
    "j13_nearest_event_join",
    oracle=f"""
    WITH p AS (
        SELECT event_id, user_id, epoch_us(ts) AS t
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id, user_id, epoch_us(ts) AS t
        FROM events WHERE event_type = 'click'
    ),
    cand AS (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               abs(c.t - p.t) AS gap_us
        FROM p JOIN c ON c.user_id = p.user_id
        WHERE abs(c.t - p.t) <= {_J13_WINDOW_US}
    )
    SELECT purchase_id, click_id, gap_us
    FROM (
        SELECT *, row_number() OVER (PARTITION BY purchase_id
                                     ORDER BY gap_us, click_id) AS rn
        FROM cand
    ) WHERE rn = 1
    """,
)
def j13_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w_us = _J13_WINDOW_US
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("t").alias("ct"),
        F.expr(f"t div {w_us}").alias("bucket"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("t").alias("pt"),
        F.explode(
            F.array(
                F.expr(f"t div {w_us} - 1"),
                F.expr(f"t div {w_us}"),
                F.expr(f"t div {w_us} + 1"),
            )
        ).alias("bucket"),
    )
    cand = (
        purchases.join(clicks, ["user_id", "bucket"])
        .withColumn("gap_us", F.abs(F.col("ct") - F.col("pt")))
        .where(F.col("gap_us") <= w_us)
    )
    rn = F.row_number().over(
        Window.partitionBy("purchase_id").orderBy("gap_us", "click_id")
    )
    return (
        cand.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("purchase_id", "click_id", "gap_us")
    )


# ---------------------------------------------------------------------------
# J14 — fuzzy entity match (entity resolution): customer names within
# Levenshtein distance ≤ 2 of a bounded probe set. The exact edit-
# distance form is oracle-checkable (Spark `levenshtein` ≡ DuckDB
# `levenshtein`); production entity resolution at 100 TB replaces the
# probe×corpus scan with q-gram/blocking-key candidate generation (the
# same candidate-then-verify shape as every dedup operator here — the
# L4 family IS that scale path, on documents instead of names).
# ---------------------------------------------------------------------------
@query(
    "j14_fuzzy_name_match",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 20
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def j14_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    probe = cust.where(F.col("c_custkey") < 20).select(
        F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a")
    )
    cand = cust.select(
        F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b")
    )
    return (
        F.broadcast(probe)
        .join(cand, F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 2)
        .select("key_a", "key_b", "dist")
    )


# ---------------------------------------------------------------------------
# j16_grid_nearest_facility — spatial nearest-neighbor assignment via
# grid bucketing: place customers and supplier facilities on an integer
# 1000x1000 plane (coordinates derived deterministically from keys —
# the fixtures carry no geo columns), cut the plane into 100x100-unit
# cells, and join each customer only to facilities in its 3x3 cell
# neighborhood (the standard grid/cell spatial-join pruning: a cell
# edge >= the service radius makes the neighborhood search exact for
# radius-bounded matching; customers with no facility within the
# neighborhood fall out, counted by the companion audit columns in the
# assignment itself being absent). Distance is squared Euclidean on
# BIGINTs — no floats anywhere, so cross-engine parity is exact — and
# the winner per customer is row_number over (dist2, s_suppkey). At
# 100 TB this is an equi-join on cell ids (9 candidate cells per probe
# row, explode + broadcast of the facility dim), never a cross join.
# ---------------------------------------------------------------------------
_GRID_CELL = 100


@query(
    "j16_grid_nearest_facility",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               (c_custkey * 37) % 1000 AS cx,
               (c_custkey * 91) % 1000 AS cy
        FROM customer
    ),
    fac AS (
        SELECT s_suppkey,
               (s_suppkey * 53) % 1000 AS fx,
               (s_suppkey * 17) % 1000 AS fy,
               ((s_suppkey * 53) % 1000) // {_GRID_CELL} AS cellx,
               ((s_suppkey * 17) % 1000) // {_GRID_CELL} AS celly
        FROM supplier
    ),
    cand AS (
        SELECT c.c_custkey, c.cx, c.cy, f.s_suppkey,
               (c.cx - f.fx) * (c.cx - f.fx)
             + (c.cy - f.fy) * (c.cy - f.fy) AS dist2
        FROM cust c
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx)
        CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy)
        JOIN fac f
          ON f.cellx = (c.cx // {_GRID_CELL}) + dx
         AND f.celly = (c.cy // {_GRID_CELL}) + dy
    ),
    ranked AS (
        SELECT c_custkey, s_suppkey, dist2,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY dist2, s_suppkey) AS rn
        FROM cand
    )
    SELECT c_custkey, s_suppkey AS nearest_facility,
           CAST(dist2 AS BIGINT) AS dist2
    FROM ranked WHERE rn = 1
    """,
)
def j16_grid_nearest_facility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    G = _GRID_CELL
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 1000).alias("cx"),
        ((F.col("c_custkey") * 91) % 1000).alias("cy"),
    )
    fac = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53) % 1000).alias("fx"),
        ((F.col("s_suppkey") * 17) % 1000).alias("fy"),
    ).select(
        "s_suppkey",
        "fx",
        "fy",
        F.expr(f"fx div {G}").alias("cellx"),
        F.expr(f"fy div {G}").alias("celly"),
    )
    offsets = F.explode(F.array(*[F.lit(v) for v in (-1, 0, 1)]))
    probe = (
        cust.select("*", offsets.alias("dx"))
        .select("*", offsets.alias("dy"))
        .select(
            "c_custkey",
            "cx",
            "cy",
            (F.expr(f"cx div {G}") + F.col("dx")).alias("qcellx"),
            (F.expr(f"cy div {G}") + F.col("dy")).alias("qcelly"),
        )
    )
    cand = probe.join(
        F.broadcast(fac),
        (F.col("qcellx") == F.col("cellx"))
        & (F.col("qcelly") == F.col("celly")),
    ).select(
        "c_custkey",
        "s_suppkey",
        (
            (F.col("cx") - F.col("fx")) * (F.col("cx") - F.col("fx"))
            + (F.col("cy") - F.col("fy")) * (F.col("cy") - F.col("fy"))
        ).alias("dist2"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("s_suppkey").alias("nearest_facility"),
            F.col("dist2").cast("long").alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# j17_join_skew_advisor — the relational-side partition-skew planning
# op (the join analogue of the round-10 dedup shard advisors): for
# candidate shuffle-partition counts P in (8, 32, 128), model hash
# partitioning of the events fact on user_id (the engine's canonical
# hot-key column — J10/A9's salting target) with the engine-portable
# md5-60bit hash, and report: max/avg partition load (skew ratio),
# the hottest single key's share of its partition, and the salting
# factor that would spread that key across average-loaded partitions
# (ceil(top_key_rows · P / total) — the ×16 J10 idiom generalized).
# skew_ratio ~ 1 at some P means AQE coalescing suffices; a flat-high
# ratio across P means the skew is KEY-concentrated and only salting
# (or skew-join splitting) helps — the decision this advisor exists
# to make before a 100 TB join. Key frequencies aggregate once;
# the 3× expansion explodes the per-KEY frequency table (bounded by
# distinct keys), never the fact.
# ---------------------------------------------------------------------------
@query(
    "j17_join_skew_advisor",
    oracle=f"""
    WITH freq AS MATERIALIZED (
        SELECT user_id, count(*) AS c,
               {h60_sql("CAST(user_id AS VARCHAR)", "duckdb")} AS h
        FROM events GROUP BY 1
    ),
    expanded AS (
        SELECT t.p, freq.h % t.p AS part, freq.c
        FROM freq CROSS JOIN (SELECT unnest([8, 32, 128]) AS p) t
    ),
    loads AS (
        SELECT p, part, sum(c) AS load
        FROM expanded GROUP BY 1, 2
    ),
    per_p AS (
        SELECT p,
               CAST(max(load) AS BIGINT) AS max_partition_rows,
               CAST(sum(load) AS BIGINT) AS total_rows,
               CAST(count(*) AS BIGINT) AS partitions_nonempty
        FROM loads GROUP BY 1
    ),
    top_key AS (
        SELECT CAST(max(c) AS BIGINT) AS top_key_rows FROM freq
    )
    SELECT CAST(pp.p AS BIGINT) AS n_partitions,
           pp.partitions_nonempty, pp.max_partition_rows,
           floor(CAST(pp.max_partition_rows * pp.p AS DOUBLE)
                 / pp.total_rows * 1e6 + 0.5) / 1e6 AS skew_ratio,
           tk.top_key_rows,
           floor(CAST(tk.top_key_rows * pp.p AS DOUBLE) / pp.total_rows
                 * 1e6 + 0.5) / 1e6 AS top_key_load_factor,
           greatest(CAST(ceil(CAST(tk.top_key_rows * pp.p AS DOUBLE)
                              / pp.total_rows) AS BIGINT), 1)
               AS recommended_salt
    FROM per_p pp CROSS JOIN top_key tk
    ORDER BY n_partitions
    """,
)
def j17_join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).select(
        "user_id",
        "c",
        F.expr(h60_sql("CAST(user_id AS STRING)", "spark")).alias("h"),
    ).localCheckpoint(eager=True)
    expanded = freq.select(
        F.explode(F.array(*[F.lit(x) for x in (8, 32, 128)])).alias("p"),
        F.col("h"),
        F.col("c"),
    ).select("p", F.pmod(F.col("h"), F.col("p")).alias("part"), "c")
    loads = expanded.groupBy("p", "part").agg(F.sum("c").alias("load"))
    per_p = loads.groupBy("p").agg(
        F.max("load").cast("long").alias("max_partition_rows"),
        F.sum("load").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("partitions_nonempty"),
    )
    top_key = freq.agg(F.max("c").cast("long").alias("top_key_rows"))
    f6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    load_factor = (
        F.col("top_key_rows") * F.col("p")
    ).cast("double") / F.col("total_rows")
    return (
        per_p.crossJoin(F.broadcast(top_key))
        .select(
            F.col("p").cast("long").alias("n_partitions"),
            "partitions_nonempty",
            "max_partition_rows",
            f6(
                (F.col("max_partition_rows") * F.col("p")).cast("double")
                / F.col("total_rows")
            ).alias("skew_ratio"),
            "top_key_rows",
            f6(load_factor).alias("top_key_load_factor"),
            F.greatest(
                F.ceil(load_factor).cast("long"), F.lit(1)
            ).alias("recommended_salt"),
        )
        .orderBy("n_partitions")
    )


# ---------------------------------------------------------------------------
# j18_cbo_broadcast_advisor — the size/cardinality side of join
# planning (the complement of j17's skew side): per-table statistics
# (row count + estimated serialized bytes from physical column widths
# and actual UTF-8 string lengths) drive the three CBO decisions a
# 100 TB star join needs BEFORE execution: which side to broadcast
# (est_bytes ≤ threshold → hash-relation ships to every executor,
# zero fact shuffle), which table is the fact (largest — it anchors
# the join tree and is never moved), and the dim join order
# (ascending size — smallest hash relations first keeps intermediate
# cardinality minimal, the greedy order a Selinger-style optimizer
# would seed with). Stats are ONE narrow aggregate per table — the
# ANALYZE TABLE pass — and the advisor's arithmetic is the same thing
# Catalyst's CBO reads from the catalog; at 100 TB the byte estimate
# comes from parquet footer metadata instead of a scan, same numbers.
# The threshold is the fixture-scale stand-in for the production
# 10 MB spark.sql.autoBroadcastJoinThreshold. The final ranking
# window orders 7 table-stat rows — metadata grain, not data grain.
# ---------------------------------------------------------------------------
_J18_THRESH = 524288  # bytes; fixture-scale autoBroadcastJoinThreshold
_J18_TABLES = {
    # table -> (fixed bytes/row: int32|date=4-byte cols counted at
    # their width, int64/double/timestamp at 8; string cols measured)
    "region": (4, ["r_name"]),
    "nation": (8, ["n_name"]),
    "customer": (20, ["c_name", "c_mktsegment"]),
    "supplier": (20, ["s_name"]),
    "part": (20, ["p_name", "p_brand", "p_type"]),
    "orders": (32, ["o_orderstatus", "o_orderpriority"]),
    "lineitem": (68, ["l_returnflag", "l_linestatus"]),
}


def _j18_oracle() -> str:
    parts = []
    for tbl, (fixed, strs) in _J18_TABLES.items():
        slen = " + ".join(f"coalesce(sum(strlen({c})), 0)" for c in strs)
        parts.append(
            f"SELECT '{tbl}' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,"
            f" CAST({fixed} * count(*) + {slen} AS BIGINT) AS est_bytes"
            f" FROM {tbl}"
        )
    stats = " UNION ALL ".join(parts)
    return f"""
    WITH stats AS ({stats}),
    ranked AS (
        SELECT tbl, n_rows, est_bytes,
               CASE WHEN est_bytes = (SELECT max(est_bytes) FROM stats)
                    THEN 'fact' ELSE 'dim' END AS role,
               CASE WHEN est_bytes <= {_J18_THRESH}
                    THEN 'broadcast' ELSE 'shuffle' END AS strategy,
               CAST(CASE WHEN est_bytes <= {_J18_THRESH}
                    THEN 0 ELSE est_bytes END AS BIGINT)
                   AS est_shuffle_bytes,
               CAST(row_number() OVER (ORDER BY est_bytes, tbl)
                   AS BIGINT) AS join_rank
        FROM stats
    )
    SELECT * FROM ranked
    """


@query("j18_cbo_broadcast_advisor", oracle=_j18_oracle())
def j18_cbo_broadcast_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    stats = None
    for tbl, (fixed, strs) in _J18_TABLES.items():
        slen = sum(
            (F.coalesce(F.sum(F.octet_length(c)), F.lit(0)) for c in strs),
            F.lit(0),
        )
        t = load(spark, sf_dir, tbl).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.lit(fixed) * F.count(F.lit(1)) + slen)
            .cast("long")
            .alias("est_bytes"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "est_bytes")
        stats = t if stats is None else stats.unionAll(t)
    w = Window.orderBy("est_bytes", "tbl")
    wmax = Window.partitionBy()
    b = F.col("est_bytes")
    return stats.select(
        "tbl",
        "n_rows",
        "est_bytes",
        F.when(b == F.max(b).over(wmax), "fact").otherwise("dim").alias("role"),
        F.when(b <= _J18_THRESH, "broadcast").otherwise("shuffle").alias(
            "strategy"
        ),
        F.when(b <= _J18_THRESH, F.lit(0)).otherwise(b)
        .cast("long")
        .alias("est_shuffle_bytes"),
        F.row_number().over(w).cast("long").alias("join_rank"),
    )
