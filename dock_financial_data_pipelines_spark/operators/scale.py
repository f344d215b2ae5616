"""Scale-technique operators: skew salting, bucketed co-located joins,
approximate and exact percentiles (SURVEY.md §4.3 policies made
concrete and oracle-checked).

``events.user_id`` has only ~15 distinct values at any scale factor —
an extreme-skew key where a naive groupBy/join puts whole key volumes on
single tasks. These operators demonstrate the two standard cures:

- two-stage salted aggregation: groupBy (key, salt) partial → groupBy
  key final. The first shuffle spreads each hot key over SALT buckets.
- bucketed tables: pre-shuffle both join sides into the same bucket
  layout once; subsequent joins are shuffle-free (SortMergeJoin with no
  Exchange). At 100 TB this is the difference between re-shuffling
  terabytes per query and none.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import load, local_frame, maybe_broadcast
from dock_financial_data_pipelines_spark.hashing import h60_col, h60_sql
from dock_financial_data_pipelines_spark.registry import query
from dock_financial_data_pipelines_spark.scratch import work_dir
from dock_financial_data_pipelines_spark.shingles import tokens, tokens_sql

_SALT_BUCKETS = 16


def salted_sum(df: DataFrame, key: str, value: str, n_salt: int = _SALT_BUCKETS) -> DataFrame:
    """Two-stage aggregation over a skewed key."""
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salt)))
        .groupBy(key, "_salt")
        .agg(
            F.sum(F.col(value).cast("decimal(27,6)")).alias("_psum"),
            F.count(F.lit(1)).alias("_pcnt"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("_psum").alias("_sum"), F.sum("_pcnt").alias("_cnt")
    )


@query(
    "a9_salted_skew_agg",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
    FROM events GROUP BY 1
    """,
)
def a9_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = salted_sum(load(spark, sf_dir, "events"), "user_id", "value")
    return agg.select(
        "user_id",
        F.col("_cnt").alias("n_events"),
        F.round("_sum", 2).cast("double").alias("total_value"),
    )


@query(
    "j10_salted_skew_join",
    oracle="""
    SELECT e.event_type, c.c_mktsegment, count(*) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def j10_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact ⋈ dim via salt replication: fact rows get a random
    salt, each dim row is exploded to every salt value, and the join key
    becomes (key, salt) — each hot key spreads over N tasks. (With a
    dim this small broadcast is the better plan — j2 covers that; this
    demonstrates the technique for dims too large to broadcast.)"""
    ev = load(spark, sf_dir, "events").withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(_SALT_BUCKETS)).cast(
            "int"
        ),
    )
    cust = (
        load(spark, sf_dir, "customer")
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1))))
    )
    return (
        ev.hint("shuffle_hash")
        .join(
            cust,
            (ev.user_id == cust.c_custkey) & (ev._salt == cust._salt),
        )
        .groupBy("event_type", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "s7_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderstatus, count(*) AS n_lines,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def s7_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write both fact tables bucketed by the join key, then join the
    bucketed tables: Catalyst elides the shuffle on both sides (no
    Exchange above either scan). The one-time bucketing cost is paid at
    ingest; every subsequent join is co-located."""
    wh = work_dir(sf_dir, "bucketed")
    tag = os.path.basename(wh).replace(".", "_")  # one table pair per dir
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(wh, "lineitem"))
        .saveAsTable(f"bkt_lineitem_{tag}")
    )
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(wh, "orders"))
        .saveAsTable(f"bkt_orders_{tag}")
    )
    li = spark.table(f"bkt_lineitem_{tag}")
    orders = spark.table(f"bkt_orders_{tag}")
    # hint("merge"): at fixture scale AQE would broadcast instead; the
    # point here is the SortMergeJoin with NO Exchange/Sort on either
    # side (bucket layout + sortBy make both pre-partitioned and
    # pre-sorted) — the plan shape that matters at 100 TB.
    return (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@query(
    "a10_exact_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY 1
    """,
)
def a10_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@query(
    "a11_approx_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(max(o_totalprice), 2) AS max_price,
           TRUE AS p50_within_2pct,
           TRUE AS p90_within_2pct
    FROM orders GROUP BY 1
    """,
)
def a11_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (one pass, bounded memory — the only
    affordable form at 100 TB). Sketch internals are engine-specific, so
    the oracle checks tolerance, not raw values: the output carries
    booleans asserting each approximation landed within 2% relative
    error of the exact percentile, which DuckDB hash-checks as TRUE.
    The tolerance claim is asymptotic: percentile_approx returns an
    order statistic while the exact percentile interpolates, so on a
    cardinality-starved group (a 2-row status bucket) the relative gap
    between adjacent order statistics can exceed any fixed tolerance —
    groups under 100 rows assert vacuous TRUE instead."""
    exact_p50 = F.expr("percentile(o_totalprice, 0.5)")
    exact_p90 = F.expr("percentile(o_totalprice, 0.9)")
    small = F.col("n_rows") < 100
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("o_totalprice", 0.9, 10000).alias("p90_approx"),
            exact_p50.alias("p50_exact"),
            exact_p90.alias("p90_exact"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "o_orderstatus",
            "max_price",
            (
                small
                | (
                    F.abs(F.col("p50_approx") - F.col("p50_exact"))
                    / F.col("p50_exact")
                    <= 0.02
                )
            ).alias("p50_within_2pct"),
            (
                small
                | (
                    F.abs(F.col("p90_approx") - F.col("p90_exact"))
                    / F.col("p90_exact")
                    <= 0.02
                )
            ).alias("p90_within_2pct"),
        )
    )


# ---------------------------------------------------------------------------
# A21 — winsorized statistics: per-group p05/p95 clamp then re-aggregate.
# The robust-metrics pattern for skewed money columns: the per-group
# percentile frame is tiny (|groups| rows), so the clamp is a broadcast
# join back onto the fact — two passes over the data, no extra wide
# shuffle. Spark's `percentile` and DuckDB's `quantile_cont` both
# linear-interpolate, so the bounds (and therefore the clamped sums)
# agree exactly.
# ---------------------------------------------------------------------------
@query(
    "a21_winsorized_stats",
    oracle="""
    WITH bounds AS (
        SELECT o_orderstatus,
               quantile_cont(o_totalprice, 0.05) AS lo,
               quantile_cont(o_totalprice, 0.95) AS hi
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderstatus,
           count(*) AS n,
           round(avg(o.o_totalprice), 4) AS raw_mean,
           round(avg(least(greatest(o.o_totalprice, b.lo), b.hi)), 4) AS winsor_mean,
           CAST(sum(CASE WHEN o.o_totalprice < b.lo OR o.o_totalprice > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM orders o JOIN bounds b ON o.o_orderstatus = b.o_orderstatus
    GROUP BY 1
    """,
)
def a21_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.05)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.95)").alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    outside = (F.col("o_totalprice") < F.col("lo")) | (
        F.col("o_totalprice") > F.col("hi")
    )
    return (
        orders.join(F.broadcast(bounds), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("raw_mean"),
            F.round(F.avg(clamped), 4).alias("winsor_mean"),
            F.sum(outside.cast("long")).alias("n_clamped"),
        )
    )


# ---------------------------------------------------------------------------
# A23 — per-group OLS regression (extendedprice ~ quantity) computed
# from DECIMAL-exact moment sums. regr_slope()/corr() on doubles are
# NOT cross-engine reproducible (accumulation order); here the five
# moments n, Σx, Σy, Σxy, Σx² (+ Σy²) are per-row-rounded DECIMAL
# accumulations — exact and order-independent — and the slope /
# intercept / r² arithmetic runs on doubles derived from those exact
# moments with the IDENTICAL expression shape on both engines, so every
# IEEE operation is deterministic. Same policy as catalog.dec_sum,
# extended to second-order moments. Scale: one scan, one partial-agg
# shuffle per group key — the cheapest possible distributed shape;
# this is how regression over 100 TB is actually run (moments compose
# across partitions; no iterative pass needed for 1-D OLS).
# ---------------------------------------------------------------------------
@query(
    "a23_regression_moments",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(27,4))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(27,4))) AS DOUBLE)
                   AS sy,
               CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(27,4)))
                    AS DOUBLE) AS sxy,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,4)))
                    AS DOUBLE) AS sxx,
               CAST(sum(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(27,4))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
               AS slope,
           floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                 * 1e6 + 0.5) / 1e6 AS intercept,
           floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1e6 + 0.5) / 1e6 AS r2
    FROM m ORDER BY 1
    """,
)
def a23_regression_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c: F.sum(c.cast("decimal(27,4)")).cast("double")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("l_quantity")).alias("sx"),
        dec(F.col("l_extendedprice")).alias("sy"),
        dec(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
        dec(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        dec(F.col("l_extendedprice") * F.col("l_extendedprice")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        r6(slope).alias("slope"),
        r6((sy - slope * sx) / n).alias("intercept"),
        r6(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# A25 — lag-1 autocorrelation of the daily revenue series. Two-stage:
# (1) daily sums, DECIMAL-exact; (2) lag pairs via a window over the
# ~thousands-of-rows daily series (bounded by calendar span, NOT by
# corpus size — an unpartitioned window is safe here and only here),
# then the correlation from DECIMAL-exact moment sums with identical
# double arithmetic on both engines (the a23 policy). The seasonality /
# momentum screen a finance team runs on revenue series.
# ---------------------------------------------------------------------------
@query(
    "a25_autocorrelation",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT rev AS y, lag(rev) OVER (ORDER BY day) AS x FROM daily
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(27,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(27,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * y AS DECIMAL(27,4))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x * x AS DECIMAL(27,4))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(27,4))) AS DOUBLE) AS syy
        FROM pairs WHERE x IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           floor((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 * 1e6 + 0.5) / 1e6 AS lag1_autocorr
    FROM m
    """,
)
def a25_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    pairs = daily.select(
        F.col("rev").alias("y"),
        F.lag("rev").over(Window.orderBy("day")).alias("x"),
    ).where(F.col("x").isNotNull())
    dec = lambda c, s: F.sum(c.cast(f"decimal(27,{s})")).cast("double")  # noqa: E731
    m = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("x"), 2).alias("sx"),
        dec(F.col("y"), 2).alias("sy"),
        dec(F.col("x") * F.col("y"), 4).alias("sxy"),
        dec(F.col("x") * F.col("x"), 4).alias("sxx"),
        dec(F.col("y") * F.col("y"), 4).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        n.cast("long").alias("n_pairs"),
        (F.floor(corr * 1e6 + F.lit(0.5)) / 1e6).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# A26 — Gini concentration of order revenue per market segment: the
# standard inequality screen ("what share of revenue do the top
# customers represent"). G = (2·Σ rank·x)/(n·Σx) − (n+1)/n over
# amounts sorted ascending within each segment; rank ties broken by
# orderkey so the ordering is total. Σx and Σ rank·x accumulate as
# DECIMALs (rank·x has the same 2-decimal resolution as x), the final
# expression runs on exact-moment doubles — the a23/a25 policy. The
# sort is a per-segment window, so the shuffle is one hash partition by
# segment and each partition sorts locally — no global sort at any
# scale (segments are the parallel unit; a single monster segment
# would range-partition by amount and offset ranks, documented).
# ---------------------------------------------------------------------------
@query(
    "a26_gini_concentration",
    oracle="""
    WITH ranked AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS x,
               row_number() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice, o.o_orderkey)
                   AS r
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m AS (
        SELECT seg, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(27,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(r * x AS DECIMAL(27,2))) AS DOUBLE) AS srx
        FROM ranked GROUP BY 1
    )
    SELECT seg, CAST(n AS BIGINT) AS n_orders,
           floor((2 * srx / (n * sx) - (n + 1) / n) * 1e6 + 0.5) / 1e6
               AS gini
    FROM m ORDER BY 1
    """,
)
def a26_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("seg").orderBy("x", "o_orderkey")
    ranked = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_totalprice").alias("x"),
            "o_orderkey",
        )
        .withColumn("r", F.row_number().over(w))
    )
    m = ranked.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(27,2)")).cast("double").alias("sx"),
        F.sum((F.col("r") * F.col("x")).cast("decimal(27,2)"))
        .cast("double")
        .alias("srx"),
    )
    n, sx, srx = F.col("n"), F.col("sx"), F.col("srx")
    gini = 2 * srx / (n * sx) - (n + 1) / n
    return m.select(
        "seg",
        n.cast("long").alias("n_orders"),
        (F.floor(gini * 1e6 + F.lit(0.5)) / 1e6).alias("gini"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# A27 — market-basket association rules over the order→part bipartite
# relation: for part pairs co-purchased in ≥2 orders, support,
# confidence and lift. The classic recommender screen on the data the
# reference pipeline lands. Pair generation is the co-purchase
# self-equi-join on l_orderkey (per-order fanout bounded by basket
# size², never all-pairs across orders — same shape as the graph
# operators); item and pair counts are equi-key shuffles; the order
# total is a 1-row scalar combined via broadcast. All inputs to the
# ratios are exact BIGINT counts, so the double divisions are
# bit-identical across engines (the a23 policy).
# ---------------------------------------------------------------------------
_BASKET_MIN_CO = 2


@query(
    "a27_market_basket",
    oracle=f"""
    WITH ip AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS co
        FROM ip a JOIN ip b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    item AS (SELECT l_partkey, count(*) AS cnt FROM ip GROUP BY 1),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ip)
    SELECT p.part_a, p.part_b, p.co AS co_orders,
           floor(CAST(p.co AS DOUBLE) / t.n_orders * 1e6 + 0.5) / 1e6
               AS support,
           floor(CAST(p.co AS DOUBLE) / ia.cnt * 1e6 + 0.5) / 1e6
               AS confidence,
           floor(CAST(p.co AS DOUBLE) * t.n_orders / (ia.cnt * ib.cnt)
                 * 1e6 + 0.5) / 1e6 AS lift
    FROM pairs p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b
    CROSS JOIN tot t
    WHERE p.co >= {_BASKET_MIN_CO}
    """,
)
def a27_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ip = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        ip.alias("a")
        .join(
            ip.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= _BASKET_MIN_CO)
    )
    item = ip.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = ip.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    co, n = F.col("co").cast("double"), F.col("n_orders")
    return (
        pairs.join(
            item.select(
                F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a")
            ),
            "part_a",
        )
        .join(
            item.select(
                F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            F.col("co").alias("co_orders"),
            r6(co / n).alias("support"),
            r6(co / F.col("cnt_a")).alias("confidence"),
            r6(co * n / (F.col("cnt_a") * F.col("cnt_b"))).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# A28 — Theil T inequality index of order revenue per market segment
# (complements the a26 Gini): T = (1/n) Σ (x/μ)·ln(x/μ). Two passes:
# per-segment exact moments give μ (identical double on both engines),
# then the per-row term is computed in doubles, rounded to
# DECIMAL(27,9) per row (the l_zipf_fit cross-libm policy: rounding
# BEFORE aggregation absorbs ulp drift in ln), and summed exactly.
# Segment count is tiny, so μ joins back via broadcast — no extra
# shuffle on the fact side beyond the one segment aggregation.
# ---------------------------------------------------------------------------
@query(
    "a28_theil_index",
    oracle="""
    WITH base AS (
        SELECT c.c_mktsegment AS seg, o.o_totalprice AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m AS (
        SELECT seg, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS DECIMAL(27,2))) AS DOUBLE) AS sx
        FROM base GROUP BY 1
    ),
    terms AS (
        SELECT b.seg,
               CAST((b.x / (m.sx / m.n)) * ln(b.x / (m.sx / m.n))
                    AS DECIMAL(27,9)) AS t
        FROM base b JOIN m ON b.seg = m.seg
    )
    SELECT t.seg, CAST(m.n AS BIGINT) AS n_orders,
           floor(CAST(sum(t.t) AS DOUBLE) / m.n * 1e6 + 0.5) / 1e6
               AS theil_t
    FROM terms t JOIN m ON t.seg = m.seg
    GROUP BY t.seg, m.n ORDER BY 1
    """,
)
def a28_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("x")
    )
    m = base.groupBy("seg").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(27,2)")).cast("double").alias("sx"),
    )
    mu = F.col("sx") / F.col("n")
    terms = base.join(F.broadcast(m), "seg").select(
        "seg",
        "n",
        ((F.col("x") / mu) * F.log(F.col("x") / mu))
        .cast("decimal(27,9)")
        .alias("t"),
    )
    return (
        terms.groupBy("seg", "n")
        .agg(F.sum("t").cast("double").alias("st"))
        .select(
            "seg",
            F.col("n").cast("long").alias("n_orders"),
            (F.floor(F.col("st") / F.col("n") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "theil_t"
            ),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# A29 — Mann-Kendall trend test statistic over the daily revenue
# series: S = Σ_{i<j} sign(rev_j − rev_i), τ_a = S / (n(n−1)/2). The
# nonparametric "is revenue trending" screen. Daily sums accumulate as
# DECIMAL(27,2), and the sign comparisons run ON the decimals — every
# pair verdict is exact, so S and τ are engine-portable. The pairwise
# self-join is over the DAILY series, which is calendar-bounded (like
# a25's window): ~10³ rows regardless of corpus size, broadcast as the
# build side — the one place a nested-loop pair join is the right plan
# at any scale.
# ---------------------------------------------------------------------------
@query(
    "a29_trend_mann_kendall",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               sum(CAST(o_totalprice AS DECIMAL(27,2))) AS rev
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN b.rev > a.rev THEN 1
                    WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    m AS (
        SELECT CAST(sum(sgn) AS BIGINT) AS s, count(*) AS n_pairs
        FROM pairs
    )
    SELECT m.s AS mk_s, m.n_pairs,
           floor(CAST(m.s AS DOUBLE) / m.n_pairs * 1e6 + 0.5) / 1e6
               AS kendall_tau
    FROM m
    """,
)
def a29_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("rev"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = (
        F.when(F.col("b.rev") > F.col("a.rev"), 1)
        .when(F.col("b.rev") < F.col("a.rev"), -1)
        .otherwise(0)
    )
    m = (
        a.join(F.broadcast(b), F.col("a.day") < F.col("b.day"))
        .select(sgn.alias("sgn"))
        .agg(
            F.sum("sgn").cast("long").alias("s"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    return m.select(
        F.col("s").alias("mk_s"),
        "n_pairs",
        (
            F.floor(F.col("s").cast("double") / F.col("n_pairs") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("kendall_tau"),
    )


# ---------------------------------------------------------------------------
# A30 — Welch's two-sample t-test between every pair of market
# segments on order value: "is segment A actually spending differently
# from segment B". t and the Welch–Satterthwaite df come in closed
# form from per-segment DECIMAL-exact moments (n, Σx, Σx²), so the
# whole test is one scan + a 5-row broadcast self-join — identical
# double arithmetic on both engines (the a23 policy; sample variance
# via the moment identity (Σx² − (Σx)²/n)/(n−1)).
# ---------------------------------------------------------------------------
@query(
    "a30_welch_ttest",
    oracle="""
    WITH m AS (
        SELECT c.c_mktsegment AS seg,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
                   AS sx,
               CAST(sum(CAST(o.o_totalprice * o.o_totalprice
                             AS DECIMAL(27,4))) AS DOUBLE) AS sxx
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    pairs AS (
        SELECT a.seg AS seg_a, b.seg AS seg_b,
               a.n AS na, b.n AS nb,
               a.sx / a.n AS ma, b.sx / b.n AS mb,
               (a.sxx - a.sx * a.sx / a.n) / (a.n - 1) AS va,
               (b.sxx - b.sx * b.sx / b.n) / (b.n - 1) AS vb
        FROM m a JOIN m b ON a.seg < b.seg
    )
    SELECT seg_a, seg_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           floor((ma - mb) / sqrt(va / na + vb / nb) * 1e6 + 0.5) / 1e6
               AS t_stat,
           floor((va / na + vb / nb) * (va / na + vb / nb)
                 / ((va / na) * (va / na) / (na - 1)
                    + (vb / nb) * (vb / nb) / (nb - 1)) * 1e6 + 0.5) / 1e6
               AS welch_df
    FROM pairs ORDER BY 1, 2
    """,
)
def a30_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("sx"),
            F.sum(
                (F.col("o_totalprice") * F.col("o_totalprice")).cast(
                    "decimal(27,4)"
                )
            )
            .cast("double")
            .alias("sxx"),
        )
    )
    a, b = m.alias("a"), m.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    ma, mb = F.col("a.sx") / na, F.col("b.sx") / nb
    va = (F.col("a.sxx") - F.col("a.sx") * F.col("a.sx") / na) / (na - 1)
    vb = (F.col("b.sxx") - F.col("b.sx") * F.col("b.sx") / nb) / (nb - 1)
    se2a, se2b = va / na, vb / nb
    r6 = lambda x: F.floor(x * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        a.join(F.broadcast(b), F.col("a.seg") < F.col("b.seg"))
        .select(
            F.col("a.seg").alias("seg_a"),
            F.col("b.seg").alias("seg_b"),
            na.cast("long").alias("n_a"),
            nb.cast("long").alias("n_b"),
            r6((ma - mb) / F.sqrt(se2a + se2b)).alias("t_stat"),
            r6(
                (se2a + se2b)
                * (se2a + se2b)
                / (se2a * se2a / (na - 1) + se2b * se2b / (nb - 1))
            ).alias("welch_df"),
        )
        .orderBy("seg_a", "seg_b")
    )


# ---------------------------------------------------------------------------
# A31 — CUSUM drift detection over the daily revenue series: the
# change-point monitor a finance/data-quality team runs on a pipeline
# output. To keep the cumulative sums EXACT (a running double sum is
# accumulation-order-portable only by luck), the deviation is scaled by
# n: C_t = Σ_{i≤t}(n·rev_i − Σrev) = n·prefix(rev) − t·Σrev — every
# term DECIMAL-exact, so the argmax day is an exact integer/decimal
# comparison on both engines; only the reported cusum value divides by
# n at the end. One daily aggregate + one calendar-bounded ordered
# window (the a25 shape).
# ---------------------------------------------------------------------------
@query(
    "a31_cusum_drift",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               sum(CAST(o_totalprice AS DECIMAL(27,2))) AS rev
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n, sum(rev) AS s FROM daily),
    cus AS (
        SELECT day,
               CAST(t.n AS DECIMAL(27,2)) * sum(d.rev) OVER w
                   - CAST(row_number() OVER w AS DECIMAL(27,2)) * t.s
                   AS c
        FROM daily d CROSS JOIN tot t
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT day AS drift_day,
           floor(CAST(abs(c) AS DOUBLE) / t.n * 1e6 + 0.5) / 1e6
               AS max_abs_cusum,
           CAST(t.n AS BIGINT) AS n_days
    FROM cus CROSS JOIN tot t
    ORDER BY abs(c) DESC, day LIMIT 1
    """,
)
def a31_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("rev"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("rev").alias("s")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cus = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "c",
            F.col("n").cast("decimal(27,2)") * F.sum("rev").over(w)
            - F.row_number().over(Window.orderBy("day")).cast("decimal(27,2)")
            * F.col("s"),
        )
    )
    return (
        cus.orderBy(F.abs(F.col("c")).desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("drift_day"),
            (
                F.floor(
                    F.abs(F.col("c")).cast("double") / F.col("n") * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("max_abs_cusum"),
            F.col("n").cast("long").alias("n_days"),
        )
    )


# ---------------------------------------------------------------------------
# A33 — skewness and excess kurtosis of order value per segment, from
# the first four moments in ONE scan. Per-row x³/x⁴ are computed in
# doubles and rounded to DECIMAL(38,6) BEFORE summation (the
# zipf/theil policy — x⁴ ≈ 1e23 would overflow exact decimal products,
# and round-then-sum is order-independent); x and x² accumulate as
# exact decimals. Final standardized moments are identical double
# arithmetic on both engines.
# ---------------------------------------------------------------------------
@query(
    "a33_skew_kurtosis",
    oracle="""
    WITH m AS (
        SELECT c.c_mktsegment AS seg,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
                   AS s1,
               CAST(sum(CAST(o.o_totalprice * o.o_totalprice
                             AS DECIMAL(27,4))) AS DOUBLE) AS s2,
               CAST(sum(CAST(o.o_totalprice * o.o_totalprice * o.o_totalprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS s3,
               CAST(sum(CAST(o.o_totalprice * o.o_totalprice
                             * o.o_totalprice * o.o_totalprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS s4
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    cm AS (
        SELECT seg, n,
               s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n)
                   + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                   + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM m
    )
    SELECT seg, CAST(n AS BIGINT) AS n_orders,
           floor(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) * 1e6 + 0.5) / 1e6
               AS skewness,
           floor((m4 / (m2 * m2) - 3) * 1e6 + 0.5) / 1e6 AS excess_kurtosis
    FROM cm ORDER BY 1
    """,
)
def a33_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    x = F.col("o_totalprice")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x.cast("decimal(27,2)")).cast("double").alias("s1"),
            F.sum((x * x).cast("decimal(27,4)")).cast("double").alias("s2"),
            F.sum((x * x * x).cast("decimal(38,6)")).cast("double").alias("s3"),
            F.sum((x * x * x * x).cast("decimal(38,6)"))
            .cast("double")
            .alias("s4"),
        )
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    r6 = lambda cexpr: F.floor(cexpr * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return m.select(
        "seg",
        n.cast("long").alias("n_orders"),
        r6(m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))).alias("skewness"),
        r6(m4 / (m2 * m2) - 3).alias("excess_kurtosis"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# A34 — price elasticity per brand: OLS slope of ln(quantity) on
# ln(price) over lineitems — "how demand responds to price", the
# pricing-analytics staple. The a23 moment machinery on
# log-transformed variables, with every per-row log rounded to
# DECIMAL(27,9) BEFORE the moment sums (the zipf cross-libm policy).
# One fact scan, one equi-join to part for the brand, one aggregate.
# ---------------------------------------------------------------------------
@query(
    "a34_price_elasticity",
    oracle="""
    WITH pts AS (
        SELECT p.p_brand AS brand,
               CAST(ln(CAST(l.l_quantity AS DOUBLE)) AS DECIMAL(27,9)) AS y,
               CAST(ln(l.l_extendedprice / l.l_quantity) AS DECIMAL(27,9))
                   AS x
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > 0
    ),
    m AS (
        SELECT brand, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             AS DECIMAL(27,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                             AS DECIMAL(27,9))) AS DOUBLE) AS sxx
        FROM pts GROUP BY 1
    )
    SELECT brand, CAST(n AS BIGINT) AS n_lines,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6 + 0.5) / 1e6
               AS elasticity
    FROM m ORDER BY 1
    """,
)
def a34_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = (
        li.where(F.col("l_quantity") > 0)
        .join(pt, li.l_partkey == pt.p_partkey)
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_quantity").cast("double"))
            .cast("decimal(27,9)")
            .alias("y"),
            F.log(F.col("l_extendedprice") / F.col("l_quantity"))
            .cast("decimal(27,9)")
            .alias("x"),
        )
    )
    m = pts.groupBy("brand").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            (F.col("x").cast("double") * F.col("y").cast("double")).cast(
                "decimal(27,9)"
            )
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("x").cast("double") * F.col("x").cast("double")).cast(
                "decimal(27,9)"
            )
        )
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    return m.select(
        "brand",
        n.cast("long").alias("n_lines"),
        (F.floor(slope * 1e6 + F.lit(0.5)) / 1e6).alias("elasticity"),
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# A38 — Spearman rank correlation (quantity vs unit price per return
# flag): Pearson on average ranks, the tie-correct formulation. Ranks
# come from rank() + (tie_count-1)/2 — a closed form both engines
# evaluate identically — and every rank product is cast to DECIMAL
# before summation (rank sums at sf0.1 exceed 2^53, where double
# accumulation order would flip low bits). One shuffle for the two
# rank windows (same partition key), one aggregate.
# ---------------------------------------------------------------------------
@query(
    "a38_spearman_corr",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS flag,
               CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice / l_quantity AS DOUBLE) AS y
        FROM lineitem WHERE l_quantity > 0
    ),
    ranked AS (
        SELECT flag,
               rank() OVER (PARTITION BY flag ORDER BY x)
                 + (count(*) OVER (PARTITION BY flag, x) - 1) / 2.0 AS rx,
               rank() OVER (PARTITION BY flag ORDER BY y)
                 + (count(*) OVER (PARTITION BY flag, y) - 1) / 2.0 AS ry
        FROM pts
    ),
    m AS (
        SELECT flag, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(rx AS DECIMAL(38,1))) AS DOUBLE) AS sx,
               CAST(sum(CAST(ry AS DECIMAL(38,1))) AS DOUBLE) AS sy,
               CAST(sum(CAST(rx * ry AS DECIMAL(38,2))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(rx * rx AS DECIMAL(38,2))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(ry * ry AS DECIMAL(38,2))) AS DOUBLE) AS syy
        FROM ranked GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n_lines,
           floor((n*sxy - sx*sy)
                 / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
                 * 1e6 + 0.5) / 1e6 AS spearman_rho
    FROM m ORDER BY flag
    """,
)
def a38_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 0)
        .select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("double").alias("x"),
            (F.col("l_extendedprice") / F.col("l_quantity"))
            .cast("double")
            .alias("y"),
        )
    )
    rx = (
        F.rank().over(Window.partitionBy("flag").orderBy("x"))
        + (F.count(F.lit(1)).over(Window.partitionBy("flag", "x")) - 1) / 2.0
    )
    ry = (
        F.rank().over(Window.partitionBy("flag").orderBy("y"))
        + (F.count(F.lit(1)).over(Window.partitionBy("flag", "y")) - 1) / 2.0
    )
    ranked = li.select("flag", rx.alias("rx"), ry.alias("ry"))
    m = ranked.groupBy("flag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("rx").cast("decimal(38,1)")).cast("double").alias("sx"),
        F.sum(F.col("ry").cast("decimal(38,1)")).cast("double").alias("sy"),
        F.sum((F.col("rx") * F.col("ry")).cast("decimal(38,2)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("rx") * F.col("rx")).cast("decimal(38,2)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast("decimal(38,2)"))
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    rho = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    )
    return m.select(
        "flag",
        n.cast("long").alias("n_lines"),
        (F.floor(rho * 1e6 + F.lit(0.5)) / 1e6).alias("spearman_rho"),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# A39 — chi-square test of independence (market segment × order
# priority): contingency counts are exact integers; expected counts and
# per-cell (obs-exp)^2/exp are IEEE-deterministic from them; the
# cross-cell sum is decimal-cast so accumulation order cannot flip low
# bits. Cramér's V rides along as the effect size. Plan: one join
# (customer broadcast at test SF), one count aggregate over 25 cells,
# then driver-free scalar algebra via cross-joined single-row totals.
# ---------------------------------------------------------------------------
@query(
    "a39_chi2_independence",
    oracle="""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
               count(*) AS obs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT cast(sum(obs) AS DOUBLE) AS n,
               cast(count(DISTINCT seg) AS DOUBLE) AS nr,
               cast(count(DISTINCT prio) AS DOUBLE) AS nc
        FROM cells
    ),
    mg AS (
        SELECT c.seg, c.prio, c.obs,
               sum(c.obs) OVER (PARTITION BY c.seg) AS row_tot,
               sum(c.obs) OVER (PARTITION BY c.prio) AS col_tot
        FROM cells c
    )
    SELECT CAST(t.n AS BIGINT) AS n_orders,
           CAST((t.nr - 1) * (t.nc - 1) AS BIGINT) AS dof,
           floor(sum(CAST(
               (m.obs - m.row_tot * m.col_tot / t.n)
               * (m.obs - m.row_tot * m.col_tot / t.n)
               / (m.row_tot * m.col_tot / t.n) AS DECIMAL(27,9)))::DOUBLE
               * 1e6 + 0.5) / 1e6 AS chi2,
           floor(sqrt(sum(CAST(
               (m.obs - m.row_tot * m.col_tot / t.n)
               * (m.obs - m.row_tot * m.col_tot / t.n)
               / (m.row_tot * m.col_tot / t.n) AS DECIMAL(27,9)))::DOUBLE
               / (t.n * least(t.nr - 1, t.nc - 1))) * 1e6 + 0.5) / 1e6
               AS cramers_v
    FROM mg m CROSS JOIN tot t
    GROUP BY t.n, t.nr, t.nc
    HAVING t.nr >= 2 AND t.nc >= 2
    """,
)
def a39_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cells = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    # marginals via windows over the tiny cell table (R×C rows)
    mg = cells.select(
        "seg",
        "prio",
        "obs",
        F.sum("obs").over(Window.partitionBy("seg")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("prio")).alias("col_tot"),
    )
    tot = cells.agg(
        F.sum("obs").cast("double").alias("n"),
        F.countDistinct("seg").cast("double").alias("nr"),
        F.countDistinct("prio").cast("double").alias("nc"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    cell_chi2 = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    agg = (
        mg.crossJoin(maybe_broadcast(tot))
        .groupBy("n", "nr", "nc")
        .agg(F.sum(cell_chi2.cast("decimal(27,9)")).cast("double").alias("chi2raw"))
    )
    r6 = lambda e: F.floor(e * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    # Independence is undefined on a 1×C or R×1 design (dof 0, and
    # Cramér's V would divide by zero) — emit nothing, like the oracle.
    return (
        agg.where((F.col("nr") >= 2) & (F.col("nc") >= 2))
        .select(
            F.col("n").cast("long").alias("n_orders"),
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            r6(F.col("chi2raw")).alias("chi2"),
            r6(
                F.sqrt(
                    F.col("chi2raw")
                    / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
                )
            ).alias("cramers_v"),
        )
    )


# ---------------------------------------------------------------------------
# A40 — Shannon entropy of the order-priority mix per market segment
# (plus normalized entropy = H/ln(k)): how concentrated each segment's
# priority distribution is. ln() is libm, so each per-cell p*ln(p) term
# is rounded to DECIMAL(27,9) before the cross-cell sum — the a34/zipf
# cross-libm policy. Cell counts are exact; one join + two tiny
# aggregates.
# ---------------------------------------------------------------------------
@query(
    "a40_category_entropy",
    oracle="""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
               count(*) AS obs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT seg, obs,
               sum(obs) OVER (PARTITION BY seg) AS seg_tot,
               count(*) OVER (PARTITION BY seg) AS k
        FROM cells
    )
    SELECT seg,
           CAST(max(seg_tot) AS BIGINT) AS n_orders,
           CAST(max(k) AS BIGINT) AS n_priorities,
           floor(-sum(CAST((obs / CAST(seg_tot AS DOUBLE))
                           * ln(obs / CAST(seg_tot AS DOUBLE))
                           AS DECIMAL(27,9)))::DOUBLE * 1e6 + 0.5) / 1e6
               AS entropy_nats,
           floor(-sum(CAST((obs / CAST(seg_tot AS DOUBLE))
                           * ln(obs / CAST(seg_tot AS DOUBLE))
                           AS DECIMAL(27,9)))::DOUBLE
                 / ln(CAST(max(k) AS DOUBLE)) * 1e6 + 0.5) / 1e6
               AS entropy_norm
    FROM m GROUP BY seg ORDER BY seg
    """,
)
def a40_category_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cells = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    w = Window.partitionBy("seg")
    m = cells.select(
        "seg",
        "obs",
        F.sum("obs").over(w).alias("seg_tot"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    p = F.col("obs") / F.col("seg_tot").cast("double")
    term = (p * F.log(p)).cast("decimal(27,9)")
    agg = m.groupBy("seg").agg(
        F.max("seg_tot").cast("long").alias("n_orders"),
        F.max("k").cast("long").alias("n_priorities"),
        (-F.sum(term)).cast("double").alias("hraw"),
    )
    r6 = lambda e: F.floor(e * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return agg.select(
        "seg",
        "n_orders",
        "n_priorities",
        r6(F.col("hraw")).alias("entropy_nats"),
        r6(F.col("hraw") / F.log(F.col("n_priorities").cast("double"))).alias(
            "entropy_norm"
        ),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# A41 — Herfindahl–Hirschman concentration of supplier revenue within
# each nation: HHI = Σ (100·share)² over suppliers, the antitrust
# measure (0..10000). Revenue sums are decimal-exact; shares and
# squares are IEEE-deterministic; the per-nation square sum is
# decimal-cast. Two aggregates pre-shuffled on the same key
# (supplier → nation), dims broadcast.
# ---------------------------------------------------------------------------
@query(
    "a41_herfindahl_index",
    oracle="""
    WITH srev AS (
        SELECT s.s_nationkey, l.l_suppkey,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(27,4))) AS DOUBLE) AS rev
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    m AS (
        SELECT s_nationkey, l_suppkey, rev,
               sum(CAST(rev AS DECIMAL(27,4)))
                   OVER (PARTITION BY s_nationkey) AS nat_rev
        FROM srev
    )
    SELECT n.n_name AS nation,
           count(*) AS n_suppliers,
           floor(sum(CAST(
               (100 * m.rev / CAST(m.nat_rev AS DOUBLE))
               * (100 * m.rev / CAST(m.nat_rev AS DOUBLE))
               AS DECIMAL(27,9)))::DOUBLE * 1e4 + 0.5) / 1e4 AS hhi
    FROM m JOIN nation n ON m.s_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def a41_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    srev = (
        li.join(maybe_broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(27,4)"
                )
            )
            .cast("double")
            .alias("rev")
        )
    )
    m = srev.withColumn(
        "nat_rev",
        F.sum(F.col("rev").cast("decimal(27,4)")).over(
            Window.partitionBy("s_nationkey")
        ),
    )
    share100 = 100 * F.col("rev") / F.col("nat_rev").cast("double")
    return (
        m.join(maybe_broadcast(n), m.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            (
                F.floor(
                    F.sum((share100 * share100).cast("decimal(27,9)")).cast(
                        "double"
                    )
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# A42 — linear-interpolation gap fill over the daily revenue series:
# build the full date spine, carry the nearest known value from each
# side (last_value/first_value IGNORE NULLS), and interpolate
# proportionally to the day offset. The time-series repair twin of
# q_date_spine_gapfill (which zero-fills). The spine is tiny (one row
# per day) regardless of fact size — the fact is pre-aggregated first.
# ---------------------------------------------------------------------------
@query(
    "a42_gapfill_interpolation",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)::DOUBLE
                   AS rev
        FROM orders GROUP BY 1
    ),
    spine AS (
        SELECT unnest(generate_series(
            (SELECT min(day) FROM daily),
            (SELECT max(day) FROM daily),
            INTERVAL 1 DAY))::DATE AS day
    ),
    joined AS (
        SELECT s.day, d.rev FROM spine s LEFT JOIN daily d USING (day)
    ),
    ctx AS (
        SELECT day, rev,
               last_value(rev IGNORE NULLS) OVER w_prev AS prev_rev,
               last_value(CASE WHEN rev IS NOT NULL THEN day END
                          IGNORE NULLS) OVER w_prev AS prev_day,
               first_value(rev IGNORE NULLS) OVER w_next AS next_rev,
               first_value(CASE WHEN rev IS NOT NULL THEN day END
                           IGNORE NULLS) OVER w_next AS next_day
        FROM joined
        WINDOW w_prev AS (ORDER BY day ROWS UNBOUNDED PRECEDING),
               w_next AS (ORDER BY day ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CASE WHEN rev IS NOT NULL THEN 0 ELSE 1 END AS was_gap,
           CASE
             WHEN rev IS NOT NULL THEN rev
             WHEN prev_rev IS NULL THEN next_rev
             WHEN next_rev IS NULL THEN prev_rev
             ELSE floor((prev_rev + (next_rev - prev_rev)
                  * (day - prev_day) / (next_day - prev_day))
                  * 100 + 0.5) / 100
           END AS rev_filled
    FROM ctx
    """,
)
def a42_gapfill_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(27,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    joined = spine.join(daily, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    known_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    ctx = joined.select(
        "day",
        "rev",
        F.last("rev", ignorenulls=True).over(w_prev).alias("prev_rev"),
        F.last(known_day, ignorenulls=True).over(w_prev).alias("prev_day"),
        F.first("rev", ignorenulls=True).over(w_next).alias("next_rev"),
        F.first(known_day, ignorenulls=True).over(w_next).alias("next_day"),
    )
    interp = F.col("prev_rev") + (F.col("next_rev") - F.col("prev_rev")) * (
        F.datediff(F.col("day"), F.col("prev_day"))
    ) / F.datediff(F.col("next_day"), F.col("prev_day"))
    return ctx.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("rev").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias(
            "was_gap"
        ),
        F.when(F.col("rev").isNotNull(), F.col("rev"))
        .when(F.col("prev_rev").isNull(), F.col("next_rev"))
        .when(F.col("next_rev").isNull(), F.col("prev_rev"))
        .otherwise(F.floor(interp * 100 + F.lit(0.5)) / 100)
        .alias("rev_filled"),
    )


# ---------------------------------------------------------------------------
# A43 — robust outlier detection via median absolute deviation: per
# order status, the modified z-score |x − median| / (1.4826·MAD)
# flagging count at the standard 3.5 cutoff. Survives the skewed/
# heavy-tailed distributions where mean±3σ (q_anomaly_zscore) breaks.
# Two exact medians (interpolated, a10 parity idiom) + one counting
# pass — three scans of the fact, each a map-side aggregate.
# ---------------------------------------------------------------------------
@query(
    "a43_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT o_orderstatus AS status,
               quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY 1
    ),
    mad AS (
        SELECT o.o_orderstatus AS status,
               quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad
        FROM orders o JOIN med m ON o.o_orderstatus = m.status
        GROUP BY 1
    )
    SELECT o.o_orderstatus AS status, count(*) AS n_orders,
           round(max(m.med), 4) AS median_price,
           round(max(d.mad), 4) AS mad,
           CAST(sum(CASE WHEN abs(o.o_totalprice - m.med)
                              > 3.5 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o
    JOIN med m ON o.o_orderstatus = m.status
    JOIN mad d ON o.o_orderstatus = d.status
    GROUP BY 1 ORDER BY 1
    """,
)
def a43_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    med = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    o_med = o.join(
        maybe_broadcast(med), o.o_orderstatus == med.status
    )
    mad = o_med.groupBy("status").agg(
        F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad")
    )
    scored = o.join(
        maybe_broadcast(med.withColumnRenamed("status", "st1")),
        o.o_orderstatus == F.col("st1"),
    ).join(
        maybe_broadcast(mad.withColumnRenamed("status", "st2")),
        o.o_orderstatus == F.col("st2"),
    )
    return (
        scored.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.max("med"), 4).alias("median_price"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("o_totalprice") - F.col("med"))
                    > 3.5 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# A44 — Wald–Wolfowitz runs test on the daily revenue series: is the
# above/below-median sequence random, or trending/mean-reverting? Runs
# counted via lag() over the (tiny) daily series; the z-statistic uses
# the closed-form mean/variance from exact integer counts. Days equal
# to the median are excluded (the standard treatment).
# ---------------------------------------------------------------------------
@query(
    "a44_runs_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)::DOUBLE
                   AS rev
        FROM orders GROUP BY 1
    ),
    med AS (SELECT quantile_cont(rev, 0.5) AS med FROM daily),
    signs AS (
        SELECT day, CASE WHEN rev > med THEN 1 ELSE 0 END AS sgn
        FROM daily CROSS JOIN med WHERE rev <> med
    ),
    runs AS (
        SELECT sgn,
               CASE WHEN lag(sgn) OVER (ORDER BY day) IS DISTINCT FROM sgn
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    agg AS (
        SELECT CAST(sum(new_run) AS DOUBLE) AS r,
               CAST(sum(sgn) AS DOUBLE) AS n1,
               CAST(count(*) - sum(sgn) AS DOUBLE) AS n2
        FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           floor((2 * n1 * n2 / (n1 + n2) + 1) * 1e6 + 0.5) / 1e6
               AS expected_runs,
           floor((r - (2 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))
                 * 1e6 + 0.5) / 1e6 AS z_score
    FROM agg
    """,
)
def a44_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(27,2)")), 2)
        .cast("double")
        .alias("rev")
    )
    med = daily.agg(F.expr("percentile(rev, 0.5)").alias("med"))
    signs = (
        daily.crossJoin(maybe_broadcast(med))
        .where(F.col("rev") != F.col("med"))
        .select(
            "day",
            F.when(F.col("rev") > F.col("med"), 1).otherwise(0).alias("sgn"),
        )
    )
    runs = signs.select(
        "sgn",
        F.when(
            ~F.lag("sgn").over(Window.orderBy("day")).eqNullSafe(F.col("sgn")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("double").alias("r"),
        F.sum("sgn").cast("double").alias("n1"),
        (F.count(F.lit(1)) - F.sum("sgn")).cast("double").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    e_r = 2 * n1 * n2 / (n1 + n2) + 1
    v_r = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    r6 = lambda e: F.floor(e * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return agg.select(
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        r6(e_r).alias("expected_runs"),
        r6((r - e_r) / F.sqrt(v_r)).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# A45 — weighted median unit price (weight = quantity) per return flag:
# the cumulative-weight formulation — sort by value, take the first row
# whose running weight reaches half the total. Exact integer/decimal
# arithmetic throughout (2·cum ≥ total on integer-scaled weights), so
# the oracle is bit-exact — no interpolation, the lower weighted
# median. The window runs over the (value, flag) rollup, not raw rows.
# ---------------------------------------------------------------------------
@query(
    "a45_weighted_median",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS flag,
               CAST(l_extendedprice / l_quantity AS DOUBLE) AS price,
               CAST(l_quantity AS BIGINT) AS wgt
        FROM lineitem WHERE l_quantity > 0
    ),
    rolled AS (
        SELECT flag, price, sum(wgt) AS wgt
        FROM pts GROUP BY flag, price
    ),
    cum AS (
        SELECT flag, price,
               sum(wgt) OVER (PARTITION BY flag ORDER BY price
                              ROWS UNBOUNDED PRECEDING) AS cum_w,
               sum(wgt) OVER (PARTITION BY flag) AS tot_w
        FROM rolled
    )
    SELECT flag,
           floor(min(price) * 1e6 + 0.5) / 1e6 AS weighted_median_price,
           CAST(max(tot_w) AS BIGINT) AS total_quantity
    FROM cum WHERE 2 * cum_w >= tot_w
    GROUP BY flag ORDER BY flag
    """,
)
def a45_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        (F.col("l_extendedprice") / F.col("l_quantity"))
        .cast("double")
        .alias("price"),
        F.col("l_quantity").cast("long").alias("wgt"),
    )
    rolled = pts.groupBy("flag", "price").agg(F.sum("wgt").alias("wgt"))
    cum = rolled.select(
        "flag",
        "price",
        F.sum("wgt")
        .over(
            Window.partitionBy("flag")
            .orderBy("price")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum_w"),
        F.sum("wgt").over(Window.partitionBy("flag")).alias("tot_w"),
    )
    return (
        cum.where(2 * F.col("cum_w") >= F.col("tot_w"))
        .groupBy("flag")
        .agg(
            (F.floor(F.min("price") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "weighted_median_price"
            ),
            F.max("tot_w").cast("long").alias("total_quantity"),
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# A46 — exact two-sample Kolmogorov–Smirnov test (urgent vs low-priority
# order totals). D is kept RATIONAL: at each distinct value the ECDF gap
# |c1·n2 − c2·n1| is an exact BIGINT numerator over the common n1·n2
# denominator, so the max is an integer comparison and only the final
# report divides. The critical value 1.358·sqrt((n1+n2)/(n1·n2)) uses
# only IEEE-correctly-rounded ops on integers, so the verdict is
# bit-identical cross-engine. Plan: one scan, one distinct-value
# aggregate, one running window over distinct totals. Scale note: the
# unpartitioned running window is the test-scale form — distinct order
# totals are data-sized, so at 100 TB this becomes the sharded
# prefix-sum (per-range-partition partials + broadcast offsets, the
# l_pack_sequences pattern) or a fixed quantile grid; documented, not
# needed at fixture scale.
# ---------------------------------------------------------------------------
@query(
    "a46_ks_test",
    oracle="""
    WITH pts AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    per_v AS (
        SELECT v, sum(g) AS c1, sum(1 - g) AS c2
        FROM pts GROUP BY v
    ),
    cum AS (
        SELECT v,
               sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
               sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2,
               sum(c1) OVER () AS n1,
               sum(c2) OVER () AS n2
        FROM per_v
    )
    SELECT CAST(max(n1) AS BIGINT) AS n_urgent,
           CAST(max(n2) AS BIGINT) AS n_low,
           floor(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                 / (max(n1) * max(n2)) * 1e6 + 0.5) / 1e6 AS ks_d,
           floor(1.358 * sqrt(CAST(max(n1) + max(n2) AS DOUBLE)
                              / (max(n1) * max(n2))) * 1e6 + 0.5) / 1e6
               AS ks_crit_05,
           CAST(max(abs(cum1 * n2 - cum2 * n1))
                > 1.358 * sqrt(CAST(max(n1) + max(n2) AS DOUBLE)
                               / (max(n1) * max(n2)))
                  * max(n1) * max(n2) AS BOOLEAN) AS distributions_differ
    FROM cum
    HAVING max(n1) > 0 AND max(n2) > 0  -- two-sample test needs both arms
    """,
)
def a46_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pts = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    per_v = pts.groupBy("v").agg(
        F.sum("g").alias("c1"), F.sum(1 - F.col("g")).alias("c2")
    )
    run = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    full = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_v.select(
        F.sum("c1").over(run).alias("cum1"),
        F.sum("c2").over(run).alias("cum2"),
        F.sum("c1").over(full).alias("n1"),
        F.sum("c2").over(full).alias("n2"),
    )
    gap = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    agg = cum.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(gap).alias("max_gap"),
    )
    n1, n2, mg = F.col("n1"), F.col("n2"), F.col("max_gap")
    crit = 1.358 * F.sqrt((n1 + n2).cast("double") / (n1 * n2))
    # A two-sample test with an empty arm is undefined — emit nothing.
    agg = agg.where((n1 > 0) & (n2 > 0))
    return agg.select(
        n1.cast("long").alias("n_urgent"),
        n2.cast("long").alias("n_low"),
        (F.floor(mg.cast("double") / (n1 * n2) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "ks_d"
        ),
        (F.floor(crit * 1e6 + F.lit(0.5)) / 1e6).alias("ks_crit_05"),
        (mg > crit * n1 * n2).alias("distributions_differ"),
    )


# ---------------------------------------------------------------------------
# A47 — Mann–Whitney U rank-sum test (urgent vs low-priority order
# totals), tie-corrected normal approximation. Pooled average ranks come
# from exact integers (rank + (t−1)/2, halves exact in binary); the
# rank-sum accumulates at DECIMAL(38,1); the tie term Σ(t³−t) is a pure
# BIGINT aggregate. z is closed-form IEEE arithmetic on those exact
# moments, floored at 1e-6. Plan: one scan, pooled rank window over the
# two groups, one aggregate — same unpartitioned-window scale note as
# a46 (sharded prefix-sum at 100 TB).
# ---------------------------------------------------------------------------
@query(
    "a47_mann_whitney_u",
    oracle="""
    WITH pts AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    ranked AS (
        SELECT g,
               rank() OVER (ORDER BY v)
                 + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS r,
               count(*) OVER (PARTITION BY v) AS t
        FROM pts
    ),
    m AS (
        SELECT CAST(sum(g) AS BIGINT) AS n1,
               CAST(sum(1 - g) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN g = 1
                             THEN CAST(r AS DECIMAL(38,1))
                             ELSE CAST(0 AS DECIMAL(38,1)) END)
                    AS DOUBLE) AS r1
        FROM ranked
    ),
    ties AS (
        SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
        FROM (SELECT count(*) AS t FROM pts GROUP BY v)
    )
    SELECT n1 AS n_urgent, n2 AS n_low,
           floor((r1 - n1 * (n1 + 1) / 2.0) * 10 + 0.5) / 10 AS u1,
           floor((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                        * ((n1 + n2 + 1)
                           - CAST(tie_term AS DOUBLE)
                             / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE))))
                 * 1e6 + 0.5) / 1e6 AS z_score
    FROM m, ties
    """,
)
def a47_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    pts = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    r = (
        F.rank().over(Window.orderBy("v"))
        + (F.count(F.lit(1)).over(Window.partitionBy("v")) - 1) / 2.0
    )
    ranked = pts.select(
        "g",
        r.alias("r"),
    )
    m = ranked.agg(
        F.sum("g").cast("long").alias("n1"),
        F.sum(1 - F.col("g")).cast("long").alias("n2"),
        F.sum(
            F.when(F.col("g") == 1, F.col("r").cast("decimal(38,1)")).otherwise(
                F.lit(0).cast("decimal(38,1)")
            )
        )
        .cast("double")
        .alias("r1"),
    )
    ties = (
        pts.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    j = m.crossJoin(ties)  # both sides are single rows
    n1, n2, r1 = F.col("n1"), F.col("n2"), F.col("r1")
    u1 = r1 - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    sigma = F.sqrt(
        n1.cast("double")
        * n2
        / 12.0
        * (
            (n1 + n2 + 1)
            - F.col("tie_term").cast("double")
            / ((n1 + n2) * (n1 + n2 - 1).cast("double"))
        )
    )
    return j.select(
        n1.alias("n_urgent"),
        n2.alias("n_low"),
        (F.floor(u1 * 10 + F.lit(0.5)) / 10).alias("u1"),
        (F.floor((u1 - mu) / sigma * 1e6 + F.lit(0.5)) / 1e6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# A48 — deterministic bootstrap confidence interval for mean daily
# revenue. Classic bootstrap resampling made engine-reproducible: the
# B×n index picks are md5('b:i') mod n — a pure function of (b, i), no
# RNG state — so both engines draw the SAME resamples. Resample sums
# accumulate at DECIMAL(38,2) (order-free); the CI bounds are exact
# order statistics (row_number over (sum, b), ranks ceil(0.025·B)=5 and
# ceil(0.975·B)=195 — no interpolation). Plan: daily aggregate (~2.4k
# rows, calendar-bounded) broadcast into a generated B×n pick table;
# the pick join is the only shuffle-ish step and the build side is the
# calendar, so at 100 TB the resample table scales with B×days, not
# with the fact table.
# ---------------------------------------------------------------------------
_BOOT_B = 200
# CI order-statistic ranks derive from _BOOT_B in ONE place so changing
# B can never desynchronize the Spark side from the oracle f-string.
_BOOT_LO = -(-25 * _BOOT_B // 1000)  # ceil(0.025·B)
_BOOT_HI = -(-975 * _BOOT_B // 1000)  # ceil(0.975·B)


@query(
    "a48_bootstrap_ci",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate AS day,
               sum(CAST(o_totalprice AS DECIMAL(27,2))) AS rev
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT row_number() OVER (ORDER BY day) AS idx, rev FROM daily
    ),
    nn AS (SELECT count(*) AS n FROM daily),
    picks AS (
        SELECT b.b,
               {h60_sql("CAST(b.b AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)",
                        "duckdb")} % (SELECT n FROM nn) + 1 AS pick
        FROM generate_series(1, {_BOOT_B}) AS b(b),
             generate_series(1, 4096) AS i(i)
        WHERE i.i <= (SELECT n FROM nn)
    ),
    means AS (
        SELECT p.b, sum(x.rev) AS sum_rev
        FROM picks p JOIN idx x ON x.idx = p.pick
        GROUP BY p.b
    ),
    ranked AS (
        SELECT sum_rev, row_number() OVER (ORDER BY sum_rev, b) AS rn
        FROM means
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_days,
           {_BOOT_B} AS b_resamples,
           (SELECT floor(CAST(sum(rev) AS DOUBLE) / max(nn.n) * 1e6 + 0.5)
                   / 1e6
            FROM daily, nn) AS mean_daily_rev,
           (SELECT floor(CAST(sum_rev AS DOUBLE) / (SELECT n FROM nn)
                         * 1e6 + 0.5) / 1e6
            FROM ranked WHERE rn = {_BOOT_LO}) AS ci_lo,
           (SELECT floor(CAST(sum_rev AS DOUBLE) / (SELECT n FROM nn)
                         * 1e6 + 0.5) / 1e6
            FROM ranked WHERE rn = {_BOOT_HI}) AS ci_hi
    FROM nn WHERE nn.n > 0  -- bootstrap of an empty series is undefined
    """,
)
def a48_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("rev"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("idx"), "rev"
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n"))
    picks = (
        # n > 0 guard: on an empty series sequence(1, 0) would DESCEND
        # ([1, 0]) and the pick modulo would divide by zero — the whole
        # statistic is undefined there, so emit nothing instead.
        nn.where(F.col("n") > 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"), "n"
        )
        .select("b", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"), "n")
        .select(
            "b",
            (
                F.expr(
                    h60_sql(
                        "concat(CAST(b AS STRING), ':', CAST(i AS STRING))",
                        "spark",
                    )
                )
                % F.col("n")
                + 1
            ).alias("pick"),
        )
    )
    means = (
        picks.join(F.broadcast(idx), idx.idx == picks.pick)
        .groupBy("b")
        .agg(F.sum("rev").alias("sum_rev"))
    )
    ranked = means.select(
        "sum_rev",
        F.row_number().over(Window.orderBy("sum_rev", "b")).alias("rn"),
    )
    n_col = nn.select(F.col("n"))
    full_mean = (
        daily.crossJoin(F.broadcast(n_col))
        .agg(
            (
                F.floor(
                    F.sum("rev").cast("double") / F.max("n") * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_daily_rev")
        )
    )
    lo = ranked.where(F.col("rn") == _BOOT_LO).select(
        F.col("sum_rev").alias("lo_sum")
    )
    hi = ranked.where(F.col("rn") == _BOOT_HI).select(
        F.col("sum_rev").alias("hi_sum")
    )
    out = (
        nn.crossJoin(full_mean).crossJoin(lo).crossJoin(hi)
    )  # all four sides are single rows
    return out.select(
        F.col("n").cast("long").alias("n_days"),
        F.lit(_BOOT_B).alias("b_resamples"),
        "mean_daily_rev",
        (
            F.floor(F.col("lo_sum").cast("double") / F.col("n") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("ci_lo"),
        (
            F.floor(F.col("hi_sum").cast("double") / F.col("n") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# A49 — weekly seasonal decomposition (STL-style, moving-average form):
# trend = centered 7-day revenue average over the calendar (RANGE window
# on epoch-day, so calendar gaps shrink the window and full-week rows
# are filtered by count==7); seasonal = per-weekday mean of the
# detrended series. Exactness: detrending stays RATIONAL — detr7 =
# 7·rev − Σ₇rev is an exact DECIMAL (never divide by 7 mid-pipeline) —
# and only the final per-weekday report divides, at matched expression
# shape. Weekday = epoch-days mod 7 (0 = Thursday): date-arithmetic, so
# both engines agree without locale/DOW-convention drift. Plan: daily
# aggregate, one calendar-bounded range window, 7-row report.
# ---------------------------------------------------------------------------
@query(
    "a49_weekly_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS dd,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,2)))
                    AS DECIMAL(27,2)) AS rev
        FROM orders GROUP BY 1
    ),
    win AS (
        SELECT dd, rev,
               sum(rev) OVER (ORDER BY dd
                              RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   AS trend_sum,
               count(*) OVER (ORDER BY dd
                              RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                   AS wcnt
        FROM daily
    ),
    detr AS (
        SELECT dd % 7 AS dow,
               CAST(7 AS DECIMAL(3,0)) * rev - trend_sum AS detr7,
               rev
        FROM win WHERE wcnt = 7
    )
    SELECT dow,
           CAST(count(*) AS BIGINT) AS n_days,
           floor(CAST(sum(detr7) AS DOUBLE) / count(*) / 7 * 1e6 + 0.5)
               / 1e6 AS seasonal_component,
           floor(CAST(sum(rev) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
               AS mean_daily_rev
    FROM detr GROUP BY dow ORDER BY dow
    """,
)
def a49_weekly_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("dd")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .alias("rev")
        )
    )
    w = Window.orderBy("dd").rangeBetween(-3, 3)
    win = daily.select(
        "dd",
        "rev",
        F.sum("rev").over(w).alias("trend_sum"),
        F.count(F.lit(1)).over(w).alias("wcnt"),
    )
    detr = win.where(F.col("wcnt") == 7).select(
        (F.col("dd") % 7).alias("dow"),
        (
            F.lit(7).cast("decimal(3,0)") * F.col("rev") - F.col("trend_sum")
        ).alias("detr7"),
        "rev",
    )
    return (
        detr.groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.floor(
                    F.sum("detr7").cast("double")
                    / F.count(F.lit(1))
                    / 7
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("seasonal_component"),
            (
                F.floor(
                    F.sum("rev").cast("double") / F.count(F.lit(1)) * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("mean_daily_rev"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# A50 — multiple regression (two regressors + intercept) by closed-form
# 3×3 normal equations: ln(quantity) on ln(unit price) and discount,
# per return flag. The distributed work is ONE scan producing the nine
# sufficient moments (n, Σx1, Σx2, Σy, Σx1², Σx1x2, Σx2², Σx1y, Σx2y) —
# the standard "sufficient statistics, not data" shape that scales to
# any corpus; per-row ln is rounded to DECIMAL(27,9) before the exact
# decimal summation (cross-libm policy, a34/a28), products of rounded
# logs round at DECIMAL(38,6). Cramer's rule solves the system in
# double arithmetic of identical shape on both engines (floored 1e-6).
# ---------------------------------------------------------------------------
@query(
    "a50_multiple_regression",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS flag,
               floor(ln(l_extendedprice / l_quantity) * 1e9 + 0.5) / 1e9 AS x1,
               CAST(l_discount AS DOUBLE) AS x2,
               floor(ln(l_quantity) * 1e9 + 0.5) / 1e9 AS y
        FROM lineitem WHERE l_quantity > 0
    ),
    m AS (
        SELECT flag, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x1 AS DECIMAL(27,9))) AS DOUBLE) AS s1,
               CAST(sum(CAST(x2 AS DECIMAL(27,9))) AS DOUBLE) AS s2,
               CAST(sum(CAST(y AS DECIMAL(27,9))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x1 * x1 AS DECIMAL(38,6))) AS DOUBLE) AS s11,
               CAST(sum(CAST(x1 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s12,
               CAST(sum(CAST(x2 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s22,
               CAST(sum(CAST(x1 * y AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
               CAST(sum(CAST(x2 * y AS DECIMAL(38,6))) AS DOUBLE) AS s2y
        FROM pts GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n_lines,
           floor((sy * (s11 * s22 - s12 * s12)
                  - s1y * (s1 * s22 - s12 * s2)
                  + s2y * (s1 * s12 - s11 * s2))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)) * 1e6 + 0.5) / 1e6
               AS intercept,
           floor((n * (s1y * s22 - s12 * s2y)
                  - s1 * (sy * s22 - s2 * s2y)
                  + s2 * (sy * s12 - s2 * s1y))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)) * 1e6 + 0.5) / 1e6
               AS beta_ln_price,
           floor((n * (s11 * s2y - s1y * s12)
                  - s1 * (s1 * s2y - sy * s12)
                  + s2 * (s1 * s1y - sy * s11))
                 / (n * (s11 * s22 - s12 * s12)
                    - s1 * (s1 * s22 - s12 * s2)
                    + s2 * (s1 * s12 - s11 * s2)) * 1e6 + 0.5) / 1e6
               AS beta_discount
    FROM m ORDER BY flag
    """,
)
def a50_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    r9 = lambda c: F.floor(c * 1e9 + F.lit(0.5)) / 1e9
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        r9(F.log(F.col("l_extendedprice") / F.col("l_quantity"))).alias("x1"),
        F.col("l_discount").cast("double").alias("x2"),
        r9(F.log(F.col("l_quantity"))).alias("y"),
    )
    d6 = lambda a, b: F.sum((F.col(a) * F.col(b)).cast("decimal(38,6)")).cast(
        "double"
    )
    m = pts.groupBy("flag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x1").cast("decimal(27,9)")).cast("double").alias("s1"),
        F.sum(F.col("x2").cast("decimal(27,9)")).cast("double").alias("s2"),
        F.sum(F.col("y").cast("decimal(27,9)")).cast("double").alias("sy"),
        d6("x1", "x1").alias("s11"),
        d6("x1", "x2").alias("s12"),
        d6("x2", "x2").alias("s22"),
        d6("x1", "y").alias("s1y"),
        d6("x2", "y").alias("s2y"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    b0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1y * (s1 * s22 - s12 * s2)
        + s2y * (s1 * s12 - s11 * s2)
    ) / det
    b1 = (
        n * (s1y * s22 - s12 * s2y)
        - s1 * (sy * s22 - s2 * s2y)
        + s2 * (sy * s12 - s2 * s1y)
    ) / det
    b2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - sy * s12)
        + s2 * (s1 * s1y - sy * s11)
    ) / det
    fl = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6
    return m.select(
        "flag",
        n.cast("long").alias("n_lines"),
        fl(b0).alias("intercept"),
        fl(b1).alias("beta_ln_price"),
        fl(b2).alias("beta_discount"),
    ).orderBy("flag")


# ---------------------------------------------------------------------------
# A51 — count-min sketch heavy hitters: the mergeable streaming-sketch
# answer to "top terms without a full vocabulary" — d=4 md5 hash rows ×
# w=256 counters, every cell an exact BIGINT (the sketch aggregate is
# one groupBy over (row, bucket) — 1024 cells total regardless of
# corpus size, trivially mergeable across shards/days). The report
# joins the true top-10 terms (exact counts, for calibration) against
# their 4 cells and takes the min — the CMS estimate — with the
# overestimate delta made visible. Everything is integer; the hash
# family is the engine-portable md5-60bit idiom.
# ---------------------------------------------------------------------------
_CMS_W = 256
_CMS_D = 4


@query(
    "a51_countmin_heavy_hitters",
    oracle=f"""
    WITH words AS (
        SELECT unnest({tokens_sql('duckdb')}) AS w FROM documents
    ),
    true_counts AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1),
    cells AS (
        SELECT r.r,
               {h60_sql("tc.w || '#cm' || CAST(r.r AS VARCHAR)", "duckdb")}
                   % {_CMS_W} AS bucket,
               sum(tc.cnt) AS cell
        FROM true_counts tc, (SELECT unnest(range({_CMS_D})) AS r) r
        GROUP BY 1, 2
    ),
    top AS (
        SELECT w, cnt,
               row_number() OVER (ORDER BY cnt DESC, w) AS rk
        FROM true_counts
    ),
    probe AS (
        SELECT t.w, t.cnt, t.rk, r.r,
               {h60_sql("t.w || '#cm' || CAST(r.r AS VARCHAR)", "duckdb")}
                   % {_CMS_W} AS bucket
        FROM top t, (SELECT unnest(range({_CMS_D})) AS r) r
        WHERE t.rk <= 10
    )
    SELECT p.w AS term, CAST(max(p.cnt) AS BIGINT) AS true_count,
           CAST(min(c.cell) AS BIGINT) AS cms_estimate,
           CAST(min(c.cell) - max(p.cnt) AS BIGINT) AS overestimate
    FROM probe p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
    GROUP BY p.w
    ORDER BY true_count DESC, term
    """,
)
def a51_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    words = load(spark, sf_dir, "documents").select(
        F.explode(tokens()).alias("w")
    )
    true_counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    cms_hash = h60_sql("concat(w, '#cm', CAST(r AS STRING))", "spark")
    rows = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("r")
    hashed = true_counts.select("w", "cnt", rows).withColumn(
        "bucket",
        F.expr(f"{cms_hash} % {_CMS_W}"),
    )
    cells = hashed.groupBy("r", "bucket").agg(F.sum("cnt").alias("cell"))
    top = true_counts.select(
        "w",
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "w"))
        .alias("rk"),
    ).where(F.col("rk") <= 10)
    probe = top.select("w", "cnt", "rk", rows).withColumn(
        "bucket",
        F.expr(f"{cms_hash} % {_CMS_W}"),
    )
    return (
        probe.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy(F.col("w").alias("term"))
        .agg(
            F.max("cnt").cast("long").alias("true_count"),
            F.min("cell").cast("long").alias("cms_estimate"),
            (F.min("cell") - F.max("cnt")).cast("long").alias("overestimate"),
        )
        .orderBy(F.col("true_count").desc(), "term")
    )


# ---------------------------------------------------------------------------
# A52 — deterministic sample-quantile sketch with calibration: estimate
# p50/p90/p99 of order totals from a k=500 md5-ranked sample (the
# engine-portable stand-in for a reservoir — rank by md5(key) is a
# uniform draw both engines reproduce) and report each estimate NEXT TO
# the exact percentile and its relative error. The production claim is
# the mergeable shape: per-shard md5-top-k samples union-merge into a
# corpus top-k (associative min-rank), so quantile estimates at 100 TB
# cost one tree-reduce of k-sized samples; the exact side here is the
# audit that the fixture-scale error is tiny. Order statistics use
# ceil(q·n) ranks over (value, key) total orders — no interpolation.
# ---------------------------------------------------------------------------
_SQ_K = 500


@query(
    "a52_sample_quantile_sketch",
    oracle=f"""
    WITH o AS (
        SELECT o_totalprice AS v, o_orderkey AS okey FROM orders
    ),
    nn AS (SELECT count(*) AS n, least(count(*), {_SQ_K}) AS k FROM o),
    samp AS (
        SELECT v, row_number() OVER (ORDER BY v, okey) AS rs
        FROM (
            SELECT v, okey,
                   row_number() OVER (
                       ORDER BY md5(CAST(okey AS VARCHAR)), okey) AS rm
            FROM o
        ) WHERE rm <= (SELECT k FROM nn)
    ),
    exact AS (
        SELECT v, row_number() OVER (ORDER BY v, okey) AS re FROM o
    ),
    qs(q) AS (VALUES (0.50), (0.90), (0.99))
    SELECT q,
           (SELECT s.v FROM samp s, nn
            WHERE s.rs = CAST(ceil(q * nn.k) AS BIGINT)) AS est,
           (SELECT e.v FROM exact e, nn
            WHERE e.re = CAST(ceil(q * nn.n) AS BIGINT)) AS exact_value,
           floor(abs((SELECT s.v FROM samp s, nn
                      WHERE s.rs = CAST(ceil(q * nn.k) AS BIGINT))
                     - (SELECT e.v FROM exact e, nn
                        WHERE e.re = CAST(ceil(q * nn.n) AS BIGINT)))
                 / (SELECT e.v FROM exact e, nn
                    WHERE e.re = CAST(ceil(q * nn.n) AS BIGINT))
                 * 1e6 + 0.5) / 1e6 AS rel_error
    FROM qs, nn
    WHERE nn.n > 0  -- quantiles of an empty relation are undefined
    ORDER BY q
    """,
)
def a52_sample_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), F.col("o_orderkey").alias("okey")
    )
    nn = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.least(F.count(F.lit(1)), F.lit(_SQ_K)).alias("k"),
    )
    samp = (
        o.select(
            "v",
            "okey",
            F.row_number()
            .over(Window.orderBy(F.md5(F.col("okey").cast("string")), "okey"))
            .alias("rm"),
        )
        .crossJoin(F.broadcast(nn.select(F.col("k").alias("_k"))))
        .where(F.col("rm") <= F.col("_k"))
        .select(
            "v", F.row_number().over(Window.orderBy("v", "okey")).alias("rs")
        )
    )
    exact = o.select(
        "v", F.row_number().over(Window.orderBy("v", "okey")).alias("re")
    )
    qs = local_frame(spark, [(0.50,), (0.90,), (0.99,)], "q DOUBLE")
    est = (
        qs.crossJoin(F.broadcast(nn))
        .join(
            F.broadcast(samp),
            F.col("rs") == F.ceil(F.col("q") * F.col("k")).cast("long"),
        )
        .select("q", "n", F.col("v").alias("est"))
        .join(
            exact,
            F.col("re") == F.ceil(F.col("q") * F.col("n")).cast("long"),
        )
        .select("q", "est", F.col("v").alias("exact_value"))
    )
    return est.select(
        "q",
        "est",
        "exact_value",
        (
            F.floor(
                F.abs(F.col("est") - F.col("exact_value"))
                / F.col("exact_value")
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("rel_error"),
    ).orderBy("q")


# ---------------------------------------------------------------------------
# A53 — KMV (k-minimum-values) distinct sketch with set operations:
# the mergeable theta-sketch construction — keep the k smallest
# md5-60bit hashes of each set; the k-th minimum h_k estimates
# distinct count as (k−1)·2^60/h_k, and the union sketch is just the
# min-k of the merged minima (associative → per-shard sketches
# tree-reduce). Intersection comes from inclusion–exclusion. Here: the
# customer populations of the two calendar halves, estimates NEXT TO
# exact counts with relative error — the audit before trusting the
# sketch at 100 TB where the exact side is unaffordable. Sets smaller
# than k degrade gracefully to exact counting (estimator = n).
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_DOM = float(2**60)


@query(
    "a53_kmv_distinct_sketch",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT
               CASE WHEN o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
                    THEN 0 ELSE 1 END AS p,
               {h60_sql("CAST(o_custkey AS VARCHAR)", "duckdb")} AS hv
        FROM orders
    ),
    ranked AS (
        SELECT p, hv, row_number() OVER (PARTITION BY p ORDER BY hv) AS rk,
               count(*) OVER (PARTITION BY p) AS n
        FROM h
    ),
    est AS (
        SELECT p,
               CASE WHEN max(n) < {_KMV_K} THEN CAST(max(n) AS DOUBLE)
                    ELSE ({_KMV_K} - 1) * {_KMV_DOM}
                         / max(CASE WHEN rk = {_KMV_K} THEN hv END)
               END AS e,
               CAST(max(n) AS BIGINT) AS exact_n
        FROM ranked GROUP BY p
    ),
    uh AS (SELECT DISTINCT hv FROM h),
    uranked AS (
        SELECT hv, row_number() OVER (ORDER BY hv) AS rk,
               count(*) OVER () AS n
        FROM uh
    ),
    uest AS (
        SELECT CASE WHEN max(n) < {_KMV_K} THEN CAST(max(n) AS DOUBLE)
                    ELSE ({_KMV_K} - 1) * {_KMV_DOM}
                         / max(CASE WHEN rk = {_KMV_K} THEN hv END)
               END AS e,
               CAST(max(n) AS BIGINT) AS exact_n
        FROM uranked
    )
    SELECT a.exact_n AS exact_p0, floor(a.e * 1e2 + 0.5) / 1e2 AS est_p0,
           b.exact_n AS exact_p1, floor(b.e * 1e2 + 0.5) / 1e2 AS est_p1,
           u.exact_n AS exact_union,
           floor(u.e * 1e2 + 0.5) / 1e2 AS est_union,
           floor((a.e + b.e - u.e) * 1e2 + 0.5) / 1e2 AS est_intersection,
           floor(abs(u.e - u.exact_n) / u.exact_n * 1e6 + 0.5) / 1e6
               AS union_rel_error
    FROM (SELECT * FROM est WHERE p = 0) a,
         (SELECT * FROM est WHERE p = 1) b, uest u
    """,
)
def a53_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    h = (
        load(spark, sf_dir, "orders")
        .select(
            F.when(F.col("o_orderdate") < F.lit("1998-06-01"), 0)
            .otherwise(1)
            .alias("p"),
            F.expr(h60_sql("CAST(o_custkey AS STRING)", "spark")).alias("hv"),
        )
        .distinct()
    )

    def kmv_est(df: DataFrame, part_cols: list) -> DataFrame:
        pw = (
            Window.partitionBy(*part_cols)
            if part_cols
            else Window.partitionBy(F.lit(1))
        )
        ranked = df.select(
            *part_cols,
            "hv",
            F.row_number().over(pw.orderBy("hv")).alias("rk"),
            F.count(F.lit(1)).over(pw).alias("n"),
        )
        kth = F.max(F.when(F.col("rk") == _KMV_K, F.col("hv")))
        return ranked.groupBy(*part_cols).agg(
            F.when(F.max("n") < _KMV_K, F.max("n").cast("double"))
            .otherwise(F.lit((_KMV_K - 1) * _KMV_DOM) / kth)
            .alias("e"),
            F.max("n").cast("long").alias("exact_n"),
        )

    est = kmv_est(h, ["p"])
    uest = kmv_est(h.select("hv").distinct(), [])
    a = est.where(F.col("p") == 0).select(
        F.col("e").alias("ea"), F.col("exact_n").alias("exact_p0")
    )
    b = est.where(F.col("p") == 1).select(
        F.col("e").alias("eb"), F.col("exact_n").alias("exact_p1")
    )
    u = uest.select(
        F.col("e").alias("eu"), F.col("exact_n").alias("exact_union")
    )
    f2 = lambda c: F.floor(c * 1e2 + F.lit(0.5)) / 1e2
    return (
        a.crossJoin(b)
        .crossJoin(u)
        .select(
            "exact_p0",
            f2(F.col("ea")).alias("est_p0"),
            "exact_p1",
            f2(F.col("eb")).alias("est_p1"),
            "exact_union",
            f2(F.col("eu")).alias("est_union"),
            f2(F.col("ea") + F.col("eb") - F.col("eu")).alias(
                "est_intersection"
            ),
            (
                F.floor(
                    F.abs(F.col("eu") - F.col("exact_union"))
                    / F.col("exact_union")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("union_rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# A54 — decile lift / gains table: customers ranked by lifetime spend,
# split into 10 equal-count deciles, with per-decile revenue share,
# cumulative (gains-curve) share and lift vs the uniform 10% baseline
# — the classic campaign-targeting report (q_pareto_8020's full-curve
# sibling). Exact: integer-cent sums; ntile over (spend DESC, custkey)
# is a total order so both engines cut identical deciles; shares
# floored at 1e-6. The ranked sort runs on the CUSTOMER rollup (dim-
# sized, not fact-sized); at 100 TB substitute approx_percentile
# spend-boundary bucketing for the ntile (SCALE.md global-sort table).
# ---------------------------------------------------------------------------
@query(
    "a54_decile_lift_table",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT o_custkey, cents,
               ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
        FROM spend
    ),
    agg AS (
        SELECT decile, count(*) AS n_customers, sum(cents) AS c
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_customers,
           floor(CAST(c AS DOUBLE) / 100 * 1e2 + 0.5) / 1e2 AS revenue,
           floor(CAST(c AS DOUBLE) * 1e6
                 / (SELECT sum(c) FROM agg) + 0.5) / 1e6 AS share,
           floor(CAST(sum(c) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) * 1e6
                 / (SELECT sum(c) FROM agg) + 0.5) / 1e6 AS cum_share,
           floor(CAST(c AS DOUBLE) * 10 * 1e4
                 / (SELECT sum(c) FROM agg) + 0.5) / 1e4 AS lift
    FROM agg ORDER BY decile
    """,
)
def a54_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    spend = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    ranked = spend.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy(F.col("cents").desc(), "o_custkey"))
        .alias("decile"),
    )
    agg = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("cents").alias("c")
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = F.sum("c").over(full)
    return agg.select(
        "decile",
        "n_customers",
        (F.floor(F.col("c").cast("double") / 100 * 1e2 + F.lit(0.5)) / 1e2).alias(
            "revenue"
        ),
        (
            F.floor(F.col("c").cast("double") * 1e6 / tot + F.lit(0.5)) / 1e6
        ).alias("share"),
        (
            F.floor(
                F.sum("c").over(cum).cast("double") * 1e6 / tot + F.lit(0.5)
            )
            / 1e6
        ).alias("cum_share"),
        (
            F.floor(
                F.col("c").cast("double") * 10 * 1e4 / tot + F.lit(0.5)
            )
            / 1e4
        ).alias("lift"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# A55 — two-proportion z-test on conversion rates: users split A/B by
# user_id parity (the deterministic assignment an experimentation
# platform would persist), conversion = user ever fired a purchase
# event, pooled-variance z statistic. The companion to a30's Welch
# test (means) for binary outcomes — the most common A/B readout
# there is. Counts are exact integers from one user-grain aggregate;
# the z arithmetic runs on exact integer inputs so both engines
# compute identical doubles, floored at 1e-6. Two-sided normal
# p-value left to the caller (erf is not portable) — |z| vs 1.96 is
# emitted as the unconditional significance boolean instead.
# ---------------------------------------------------------------------------
@query(
    "a55_two_proportion_ztest",
    oracle="""
    WITH u AS (
        SELECT user_id % 2 AS grp,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT grp, count(*) AS n, sum(conv) AS x FROM u GROUP BY 1
    ),
    w AS (
        SELECT max(CASE WHEN grp = 0 THEN n END) AS n0,
               max(CASE WHEN grp = 0 THEN x END) AS x0,
               max(CASE WHEN grp = 1 THEN n END) AS n1,
               max(CASE WHEN grp = 1 THEN x END) AS x1
        FROM g
    ),
    calc AS (
        SELECT n0, x0, n1, x1,
               CAST(x0 AS DOUBLE) / n0 AS p0,
               CAST(x1 AS DOUBLE) / n1 AS p1,
               CAST(x0 + x1 AS DOUBLE) / (n0 + n1) AS pp
        FROM w
    )
    SELECT CAST(n0 AS BIGINT) AS n_a, CAST(x0 AS BIGINT) AS conv_a,
           CAST(n1 AS BIGINT) AS n_b, CAST(x1 AS BIGINT) AS conv_b,
           floor(p0 * 1e6 + 0.5) / 1e6 AS rate_a,
           floor(p1 * 1e6 + 0.5) / 1e6 AS rate_b,
           CASE WHEN pp * (1 - pp) = 0 THEN NULL
                ELSE floor((p0 - p1)
                     / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
                     * 1e6 + 0.5) / 1e6 END AS z,
           CASE WHEN pp IS NULL OR pp * (1 - pp) = 0 THEN NULL
                WHEN abs((p0 - p1)
                     / sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))) > 1.96
                THEN 1 ELSE 0 END AS significant_95
    FROM calc
    """,
)
def a55_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("grp"), "conv")
    )
    g = u.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("x")
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("x"))).alias("x1"),
    )
    p0 = F.col("x0").cast("double") / F.col("n0")
    p1 = F.col("x1").cast("double") / F.col("n1")
    pp = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    # Degenerate pooled variance (everyone or no one converted):
    # z undefined -> NULL on both engines, never a division crash.
    var = pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    zraw = F.when(
        pp * (1 - pp) == 0, F.lit(None).cast("double")
    ).otherwise((p0 - p1) / F.sqrt(var))
    return w.select(
        F.col("n0").cast("long").alias("n_a"),
        F.col("x0").cast("long").alias("conv_a"),
        F.col("n1").cast("long").alias("n_b"),
        F.col("x1").cast("long").alias("conv_b"),
        (F.floor(p0 * 1e6 + F.lit(0.5)) / 1e6).alias("rate_a"),
        (F.floor(p1 * 1e6 + F.lit(0.5)) / 1e6).alias("rate_b"),
        (F.floor(zraw * 1e6 + F.lit(0.5)) / 1e6).alias("z"),
        F.when(zraw.isNull(), F.lit(None).cast("int"))
        .otherwise((F.abs(zraw) > 1.96).cast("int"))
        .alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# a56 — Poisson dispersion test on daily order arrivals. The classic
# count-process health check (is arrival variance ~ mean, or is traffic
# bursty?): dispersion index D = s²/x̄ over daily counts and the chi²
# form (n-1)·D vs its 95% normal-approx critical value. Everything up
# to the final ratios is INTEGER arithmetic (counts, Σc, Σc²), so the
# oracle matches exactly; at 100 TB this is one date-grouped count
# aggregate (map-side partial) + a 1-row reduce.
# ---------------------------------------------------------------------------
@query(
    "a56_poisson_dispersion",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               count(*) AS c
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS q FROM daily
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS total_orders,
           floor(CAST(s AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS mean_per_day,
           floor(CAST(n * q - s * s AS DOUBLE)
                 / CAST((n - 1) * s AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS dispersion_index,
           floor(CAST(n * q - s * s AS DOUBLE)
                 / CAST(s AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2_stat,
           CASE WHEN CAST(n * q - s * s AS DOUBLE) / CAST(s AS DOUBLE)
                     > (n - 1) + 2 * sqrt(2.0 * (n - 1))
                THEN 1 ELSE 0 END AS overdispersed
    FROM t
    WHERE n >= 2 AND s > 0  -- dispersion undefined below 2 days
    """,
)
def a56_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    num = (F.col("n") * F.col("q") - F.col("s") * F.col("s")).cast("double")
    chi2 = num / F.col("s").cast("double")
    # Dispersion of an empty/one-day series is undefined (and the n-1
    # critical value would take sqrt of a negative) — emit nothing.
    t = t.where((F.col("n") >= 2) & (F.col("s") > 0))
    return t.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("total_orders"),
        (F.floor(F.col("s").cast("double") / F.col("n") * 1e6 + F.lit(0.5))
         / 1e6).alias("mean_per_day"),
        (F.floor(num / ((F.col("n") - 1) * F.col("s")).cast("double") * 1e6
                 + F.lit(0.5)) / 1e6).alias("dispersion_index"),
        (F.floor(chi2 * 1e6 + F.lit(0.5)) / 1e6).alias("chi2_stat"),
        F.when(
            chi2 > (F.col("n") - 1) + 2 * F.sqrt(2.0 * (F.col("n") - 1)),
            1,
        ).otherwise(0).alias("overdispersed"),
    )


# ---------------------------------------------------------------------------
# a57 — Kendall tau-b rank correlation between time and monthly revenue
# per market segment (monotone-trend strength, the rank twin of a29's
# Mann-Kendall). Concordant/discordant/tied counts are exact integers
# from a within-segment month-pair self-join — months per segment are
# bounded (tens), so the pair join is O(seg · months²), never corpus².
# Revenue is compared as DECIMAL, so tie detection is exact.
# ---------------------------------------------------------------------------
@query(
    "a57_kendall_tau",
    oracle="""
    WITH monthly AS (
        SELECT c.c_mktsegment AS seg,
               strftime(o.o_orderdate, '%Y-%m') AS mon,
               sum(CAST(o.o_totalprice AS DECIMAL(27,2))) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.seg,
               sum(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END) AS conc,
               sum(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END) AS disc,
               sum(CASE WHEN b.rev = a.rev THEN 1 ELSE 0 END) AS tied
        FROM monthly a JOIN monthly b
          ON a.seg = b.seg AND a.mon < b.mon
        GROUP BY 1
    ),
    n AS (SELECT seg, count(*) AS n_months FROM monthly GROUP BY 1)
    SELECT n.seg, CAST(n.n_months AS BIGINT) AS n_months,
           CAST(p.conc AS BIGINT) AS concordant,
           CAST(p.disc AS BIGINT) AS discordant,
           CAST(p.tied AS BIGINT) AS tied,
           floor(CAST(p.conc - p.disc AS DOUBLE)
                 / sqrt(CAST(n.n_months * (n.n_months - 1) / 2 AS DOUBLE)
                        * CAST(n.n_months * (n.n_months - 1) / 2 - p.tied
                               AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS tau_b
    FROM n JOIN pairs p ON n.seg = p.seg
    ORDER BY 1
    """,
)
def a57_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("rev"))
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.mon") < F.col("b.mon")),
        )
        .groupBy(F.col("a.seg").alias("seg"))
        .agg(
            F.sum(
                F.when(F.col("b.rev") > F.col("a.rev"), 1).otherwise(0)
            ).alias("conc"),
            F.sum(
                F.when(F.col("b.rev") < F.col("a.rev"), 1).otherwise(0)
            ).alias("disc"),
            F.sum(
                F.when(F.col("b.rev") == F.col("a.rev"), 1).otherwise(0)
            ).alias("tied"),
        )
    )
    n = monthly.groupBy("seg").agg(F.count(F.lit(1)).alias("n_months"))
    # Exact C(n,2) in int64 (shiftright of the even product — matches
    # the oracle's integer `//`; no double-division drift past 2^53).
    n0 = F.shiftright(
        F.col("n_months").cast("long") * (F.col("n_months") - F.lit(1)), 1
    )
    tau = (F.col("conc") - F.col("disc")).cast("double") / F.sqrt(
        n0.cast("double") * (n0 - F.col("tied")).cast("double")
    )
    return (
        n.join(pairs, "seg")
        .select(
            "seg",
            F.col("n_months").cast("long").alias("n_months"),
            F.col("conc").cast("long").alias("concordant"),
            F.col("disc").cast("long").alias("discordant"),
            F.col("tied").cast("long").alias("tied"),
            (F.floor(tau * 1e6 + F.lit(0.5)) / 1e6).alias("tau_b"),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# a58 — Brown-Forsythe (median-based Levene) test: are order-value
# spreads homogeneous across order priorities? The robust variance-
# equality screen run before any pooled-variance test. Group medians
# use exact interpolated percentiles (the a10/a22 idiom); absolute
# deviations are per-row doubles, and every cross-row sum is a per-row
# DECIMAL cast (the a38 pattern) so accumulation is order-independent.
# Both the between and within sums range over the k=5 priority groups
# as decimal-cast terms — no double sum whose order could differ.
# ---------------------------------------------------------------------------
@query(
    "a58_levene_brown_forsythe",
    oracle="""
    WITH med AS (
        SELECT o_orderpriority AS grp,
               quantile_cont(o_totalprice, 0.5) AS md
        FROM orders GROUP BY 1
    ),
    z AS (
        SELECT o.o_orderpriority AS grp,
               abs(o.o_totalprice - m.md) AS z
        FROM orders o JOIN med m ON o.o_orderpriority = m.grp
    ),
    g AS (
        SELECT grp, count(*) AS n,
               sum(CAST(z AS DECIMAL(27,6))) AS sz,
               sum(CAST(z * z AS DECIMAL(27,6))) AS szz
        FROM z GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS k, sum(n) AS nn, sum(sz) AS sztot FROM g
    ),
    terms AS (
        -- decimal → double via VARCHAR throughout: DuckDB's direct
        -- cast double-rounds (hugeint→double, /10^scale) and can sit
        -- 1 ulp off Spark's correctly-rounded conversion once the
        -- scaled decimal exceeds 2^53 (szz ~ 1e16·10^6 at sf1); the
        -- string round-trip is correctly rounded in both engines.
        SELECT g.grp, g.n, t.k, t.nn,
               CAST(g.n AS DOUBLE)
                   * power(CAST(CAST(g.sz AS VARCHAR) AS DOUBLE) / g.n
                           - CAST(CAST(t.sztot AS VARCHAR) AS DOUBLE)
                               / t.nn, 2) AS bt,
               CAST(CAST(g.szz AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(g.sz AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(g.sz AS VARCHAR) AS DOUBLE) / g.n
                   AS wt
        FROM g CROSS JOIN tot t
    ),
    agg AS (
        SELECT max(k) AS k, max(nn) AS nn,
               CAST(CAST(sum(CAST(bt AS DECIMAL(27,6))) AS VARCHAR)
                    AS DOUBLE) AS between_ss,
               CAST(CAST(sum(CAST(wt AS DECIMAL(27,6))) AS VARCHAR)
                    AS DOUBLE) AS within_ss
        FROM terms
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nn AS BIGINT) AS n_orders,
           floor(between_ss * 1e2 + 0.5) / 1e2 AS between_ss,
           floor(within_ss * 1e2 + 0.5) / 1e2 AS within_ss,
           -- degenerate designs (k<2 groups, or zero within-group
           -- spread) have no defined W: NULL on both engines
           CASE WHEN k IS NULL OR k < 2 OR within_ss = 0 THEN NULL
                ELSE floor((CAST(nn - k AS DOUBLE) / (k - 1))
                     * (between_ss / within_ss) * 1e6 + 0.5) / 1e6 END
               AS w_stat,
           -- k IS NULL (empty input) must short-circuit like k < 2:
           -- without it the NULL comparison falls through to ELSE 0.
           CASE WHEN k IS NULL OR k < 2 OR within_ss = 0 THEN NULL
                WHEN (CAST(nn - k AS DOUBLE) / (k - 1))
                     * (between_ss / within_ss) > 2.372 THEN 1 ELSE 0 END
               AS heteroscedastic_95
    FROM agg
    """,
)
def a58_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    med = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("md")
    )
    z = o.join(
        med, o.o_orderpriority == med.grp
    ).select("grp", F.abs(F.col("o_totalprice") - F.col("md")).alias("z"))
    g = z.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("z").cast("decimal(27,6)")).alias("sz"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(27,6)")).alias("szz"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("sz").alias("sztot"),
    )
    terms = g.crossJoin(F.broadcast(tot)).select(
        "k",
        "nn",
        (
            F.col("n").cast("double")
            * F.pow(
                F.col("sz").cast("double") / F.col("n")
                - F.col("sztot").cast("double") / F.col("nn"),
                2,
            )
        ).alias("bt"),
        (
            F.col("szz").cast("double")
            - F.col("sz").cast("double")
            * F.col("sz").cast("double")
            / F.col("n")
        ).alias("wt"),
    )
    agg = terms.agg(
        F.max("k").alias("k"),
        F.max("nn").alias("nn"),
        F.sum(F.col("bt").cast("decimal(27,6)"))
        .cast("double")
        .alias("between_ss"),
        F.sum(F.col("wt").cast("decimal(27,6)"))
        .cast("double")
        .alias("within_ss"),
    )
    # Degenerate designs (k<2, or zero within-group spread) have no
    # defined W: emit NULL instead of an ANSI division crash.
    degen = (F.col("k") < 2) | (F.col("within_ss") == 0)
    w = F.when(degen, F.lit(None).cast("double")).otherwise(
        (F.col("nn") - F.col("k")).cast("double")
        / (F.col("k") - 1)
        * (F.col("between_ss") / F.col("within_ss"))
    )
    return agg.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n_orders"),
        (F.floor(F.col("between_ss") * 1e2 + F.lit(0.5)) / 1e2).alias(
            "between_ss"
        ),
        (F.floor(F.col("within_ss") * 1e2 + F.lit(0.5)) / 1e2).alias(
            "within_ss"
        ),
        (F.floor(w * 1e6 + F.lit(0.5)) / 1e6).alias("w_stat"),
        F.when(w.isNull(), F.lit(None).cast("int"))
        .otherwise((w > 2.372).cast("int"))
        .alias("heteroscedastic_95"),
    )


# ---------------------------------------------------------------------------
# a59 — effect sizes (Cohen's d, Hedges' g) between two market
# segments' order values, with the pooled standard deviation. The
# practical complement to a30's Welch t-test: big-data tests are
# always "significant"; effect size says whether the difference
# matters. Raw sums use the a33 decimal-moment idiom; ratios go
# double only at the end.
# ---------------------------------------------------------------------------
@query(
    "a59_effect_sizes",
    oracle="""
    WITH g AS (
        SELECT c.c_mktsegment AS seg, count(*) AS n,
               sum(CAST(o.o_totalprice AS DECIMAL(27,2))) AS s1,
               sum(CAST(o.o_totalprice * o.o_totalprice
                        AS DECIMAL(27,4))) AS s2
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1
    ),
    w AS (
        SELECT max(CASE WHEN seg = 'BUILDING' THEN n END) AS n1,
               max(CASE WHEN seg = 'BUILDING' THEN CAST(s1 AS DOUBLE) END)
                   AS a1,
               max(CASE WHEN seg = 'BUILDING' THEN CAST(s2 AS DOUBLE) END)
                   AS a2,
               max(CASE WHEN seg = 'MACHINERY' THEN n END) AS n2,
               max(CASE WHEN seg = 'MACHINERY' THEN CAST(s1 AS DOUBLE) END)
                   AS b1,
               max(CASE WHEN seg = 'MACHINERY' THEN CAST(s2 AS DOUBLE) END)
                   AS b2
        FROM g
    ),
    calc AS (
        SELECT n1, n2, a1 / n1 AS m1, b1 / n2 AS m2,
               sqrt(((a2 - a1 * a1 / n1) + (b2 - b1 * b1 / n2))
                    / (n1 + n2 - 2)) AS sp
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n_building,
           CAST(n2 AS BIGINT) AS n_machinery,
           floor(m1 * 1e2 + 0.5) / 1e2 AS mean_building,
           floor(m2 * 1e2 + 0.5) / 1e2 AS mean_machinery,
           floor(sp * 1e2 + 0.5) / 1e2 AS pooled_sd,
           floor((m1 - m2) / sp * 1e6 + 0.5) / 1e6 AS cohens_d,
           floor((m1 - m2) / sp
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)) * 1e6 + 0.5) / 1e6
               AS hedges_g
    FROM calc
    """,
)
def a59_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    x = F.col("o_totalprice")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast("decimal(27,2)")).alias("s1"),
            F.sum((x * x).cast("decimal(27,4)")).alias("s2"),
        )
    )

    def pick(seg, col, as_double=False):
        v = F.when(F.col("seg") == seg, F.col(col))
        return F.max(v.cast("double") if as_double else v)

    w = g.agg(
        pick("BUILDING", "n").alias("n1"),
        pick("BUILDING", "s1", True).alias("a1"),
        pick("BUILDING", "s2", True).alias("a2"),
        pick("MACHINERY", "n").alias("n2"),
        pick("MACHINERY", "s1", True).alias("b1"),
        pick("MACHINERY", "s2", True).alias("b2"),
    )
    m1 = F.col("a1") / F.col("n1")
    m2 = F.col("b1") / F.col("n2")
    sp = F.sqrt(
        (
            (F.col("a2") - F.col("a1") * F.col("a1") / F.col("n1"))
            + (F.col("b2") - F.col("b1") * F.col("b1") / F.col("n2"))
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = (m1 - m2) / sp
    gcorr = d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9))
    return w.select(
        F.col("n1").cast("long").alias("n_building"),
        F.col("n2").cast("long").alias("n_machinery"),
        (F.floor(m1 * 1e2 + F.lit(0.5)) / 1e2).alias("mean_building"),
        (F.floor(m2 * 1e2 + F.lit(0.5)) / 1e2).alias("mean_machinery"),
        (F.floor(sp * 1e2 + F.lit(0.5)) / 1e2).alias("pooled_sd"),
        (F.floor(d * 1e6 + F.lit(0.5)) / 1e6).alias("cohens_d"),
        (F.floor(gcorr * 1e6 + F.lit(0.5)) / 1e6).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# a60 — Jarque-Bera normality test per market segment: JB =
# n·(S²/6 + (K-3)²/24) from the a33 raw-moment sums (decimal, exact),
# with the chi²(2) 95% critical value 5.991. The gatekeeper before any
# normal-theory interval; one hash aggregate at scale.
# ---------------------------------------------------------------------------
@query(
    "a60_jarque_bera",
    oracle="""
    WITH m AS (
        SELECT c.c_mktsegment AS seg,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
                   AS s1,
               CAST(sum(CAST(o.o_totalprice * o.o_totalprice
                             AS DECIMAL(27,4))) AS DOUBLE) AS s2,
               CAST(sum(CAST(o.o_totalprice * o.o_totalprice * o.o_totalprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS s3,
               CAST(sum(CAST(o.o_totalprice * o.o_totalprice
                             * o.o_totalprice * o.o_totalprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS s4
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    cm AS (
        SELECT seg, n,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n)
                   + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                   + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                   - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM m
    ),
    sk AS (
        SELECT seg, n,
               m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) AS s,
               m4 / (m2 * m2) AS k
        FROM cm
    )
    SELECT seg, CAST(n AS BIGINT) AS n_orders,
           floor(s * 1e6 + 0.5) / 1e6 AS skewness,
           floor(k * 1e6 + 0.5) / 1e6 AS kurtosis,
           floor(n * (s * s / 6 + (k - 3) * (k - 3) / 24) * 1e4 + 0.5) / 1e4
               AS jb_stat,
           CASE WHEN n * (s * s / 6 + (k - 3) * (k - 3) / 24) > 5.991
                THEN 1 ELSE 0 END AS non_normal_95
    FROM sk ORDER BY 1
    """,
)
def a60_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    x = F.col("o_totalprice")
    m = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x.cast("decimal(27,2)")).cast("double").alias("s1"),
            F.sum((x * x).cast("decimal(27,4)")).cast("double").alias("s2"),
            F.sum((x * x * x).cast("decimal(38,6)")).cast("double").alias(
                "s3"
            ),
            F.sum((x * x * x * x).cast("decimal(38,6)"))
            .cast("double")
            .alias("s4"),
        )
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * mu * (F.col("s2") / F.col("n"))
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * mu * mu * (F.col("s2") / F.col("n"))
        - 3 * mu * mu * mu * mu
    )
    s = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    k = m4 / (m2 * m2)
    jb = F.col("n") * (s * s / 6 + (k - 3) * (k - 3) / 24)
    return m.select(
        "seg",
        F.col("n").cast("long").alias("n_orders"),
        (F.floor(s * 1e6 + F.lit(0.5)) / 1e6).alias("skewness"),
        (F.floor(k * 1e6 + F.lit(0.5)) / 1e6).alias("kurtosis"),
        (F.floor(jb * 1e4 + F.lit(0.5)) / 1e4).alias("jb_stat"),
        F.when(jb > 5.991, 1).otherwise(0).alias("non_normal_95"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# a61 — Page-Hinkley drift detector over the daily revenue series: the
# streaming-friendly sibling of a31's CUSUM. m_t = Σ_{i≤t}(x_i - x̄_i),
# PH_t = m_t - min_{i≤t} m_i; an alarm fires when PH_t exceeds λ.
# Per-row terms are doubles (x̄_i = prefix decimal sum / i, identical
# per-row on both engines); each term is decimal-cast before the PREFIX
# sum, so the cumulative m_t is exact and order-independent. One sort
# + one window pass at scale — the same plan as any running balance.
# ---------------------------------------------------------------------------
_PH_LAMBDA = 100000.0


@query(
    "a61_page_hinkley",
    oracle=f"""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               sum(CAST(o_totalprice AS DECIMAL(27,2))) AS rev
        FROM orders GROUP BY 1
    ),
    pref AS (
        SELECT day, rev,
               sum(rev) OVER w AS s,
               row_number() OVER (ORDER BY day) AS i
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    term AS (
        SELECT day,
               CAST(CAST(rev AS DOUBLE) - CAST(s AS DOUBLE) / i
                    AS DECIMAL(27,6)) AS t
        FROM pref
    ),
    m1 AS (
        SELECT day, sum(t) OVER w AS mt
        FROM term
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    m AS (
        SELECT day, mt, min(mt) OVER w AS mmin
        FROM m1
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    ph AS (
        SELECT day, CAST(mt - mmin AS DOUBLE) AS ph FROM m
    )
    SELECT
        (SELECT day FROM ph ORDER BY ph DESC, day LIMIT 1) AS peak_day,
        (SELECT floor(max(ph) * 1e4 + 0.5) / 1e4 FROM ph) AS ph_stat,
        (SELECT CAST(count(*) AS BIGINT) FROM ph) AS n_days,
        (SELECT CAST(count(*) AS BIGINT) FROM ph
         WHERE ph > {_PH_LAMBDA}) AS n_alarm_days
    WHERE EXISTS (SELECT 1 FROM ph)  -- no series, no detector readout
    """,
)
def a61_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(27,2)")).alias("rev"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pref = daily.select(
        "day",
        "rev",
        F.sum("rev").over(w).alias("s"),
        F.row_number().over(Window.orderBy("day")).alias("i"),
    )
    term = pref.select(
        "day",
        (
            F.col("rev").cast("double") - F.col("s").cast("double") / F.col("i")
        ).cast("decimal(27,6)").alias("t"),
    )
    m1 = term.select("day", F.sum("t").over(w).alias("mt"))
    m = m1.select("day", "mt", F.min("mt").over(w).alias("mmin"))
    ph = m.select(
        "day", (F.col("mt") - F.col("mmin")).cast("double").alias("ph")
    )
    peak = ph.orderBy(F.col("ph").desc(), "day").limit(1).select(
        F.col("day").alias("peak_day")
    )
    stats = ph.agg(
        (F.floor(F.max("ph") * 1e4 + F.lit(0.5)) / 1e4).alias("ph_stat"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("ph") > _PH_LAMBDA, 1).otherwise(0))
        .cast("long")
        .alias("n_alarm_days"),
    )
    return peak.crossJoin(stats)


# ---------------------------------------------------------------------------
# a62 — Benjamini-Hochberg FDR over the (segment × priority) grid of
# two-proportion tests (cell conversion-to-'F'-status vs the corpus
# rate): the multiple-testing discipline every segmentation dashboard
# needs once it tests 25 cells at once. p-values use the Abramowitz &
# Stegun 7.1.26 normal-CDF polynomial (documented approximation —
# identical closed form on both engines, no erf dependency); counts
# are exact integers, the BH step-up runs over the 25-row test grid
# (bounded, single window). Reject set = all ranks ≤ the largest rank
# with p ≤ rank·α/m.
# ---------------------------------------------------------------------------
_BH_ALPHA = 0.05


@query(
    "a62_benjamini_hochberg",
    oracle=f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
               count(*) AS n,
               sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS nn, sum(x) AS xx FROM cells),
    z AS (
        SELECT seg, pri, n, x,
               (CAST(x AS DOUBLE) / n - CAST(t.xx AS DOUBLE) / t.nn)
               / sqrt((CAST(t.xx AS DOUBLE) / t.nn)
                      * (1 - CAST(t.xx AS DOUBLE) / t.nn) / n) AS zst
        FROM cells CROSS JOIN tot t
        WHERE t.xx > 0 AND t.xx < t.nn
    ),
    p AS (
        SELECT seg, pri, n, x, zst,
               2 * (exp(-abs(zst) * abs(zst) / 2) / sqrt(2 * pi())
                    * (0.319381530 * (1 / (1 + 0.2316419 * abs(zst)))
                       - 0.356563782 * power(1 / (1 + 0.2316419 * abs(zst)), 2)
                       + 1.781477937 * power(1 / (1 + 0.2316419 * abs(zst)), 3)
                       - 1.821255978 * power(1 / (1 + 0.2316419 * abs(zst)), 4)
                       + 1.330274429 * power(1 / (1 + 0.2316419 * abs(zst)), 5)))
                   AS pval
        FROM z
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY pval, seg, pri) AS rk,
               count(*) OVER () AS m
        FROM p
    ),
    cut AS (
        SELECT max(CASE WHEN pval <= rk * {_BH_ALPHA} / m THEN rk
                        ELSE 0 END) OVER () AS kmax
        FROM ranked LIMIT 1
    )
    SELECT r.seg, r.pri,
           CAST(r.n AS BIGINT) AS n_orders,
           CAST(r.x AS BIGINT) AS n_final,
           floor(r.zst * 1e6 + 0.5) / 1e6 AS z,
           floor(r.pval * 1e6 + 0.5) / 1e6 AS p_value,
           CAST(r.rk AS BIGINT) AS p_rank,
           floor(r.rk * {_BH_ALPHA} / r.m * 1e6 + 0.5) / 1e6
               AS bh_threshold,
           CASE WHEN r.rk <= c.kmax THEN 1 ELSE 0 END AS rejected
    FROM ranked r CROSS JOIN cut c
    ORDER BY r.rk
    """,
)
def a62_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            ).alias("x"),
        )
    )
    tot = cells.agg(F.sum("n").alias("nn"), F.sum("x").alias("xx"))
    pp = F.col("xx").cast("double") / F.col("nn")
    zst = (F.col("x").cast("double") / F.col("n") - pp) / F.sqrt(
        pp * (1 - pp) / F.col("n")
    )
    z = (
        cells.crossJoin(F.broadcast(tot))
        .where((F.col("xx") > 0) & (F.col("xx") < F.col("nn")))
        .select("seg", "pri", "n", "x", zst.alias("zst"))
    )
    az = F.abs(F.col("zst"))
    k = 1 / (1 + 0.2316419 * az)
    phi = F.exp(-az * az / 2) / F.sqrt(F.lit(2.0) * F.lit(math.pi))
    poly = (
        0.319381530 * k
        - 0.356563782 * F.pow(k, 2)
        + 1.781477937 * F.pow(k, 3)
        - 1.821255978 * F.pow(k, 4)
        + 1.330274429 * F.pow(k, 5)
    )
    p = z.select("seg", "pri", "n", "x", "zst", (2 * phi * poly).alias("pval"))
    wall = Window.orderBy("pval", "seg", "pri")
    ranked = p.select(
        "*",
        F.row_number().over(wall).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("m"),
    )
    wfull = Window.partitionBy()
    ranked2 = ranked.withColumn(
        "kmax",
        F.max(
            F.when(
                F.col("pval") <= F.col("rk") * _BH_ALPHA / F.col("m"),
                F.col("rk"),
            ).otherwise(0)
        ).over(wfull),
    )
    return ranked2.select(
        "seg",
        "pri",
        F.col("n").cast("long").alias("n_orders"),
        F.col("x").cast("long").alias("n_final"),
        (F.floor(F.col("zst") * 1e6 + F.lit(0.5)) / 1e6).alias("z"),
        (F.floor(F.col("pval") * 1e6 + F.lit(0.5)) / 1e6).alias("p_value"),
        F.col("rk").cast("long").alias("p_rank"),
        (
            F.floor(F.col("rk") * _BH_ALPHA / F.col("m") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("bh_threshold"),
        (F.col("rk") <= F.col("kmax")).cast("int").alias("rejected"),
    ).orderBy("p_rank")


# ---------------------------------------------------------------------------
# a63 — Theil-Sen robust trend slope of the daily-revenue series per
# market segment: the median of pairwise slopes over the LAST-N daily
# points (N=40 → ≤ N·(N−1)/2 = 780 pairs per segment, a hard bound that
# holds at any corpus size because the series is first compacted to one
# row per (segment, day) and then windowed to the most recent N days).
# The pair join is an rn-banded self-join on the segment key — never
# all-days × all-days. Exactness: daily revenue is an exact DECIMAL
# sum; each slope is one double division of exact inputs; the median is
# selected positionally ((m+1)//2, (m+2)//2 over the sorted multiset)
# so engines agree without relying on a median() builtin's
# interpolation policy. Restates the robust-trend step of a batch
# revenue-monitoring report (reference REPORT dataflow; no native
# equivalent — net-new analytics capability).
# ---------------------------------------------------------------------------
_TS_LAST_N = 40


@query(
    "a63_theil_sen_slope",
    oracle=f"""
    WITH daily AS (
        SELECT c.c_mktsegment AS seg,
               CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS dd,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,2)))
                    AS DECIMAL(27,2)) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    recent AS (
        SELECT seg, dd, rev,
               row_number() OVER (PARTITION BY seg ORDER BY dd DESC) AS rn
        FROM daily
        QUALIFY rn <= {_TS_LAST_N}
    ),
    pairs AS (
        SELECT a.seg,
               (CAST(a.rev AS DOUBLE) - CAST(b.rev AS DOUBLE))
                   / (a.dd - b.dd) AS slope
        FROM recent a JOIN recent b
          ON a.seg = b.seg AND a.rn < b.rn
    ),
    ranked AS (
        SELECT seg, slope,
               row_number() OVER (PARTITION BY seg ORDER BY slope) AS rk,
               count(*) OVER (PARTITION BY seg) AS m
        FROM pairs
    ),
    med AS (
        SELECT seg, CAST(max(m) AS BIGINT) AS n_pairs,
               sum(slope) / count(*) AS ts_slope
        FROM ranked
        WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2
        GROUP BY seg
    ),
    nd AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_days
           FROM recent GROUP BY 1)
    SELECT m.seg, nd.n_days, m.n_pairs,
           floor(m.ts_slope * 1e6 + 0.5) / 1e6 AS theil_sen_slope
    FROM med m JOIN nd ON m.seg = nd.seg
    ORDER BY m.seg
    """,
)
def a63_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    daily = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).alias("dd"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .alias("rev")
        )
    )
    recent = (
        daily.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("seg").orderBy(F.col("dd").desc())
            ),
        )
        .where(F.col("rn") <= _TS_LAST_N)
    )
    a = recent.alias("a")
    b = recent.alias("b")
    pairs = a.join(
        b,
        (F.col("a.seg") == F.col("b.seg")) & (F.col("a.rn") < F.col("b.rn")),
    ).select(
        F.col("a.seg").alias("seg"),
        (
            (F.col("a.rev").cast("double") - F.col("b.rev").cast("double"))
            / (F.col("a.dd") - F.col("b.dd"))
        ).alias("slope"),
    )
    ranked = pairs.select(
        "seg",
        "slope",
        F.row_number()
        .over(Window.partitionBy("seg").orderBy("slope"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("seg")).alias("m"),
    )
    med = (
        ranked.where(
            (F.col("rk") == F.floor((F.col("m") + 1) / 2))
            | (F.col("rk") == F.floor((F.col("m") + 2) / 2))
        )
        .groupBy("seg")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            (F.sum("slope") / F.count(F.lit(1))).alias("ts_slope"),
        )
    )
    nd = recent.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        med.join(nd, "seg")
        .select(
            "seg",
            "n_days",
            "n_pairs",
            (F.floor(F.col("ts_slope") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "theil_sen_slope"
            ),
        )
        .orderBy("seg")
    )


# ---------------------------------------------------------------------------
# a64 — lead–lag cross-correlation between two segments' daily-revenue
# series (does BUILDING lead MACHINERY?): Pearson r at every lag in
# [−7, +7], with the best |r| lag flagged. The lag grid is a 15-row
# exploded dimension joined back on (day + lag) — an equi-join, never a
# window per lag — so the plan is two hash aggregates plus one small
# equi-join regardless of series length. Exactness: daily revenue is an
# exact DECIMAL sum; Σx, Σy stay DECIMAL(27,2); each cross/square
# product is computed in double (deterministic IEEE) and cast to
# DECIMAL(38,6) before the sum so accumulation order can never flip a
# bit (the a38 idiom); the final r arithmetic is a fixed-shape double
# expression floored at 1e-6.
# ---------------------------------------------------------------------------
_XC_SEG_X = "BUILDING"
_XC_SEG_Y = "MACHINERY"


@query(
    "a64_lead_lag_xcorr",
    oracle=f"""
    WITH daily AS (
        SELECT c.c_mktsegment AS seg,
               CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS dd,
               CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,2)))
                    AS DECIMAL(27,2)) AS DOUBLE) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('{_XC_SEG_X}', '{_XC_SEG_Y}')
        GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(generate_series(-7, 7)) AS lag),
    j AS (
        SELECT l.lag, x.rev AS xv, y.rev AS yv
        FROM daily x
        CROSS JOIN lags l
        JOIN daily y ON y.dd = x.dd + l.lag
        WHERE x.seg = '{_XC_SEG_X}' AND y.seg = '{_XC_SEG_Y}'
    ),
    m AS (
        SELECT lag, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(xv AS DECIMAL(27,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(yv AS DECIMAL(27,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(xv * yv AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(xv * xv AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(yv * yv AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM j GROUP BY lag
    ),
    r AS (
        SELECT lag, CAST(n AS BIGINT) AS n_days,
               (n * sxy - sx * sy)
                   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                   AS rho
        FROM m
    )
    SELECT lag, n_days,
           floor(rho * 1e6 + 0.5) / 1e6 AS xcorr,
           CASE WHEN row_number() OVER (ORDER BY abs(rho) DESC, lag) = 1
                THEN 1 ELSE 0 END AS is_best_lag
    FROM r ORDER BY lag
    """,
)
def a64_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    daily = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin(_XC_SEG_X, _XC_SEG_Y))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).alias("dd"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .cast("double")
            .alias("rev")
        )
    )
    x = daily.where(F.col("seg") == _XC_SEG_X).select(
        F.col("dd").alias("xdd"), F.col("rev").alias("xv")
    )
    y = daily.where(F.col("seg") == _XC_SEG_Y).select(
        F.col("dd").alias("ydd"), F.col("rev").alias("yv")
    )
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(-7), F.lit(7))).alias("lag")
    )
    j = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("ydd") == F.col("xdd") + F.col("lag"))
    )
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("xv").cast("decimal(27,2)")).cast("double").alias("sx"),
        F.sum(F.col("yv").cast("decimal(27,2)")).cast("double").alias("sy"),
        F.sum((F.col("xv") * F.col("yv")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("xv") * F.col("xv")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("yv") * F.col("yv")).cast("decimal(38,6)"))
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    rho = (n * F.col("sxy") - sx * sy) / (
        F.sqrt(n * F.col("sxx") - sx * sx)
        * F.sqrt(n * F.col("syy") - sy * sy)
    )
    r = m.select(
        "lag", n.cast("long").alias("n_days"), rho.alias("rho")
    )
    wbest = Window.orderBy(F.abs(F.col("rho")).desc(), "lag")
    return r.select(
        "lag",
        "n_days",
        (F.floor(F.col("rho") * 1e6 + F.lit(0.5)) / 1e6).alias("xcorr"),
        F.when(F.row_number().over(wbest) == 1, 1)
        .otherwise(0)
        .alias("is_best_lag"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# a65 — single-changepoint detection (binary-segmentation first step)
# on the daily-revenue series per segment: the split t maximizing the
# CUSUM deviation |S_t − (t/n)·S_n|. The score is kept RATIONAL —
# d_t = |n·S_t − t·S_n| is an exact DECIMAL (integer row indices ×
# exact DECIMAL prefix sums, no division until the report row) — so the
# argmax is an exact comparison and can never flip on libm noise; the
# normalized statistic d/n and the before/after means divide only in
# the final projection, floored at 1e-6. Plan: one daily hash
# aggregate, one per-segment cumulative window, one argmax window —
# shuffle key stays `seg` throughout (no repartitioning between the
# window stages).
# ---------------------------------------------------------------------------
@query(
    "a65_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT c.c_mktsegment AS seg,
               CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS dd,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,2)))
                    AS DECIMAL(27,2)) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT seg, dd,
               row_number() OVER w AS t,
               CAST(sum(rev) OVER w AS DECIMAL(27,2)) AS st,
               count(*) OVER (PARTITION BY seg) AS n,
               CAST(sum(rev) OVER (PARTITION BY seg) AS DECIMAL(27,2)) AS sn
        FROM daily
        WINDOW w AS (PARTITION BY seg ORDER BY dd ROWS UNBOUNDED PRECEDING)
    ),
    scored AS (
        SELECT seg, dd, t, n, st, sn,
               abs(CAST(n AS DECIMAL(10,0)) * st
                   - CAST(t AS DECIMAL(10,0)) * sn) AS d
        FROM cum WHERE t < n
    ),
    best AS (
        SELECT *,
               row_number() OVER (PARTITION BY seg ORDER BY d DESC, dd) AS rb
        FROM scored
    )
    SELECT seg,
           CAST(n AS BIGINT) AS n_days,
           strftime(DATE '1970-01-01' + CAST(dd AS INTEGER), '%Y-%m-%d')
               AS change_day,
           CAST(t AS BIGINT) AS split_index,
           floor(CAST(d AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS cusum_stat,
           floor(CAST(st AS DOUBLE) / t * 1e6 + 0.5) / 1e6 AS mean_before,
           floor(CAST(sn - st AS DOUBLE) / (n - t) * 1e6 + 0.5) / 1e6
               AS mean_after
    FROM best WHERE rb = 1 ORDER BY seg
    """,
)
def a65_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    daily = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
            ).alias("dd"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("decimal(27,2)")
            .alias("rev")
        )
    )
    w = (
        Window.partitionBy("seg")
        .orderBy("dd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("seg")
    cum = daily.select(
        "seg",
        "dd",
        F.row_number().over(Window.partitionBy("seg").orderBy("dd")).alias(
            "t"
        ),
        F.sum("rev").over(w).cast("decimal(27,2)").alias("st"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("rev").over(wp).cast("decimal(27,2)").alias("sn"),
    )
    scored = cum.where(F.col("t") < F.col("n")).withColumn(
        "d",
        F.abs(
            F.col("n").cast("decimal(10,0)") * F.col("st")
            - F.col("t").cast("decimal(10,0)") * F.col("sn")
        ),
    )
    best = scored.withColumn(
        "rb",
        F.row_number().over(
            Window.partitionBy("seg").orderBy(F.col("d").desc(), "dd")
        ),
    ).where(F.col("rb") == 1)
    return best.select(
        "seg",
        F.col("n").cast("long").alias("n_days"),
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("dd")),
            "yyyy-MM-dd",
        ).alias("change_day"),
        F.col("t").cast("long").alias("split_index"),
        (
            F.floor(F.col("d").cast("double") / F.col("n") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("cusum_stat"),
        (
            F.floor(
                F.col("st").cast("double") / F.col("t") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_before"),
        (
            F.floor(
                (F.col("sn") - F.col("st")).cast("double")
                / (F.col("n") - F.col("t"))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("mean_after"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# j15_bloom_filter_join — runtime Bloom-filter semi-join reduction, the
# technique Spark's own runtime row-group filtering uses: hash the small
# (filtered) build side's keys into an m=1024-bit / k=3 Bloom set,
# probe the fact side against the set BEFORE the real join, and audit
# the reduction (candidates vs true matches vs false positives). The
# bit-set is represented relationally as the distinct set of occupied
# bit positions (<= 1024 rows, broadcast), so membership is "no probe
# position absent" — a posexplode + broadcast-anti-count aggregate, no
# driver-side bitmap. (Counting misses rather than hits keeps the
# predicate exact when the fixture repeats (orderkey, linenumber)
# rows — a hit-count==k compare sees 2k probe rows for those groups
# and manufactures false negatives.) Hashes use the registry's
# cross-engine md5-60bit idiom salted per hash index. At 100 TB the
# probe is one broadcast hash join against <=1024 rows followed by a
# per-row aggregate keyed on the fact's composite id — the shuffle the
# filter EXISTS to avoid (the full fact join) only ever sees candidate
# rows.
# ---------------------------------------------------------------------------
_BLOOM_M = 1024
_BLOOM_K = 3


@query(
    "j15_bloom_filter_join",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT s.s_suppkey AS k
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    bits AS (
        SELECT DISTINCT
               {h60_sql("CAST(h AS VARCHAR) || ':' || CAST(k AS VARCHAR)",
                        "duckdb")} % {_BLOOM_M} AS bit_pos
        FROM build CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS h)
    ),
    probe AS (
        SELECT l_orderkey, l_linenumber, l_suppkey,
               {h60_sql("CAST(h AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)",
                        "duckdb")} % {_BLOOM_M} AS bit_pos
        FROM lineitem CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS h)
    ),
    hits AS (
        SELECT p.l_orderkey, p.l_linenumber, p.l_suppkey,
               sum(CASE WHEN b.bit_pos IS NULL THEN 1 ELSE 0 END) AS n_miss
        FROM probe p LEFT JOIN bits b USING (bit_pos)
        GROUP BY 1, 2, 3
    ),
    flags AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN n_miss = 0 THEN 1 ELSE 0 END AS cand,
               CASE WHEN l_suppkey IN (SELECT k FROM build)
                    THEN 1 ELSE 0 END AS truehit
        FROM hits
    )
    SELECT CAST(count(*) AS BIGINT) AS probe_rows,
           CAST(sum(cand) AS BIGINT) AS candidate_rows,
           CAST(sum(truehit) AS BIGINT) AS true_rows,
           CAST(sum(CASE WHEN cand = 1 AND truehit = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           CAST(sum(CASE WHEN cand = 0 AND truehit = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS missed_rows
    FROM flags
    """,
)
def j15_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    M, K = _BLOOM_M, _BLOOM_K
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    build = (
        sup.join(
            maybe_broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"]
        )
        .join(maybe_broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select(F.col("s_suppkey").alias("k"))
        .distinct()
    )
    hidx = F.explode(F.array(*[F.lit(i) for i in range(K)])).alias("h")

    def bit_pos(key_col):
        salted = F.concat(
            F.col("h").cast("string"), F.lit(":"), key_col.cast("string")
        )
        return h60_col(salted) % M

    bits = (
        build.select("k", hidx)
        .select(bit_pos(F.col("k")).alias("bit_pos"))
        .distinct()
    )
    probe = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_suppkey", hidx)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            bit_pos(F.col("l_suppkey")).alias("bit_pos"),
        )
    )
    # Membership = NO probe bit misses the set. Counting misses (not
    # "n_set == K") keeps the predicate correct when the fixture holds
    # duplicate (l_orderkey, l_linenumber) rows: the group then sees
    # 2K probe rows and a hit-count compare would reject true members
    # — a false negative a Bloom filter must never produce
    # (regression: tests/test_round8_invariants.py).
    hits = (
        probe.join(F.broadcast(bits.withColumn("present", F.lit(1))),
                   "bit_pos", "left")
        .groupBy("l_orderkey", "l_linenumber", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("present").isNull(), 1).otherwise(0)).alias(
                "n_miss"
            )
        )
    )
    flags = hits.join(
        F.broadcast(build.withColumn("istrue", F.lit(1))),
        hits["l_suppkey"] == build["k"],
        "left",
    ).select(
        F.when(F.col("n_miss") == 0, 1).otherwise(0).alias("cand"),
        F.coalesce(F.col("istrue"), F.lit(0)).alias("truehit"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("probe_rows"),
        F.sum("cand").cast("long").alias("candidate_rows"),
        F.sum("truehit").cast("long").alias("true_rows"),
        F.sum(
            F.when((F.col("cand") == 1) & (F.col("truehit") == 0), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("false_positives"),
        F.sum(
            F.when((F.col("cand") == 0) & (F.col("truehit") == 1), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("missed_rows"),
    )


# ---------------------------------------------------------------------------
# A66 — Durbin-Watson statistic on the residuals of the daily-revenue
# trend regression: the standard serial-correlation screen run after
# any OLS fit (DW ≈ 2 → independent residuals, → 0 positive, → 4
# negative autocorrelation). Two passes over the bounded daily series
# (calendar-bounded, not corpus-bounded — the a25 rationale): (1) the
# a23 moment sums give slope/intercept as exact-moment doubles, (2) the
# residual series e_t = y_t − (b0 + b1·t) lags by one day via an
# unpartitioned window over the compacted series, and both quadratic
# sums accumulate as per-row DECIMAL(27,6) casts so the division is
# order-independent. Reference capability: regression diagnostics over
# report series (reference repo has no analytics; engine mandate).
# ---------------------------------------------------------------------------
@query(
    "a66_durbin_watson",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT day, y,
               CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS t
        FROM daily
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(t AS DECIMAL(27,2))) AS DOUBLE) AS st,
               CAST(sum(CAST(y AS DECIMAL(27,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(t * y AS DECIMAL(27,4))) AS DOUBLE) AS sty,
               CAST(sum(CAST(t * t AS DECIMAL(27,4))) AS DOUBLE) AS stt
        FROM idx
    ),
    fit AS (
        SELECT n,
               (n * sty - st * sy) / (n * stt - st * st) AS b1,
               (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n
                   AS b0
        FROM m WHERE n >= 3 AND n * stt - st * st <> 0
    ),
    resid AS (
        SELECT i.day, i.y - (f.b0 + f.b1 * i.t) AS e, f.n
        FROM idx i CROSS JOIN fit f
    ),
    lagged AS (
        SELECT e, lag(e) OVER (ORDER BY day) AS ep, n FROM resid
    ),
    s AS (
        SELECT max(n) AS n,
               CAST(sum(CAST(e * e AS DECIMAL(27,6))) AS DOUBLE) AS sse,
               CAST(sum(CAST(CASE WHEN ep IS NULL THEN NULL
                                  ELSE (e - ep) * (e - ep) END
                             AS DECIMAL(27,6))) AS DOUBLE) AS ssd
        FROM lagged
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           floor(ssd / sse * 1e6 + 0.5) / 1e6 AS dw,
           floor((1 - ssd / sse / 2) * 1e6 + 0.5) / 1e6 AS rho_hat
    FROM s WHERE sse > 0
    """,
)
def a66_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("y")
        )
    )
    idx = daily.select(
        "day",
        "y",
        F.row_number().over(Window.orderBy("day")).cast("double").alias("t"),
    )
    dec = lambda c, s: F.sum(c.cast(f"decimal(27,{s})")).cast("double")  # noqa: E731
    m = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("t"), 2).alias("st"),
        dec(F.col("y"), 2).alias("sy"),
        dec(F.col("t") * F.col("y"), 4).alias("sty"),
        dec(F.col("t") * F.col("t"), 4).alias("stt"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    sty, stt = F.col("sty"), F.col("stt")
    b1 = (n * sty - st * sy) / (n * stt - st * st)
    fit = m.where((n >= 3) & (n * stt - st * st != 0)).select(
        n.alias("n"), b1.alias("b1"), ((sy - b1 * st) / n).alias("b0")
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "day",
        (F.col("y") - (F.col("b0") + F.col("b1") * F.col("t"))).alias("e"),
        "n",
    )
    lagged = resid.select(
        "e", F.lag("e").over(Window.orderBy("day")).alias("ep"), "n"
    )
    s = lagged.agg(
        F.max("n").alias("n"),
        dec(F.col("e") * F.col("e"), 6).alias("sse"),
        dec(
            F.when(
                F.col("ep").isNull(), F.lit(None).cast("double")
            ).otherwise((F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))),
            6,
        ).alias("ssd"),
    )
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return s.where(F.col("sse") > 0).select(
        F.col("n").cast("long").alias("n_days"),
        r6(F.col("ssd") / F.col("sse")).alias("dw"),
        r6(1 - F.col("ssd") / F.col("sse") / 2).alias("rho_hat"),
    )


# ---------------------------------------------------------------------------
# A67 — Cronbach's alpha over the three per-lineitem "items"
# (quantity, discount, tax): the internal-consistency coefficient
# α = k/(k−1) · (1 − Σ σ²_item / σ²_total), with every variance built
# from DECIMAL-exact moment sums (sample variance, n−1 denominator).
# One aggregate pass over the fact table — the per-item squares and the
# row-total squares are all per-row doubles cast to DECIMAL at the sum,
# so k=3 item variances and the total variance come out of a single
# shuffle-free reduction. Reference capability: survey/score
# reliability screens in report validation (engine mandate).
# ---------------------------------------------------------------------------
@query(
    "a67_cronbach_alpha",
    oracle="""
    WITH s AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS s1,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,4)))
                    AS DOUBLE) AS q1,
               CAST(sum(CAST(l_discount AS DECIMAL(27,2))) AS DOUBLE) AS s2,
               CAST(sum(CAST(l_discount * l_discount AS DECIMAL(27,4)))
                    AS DOUBLE) AS q2,
               CAST(sum(CAST(l_tax AS DECIMAL(27,2))) AS DOUBLE) AS s3,
               CAST(sum(CAST(l_tax * l_tax AS DECIMAL(27,4))) AS DOUBLE)
                   AS q3,
               CAST(sum(CAST((l_quantity + l_discount + l_tax)
                             * (l_quantity + l_discount + l_tax)
                             AS DECIMAL(27,4))) AS DOUBLE) AS qt
        FROM lineitem
    ),
    v AS (
        SELECT n,
               (q1 - s1 * s1 / n) / (n - 1) AS v1,
               (q2 - s2 * s2 / n) / (n - 1) AS v2,
               (q3 - s3 * s3 / n) / (n - 1) AS v3,
               (qt - (s1 + s2 + s3) * (s1 + s2 + s3) / n) / (n - 1) AS vt
        FROM s WHERE n >= 2
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           3 AS k_items,
           floor(v1 * 1e6 + 0.5) / 1e6 AS var_quantity,
           floor(v2 * 1e6 + 0.5) / 1e6 AS var_discount,
           floor(v3 * 1e6 + 0.5) / 1e6 AS var_tax,
           floor(vt * 1e6 + 0.5) / 1e6 AS var_total,
           floor(1.5 * (1 - (v1 + v2 + v3) / vt) * 1e6 + 0.5) / 1e6
               AS cronbach_alpha
    FROM v WHERE vt > 0
    """,
)
def a67_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    dec = lambda c, s: F.sum(c.cast(f"decimal(27,{s})")).cast("double")  # noqa: E731
    q, d, t = F.col("l_quantity"), F.col("l_discount"), F.col("l_tax")
    s = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(q, 2).alias("s1"),
        dec(q * q, 4).alias("q1"),
        dec(d, 2).alias("s2"),
        dec(d * d, 4).alias("q2"),
        dec(t, 2).alias("s3"),
        dec(t * t, 4).alias("q3"),
        dec((q + d + t) * (q + d + t), 4).alias("qt"),
    )
    n = F.col("n")
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / n) / (n - 1)
    v2 = (F.col("q2") - F.col("s2") * F.col("s2") / n) / (n - 1)
    v3 = (F.col("q3") - F.col("s3") * F.col("s3") / n) / (n - 1)
    stot = F.col("s1") + F.col("s2") + F.col("s3")
    vt = (F.col("qt") - stot * stot / n) / (n - 1)
    v = s.where(n >= 2).select(
        n.alias("n"),
        v1.alias("v1"),
        v2.alias("v2"),
        v3.alias("v3"),
        vt.alias("vt"),
    )
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return v.where(F.col("vt") > 0).select(
        F.col("n").cast("long").alias("n_rows"),
        F.lit(3).alias("k_items"),
        r6(F.col("v1")).alias("var_quantity"),
        r6(F.col("v2")).alias("var_discount"),
        r6(F.col("v3")).alias("var_tax"),
        r6(F.col("vt")).alias("var_total"),
        r6(
            1.5 * (1 - (F.col("v1") + F.col("v2") + F.col("v3")) / F.col("vt"))
        ).alias("cronbach_alpha"),
    )


# ---------------------------------------------------------------------------
# A68 — Cohen's kappa between two binary "raters" on orders: rater A
# says an order is expedited (priority 1-URGENT/2-HIGH), rater B says
# it is high-value (totalprice > 250 000). Kappa corrects observed
# agreement for chance: κ = (p_o − p_e)/(1 − p_e). The 2×2 confusion
# counts come out of one conditional-aggregate pass (exact integers);
# the κ arithmetic runs on exact-count doubles. Degenerate p_e = 1
# (a rater with one constant answer on both sides) emits nothing —
# κ is undefined there (the a56 empty-on-undefined contract).
# ---------------------------------------------------------------------------
@query(
    "a68_cohens_kappa",
    oracle="""
    WITH flags AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS ra,
               CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS rb
        FROM orders
    ),
    c AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(count(CASE WHEN ra = 1 AND rb = 1 THEN 1 END)
                    AS DOUBLE) AS a11,
               CAST(count(CASE WHEN ra = 1 AND rb = 0 THEN 1 END)
                    AS DOUBLE) AS a10,
               CAST(count(CASE WHEN ra = 0 AND rb = 1 THEN 1 END)
                    AS DOUBLE) AS a01,
               CAST(count(CASE WHEN ra = 0 AND rb = 0 THEN 1 END)
                    AS DOUBLE) AS a00
        FROM flags
    ),
    k AS (
        SELECT n, a11, a10, a01, a00,
               (a11 + a00) / n AS po,
               ((a11 + a10) * (a11 + a01)
                + (a01 + a00) * (a10 + a00)) / (n * n) AS pe
        FROM c WHERE n > 0
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(a11 AS BIGINT) AS both_yes,
           CAST(a10 AS BIGINT) AS a_only,
           CAST(a01 AS BIGINT) AS b_only,
           CAST(a00 AS BIGINT) AS both_no,
           floor(po * 1e6 + 0.5) / 1e6 AS p_observed,
           floor(pe * 1e6 + 0.5) / 1e6 AS p_expected,
           floor((po - pe) / (1 - pe) * 1e6 + 0.5) / 1e6 AS kappa
    FROM k WHERE pe < 1
    """,
)
def a68_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    flags = o.select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("ra"),
        F.when(F.col("o_totalprice") > 250000, 1).otherwise(0).alias("rb"),
    )
    cnt = lambda cond: F.count(F.when(cond, F.lit(1))).cast("double")  # noqa: E731
    ra, rb = F.col("ra"), F.col("rb")
    c = flags.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        cnt((ra == 1) & (rb == 1)).alias("a11"),
        cnt((ra == 1) & (rb == 0)).alias("a10"),
        cnt((ra == 0) & (rb == 1)).alias("a01"),
        cnt((ra == 0) & (rb == 0)).alias("a00"),
    )
    n = F.col("n")
    po = (F.col("a11") + F.col("a00")) / n
    pe = (
        (F.col("a11") + F.col("a10")) * (F.col("a11") + F.col("a01"))
        + (F.col("a01") + F.col("a00")) * (F.col("a10") + F.col("a00"))
    ) / (n * n)
    k = c.where(n > 0).select(
        n.alias("n"),
        F.col("a11"),
        F.col("a10"),
        F.col("a01"),
        F.col("a00"),
        po.alias("po"),
        pe.alias("pe"),
    )
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return k.where(F.col("pe") < 1).select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("a11").cast("long").alias("both_yes"),
        F.col("a10").cast("long").alias("a_only"),
        F.col("a01").cast("long").alias("b_only"),
        F.col("a00").cast("long").alias("both_no"),
        r6(F.col("po")).alias("p_observed"),
        r6(F.col("pe")).alias("p_expected"),
        r6((F.col("po") - F.col("pe")) / (1 - F.col("pe"))).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# A69 — Kruskal-Wallis H across the five order priorities on order
# value: the k-group generalization of a47's Mann-Whitney (rank-based
# one-way ANOVA). Mid-ranks for ties come from rank() + the tie-group
# size ((2·minrank + c − 1)/2 — exact halves, so rank sums accumulate
# as DECIMAL(27,1)); the tie-correction factor uses Σ(t³−t) over
# value-tie groups. The global rank is a single range-partitioned sort
# of the compacted (value)-level — at 100 TB this is the one operator
# family where a total sort is the stated cost, the same contract as
# a10's exact percentiles. H_corrected = H / (1 − Σ(t³−t)/(N³−N)).
# ---------------------------------------------------------------------------
@query(
    "a69_kruskal_wallis",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority AS grp, o_totalprice AS x,
               rank() OVER (ORDER BY o_totalprice) AS rmin,
               count(*) OVER (PARTITION BY o_totalprice) AS c
        FROM orders
    ),
    mid AS (
        SELECT grp, (2.0 * rmin + c - 1) / 2 AS mr FROM ranked
    ),
    g AS (
        SELECT grp, CAST(count(*) AS DOUBLE) AS ng,
               CAST(sum(CAST(mr AS DECIMAL(27,1))) AS DOUBLE) AS rsum
        FROM mid GROUP BY 1
    ),
    ties AS (
        SELECT CAST(sum(CAST(c * c * c - c AS DECIMAL(27,0))) AS DOUBLE)
                   AS tsum
        FROM (SELECT CAST(count(*) AS DOUBLE) AS c
              FROM orders GROUP BY o_totalprice)
    ),
    h AS (
        SELECT CAST(sum(CAST(g.ng AS DECIMAL(27,0))) AS DOUBLE) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(g.rsum * g.rsum / g.ng AS DECIMAL(27,6)))
                    AS DOUBLE) AS rr
        FROM g
    )
    SELECT CAST(h.n AS BIGINT) AS n_orders, h.k AS k_groups,
           floor((12 / (h.n * (h.n + 1)) * h.rr - 3 * (h.n + 1))
                 * 1e6 + 0.5) / 1e6 AS h_stat,
           floor((12 / (h.n * (h.n + 1)) * h.rr - 3 * (h.n + 1))
                 / (1 - t.tsum / (h.n * h.n * h.n - h.n))
                 * 1e6 + 0.5) / 1e6 AS h_corrected
    FROM h CROSS JOIN ties t
    WHERE h.n >= 2 AND t.tsum < h.n * h.n * h.n - h.n
    """,
)
def a69_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    ranked = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        F.rank().over(Window.orderBy("o_totalprice")).alias("rmin"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_totalprice"))
        .alias("c"),
    )
    mid = ranked.select(
        "grp", ((2.0 * F.col("rmin") + F.col("c") - 1) / 2).alias("mr")
    )
    g = mid.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("ng"),
        F.sum(F.col("mr").cast("decimal(27,1)")).cast("double").alias("rsum"),
    )
    ties = (
        o.groupBy("o_totalprice")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .agg(
            F.sum(
                (F.col("c") * F.col("c") * F.col("c") - F.col("c")).cast(
                    "decimal(27,0)"
                )
            )
            .cast("double")
            .alias("tsum")
        )
    )
    h = g.agg(
        F.sum(F.col("ng").cast("decimal(27,0)")).cast("double").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum((F.col("rsum") * F.col("rsum") / F.col("ng")).cast("decimal(27,6)"))
        .cast("double")
        .alias("rr"),
    )
    n, rr, tsum = F.col("n"), F.col("rr"), F.col("tsum")
    hstat = 12 / (n * (n + 1)) * rr - 3 * (n + 1)
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        h.crossJoin(F.broadcast(ties))
        .where((n >= 2) & (tsum < n * n * n - n))
        .select(
            n.cast("long").alias("n_orders"),
            F.col("k").alias("k_groups"),
            r6(hstat).alias("h_stat"),
            r6(hstat / (1 - tsum / (n * n * n - n))).alias("h_corrected"),
        )
    )


# ---------------------------------------------------------------------------
# A70 — Ljung-Box portmanteau test on the daily order-count series:
# Q(m) = n(n+2) Σ_{k≤m} ρ̂_k²/(n−k) for m = 1..7, the "is this series
# white noise" gate run before fitting any ARIMA-family model. The
# autocorrelations extend a25 to multiple lags: the compacted daily
# series self-joins on (rn − k) for the seven fixed lags (each row
# meets ≤7 partners — bounded fan-out), deviations multiply per-row as
# doubles against the exact-moment mean, and every cross-row sum is a
# DECIMAL cast. Q accumulates over lags through a 7-row window — one
# output row per lag with its ρ̂_k and the cumulative Q statistic.
# ---------------------------------------------------------------------------
@query(
    "a70_ljung_box",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(count(*) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY day) AS rn FROM daily
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(y AS DECIMAL(27,0))) AS DOUBLE) AS sy
        FROM idx
    ),
    dev AS (
        SELECT i.rn, i.y - m.sy / m.n AS d, m.n
        FROM idx i CROSS JOIN m WHERE m.n >= 9
    ),
    den AS (
        SELECT CAST(sum(CAST(d * d AS DECIMAL(27,6))) AS DOUBLE) AS s0,
               max(n) AS n
        FROM dev
    ),
    lags(k) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
    num AS (
        SELECT l.k,
               CAST(sum(CAST(a.d * b.d AS DECIMAL(27,6))) AS DOUBLE) AS sk
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON a.rn - l.k = b.rn
        GROUP BY l.k
    ),
    rho AS (
        SELECT n.k, d.n, n.sk / d.s0 AS r
        FROM num n CROSS JOIN den d WHERE d.s0 > 0
    )
    SELECT k AS lag,
           CAST(n AS BIGINT) AS n_days,
           floor(r * 1e6 + 0.5) / 1e6 AS rho,
           floor(n * (n + 2)
                 * sum(r * r / (n - k)) OVER (ORDER BY k)
                 * 1e6 + 0.5) / 1e6 AS q_ljung_box
    FROM rho ORDER BY k
    """,
)
def a70_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    idx = daily.select(
        "y", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    m = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("y").cast("decimal(27,0)")).cast("double").alias("sy"),
    ).where(F.col("n") >= 9)
    dev = idx.crossJoin(F.broadcast(m)).select(
        "rn", (F.col("y") - F.col("sy") / F.col("n")).alias("d"), "n"
    )
    den = dev.agg(
        F.sum((F.col("d") * F.col("d")).cast("decimal(27,6)"))
        .cast("double")
        .alias("s0"),
        F.max("n").alias("n"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a, b = dev.alias("a"), dev.alias("b")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("a.rn") - F.col("k") == F.col("b.rn"))
        .groupBy("k")
        .agg(
            F.sum((F.col("a.d") * F.col("b.d")).cast("decimal(27,6)"))
            .cast("double")
            .alias("sk")
        )
    )
    rho = num.crossJoin(F.broadcast(den.where(F.col("s0") > 0))).select(
        "k", "n", (F.col("sk") / F.col("s0")).alias("r")
    )
    n, k, r = F.col("n"), F.col("k"), F.col("r")
    wq = Window.orderBy("k")
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return rho.select(
        k.alias("lag"),
        n.cast("long").alias("n_days"),
        r6(r).alias("rho"),
        r6(n * (n + 2) * F.sum(r * r / (n - k)).over(wq)).alias(
            "q_ljung_box"
        ),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# A71 — Hurst exponent by rescaled-range (R/S) analysis of the daily
# revenue series: blocks of 8/16/32 days each yield R (range of the
# cumulative deviation from the block mean) over S (population std of
# the block); the Hurst estimate is the OLS slope of ln(mean R/S) on
# ln(block size) across the three sizes. Long-memory screen for
# revenue persistence (H > 0.5 trending, < 0.5 mean-reverting).
# Block cumulative sums are per-block windows (size-bounded, ≤32 rows
# — never a global window); the ln() values are floor-quantized to
# 1e9 before the 3-point slope (the a50 idiom: ln is libm, quantize
# before any cross-engine reuse). Incomplete tail blocks drop.
# ---------------------------------------------------------------------------
@query(
    "a71_hurst_rs",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY day) - 1 AS rn FROM daily
    ),
    sizes(sz) AS (VALUES (8), (16), (32)),
    blocks AS (
        SELECT s.sz, i.rn // s.sz AS blk, i.rn, i.y
        FROM idx i JOIN sizes s ON TRUE
    ),
    bstat AS (
        SELECT sz, blk,
               CAST(count(*) AS DOUBLE) AS bc,
               CAST(sum(CAST(y AS DECIMAL(27,2))) AS DOUBLE) AS bs,
               CAST(sum(CAST(y * y AS DECIMAL(27,4))) AS DOUBLE) AS bq
        FROM blocks GROUP BY 1, 2
    ),
    cum AS (
        SELECT b.sz, b.blk,
               CAST(sum(CAST(b.y - s.bs / s.bc AS DECIMAL(27,6)))
                    OVER (PARTITION BY b.sz, b.blk ORDER BY b.rn)
                    AS DOUBLE) AS z,
               s.bc, s.bs, s.bq
        FROM blocks b JOIN bstat s ON b.sz = s.sz AND b.blk = s.blk
        WHERE s.bc = s.sz
    ),
    rs AS (
        SELECT sz, blk,
               (max(z) - min(z))
               / sqrt(max(bq) / max(bc)
                      - (max(bs) / max(bc)) * (max(bs) / max(bc))) AS ratio
        FROM cum
        GROUP BY 1, 2
        HAVING max(bq) / max(bc)
               - (max(bs) / max(bc)) * (max(bs) / max(bc)) > 0
    ),
    mean_rs AS (
        SELECT sz, CAST(count(*) AS DOUBLE) AS nb,
               CAST(sum(CAST(ratio AS DECIMAL(27,6))) AS DOUBLE) AS sr
        FROM rs GROUP BY 1
    ),
    pts AS (
        SELECT floor(ln(CAST(sz AS DOUBLE)) * 1e9 + 0.5) / 1e9 AS lx,
               floor(ln(sr / nb) * 1e9 + 0.5) / 1e9 AS ly,
               sz, nb, sr
        FROM mean_rs WHERE sr / nb > 0
    ),
    fit AS (
        SELECT CAST(count(*) AS DOUBLE) AS np,
               sum(lx) AS sx, sum(ly) AS sy,
               sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
        FROM pts
    )
    SELECT p.sz AS block_size,
           CAST(p.nb AS BIGINT) AS n_blocks,
           floor(p.sr / p.nb * 1e6 + 0.5) / 1e6 AS mean_rs,
           floor((f.np * f.sxy - f.sx * f.sy)
                 / (f.np * f.sxx - f.sx * f.sx) * 1e6 + 0.5) / 1e6
               AS hurst
    FROM pts p CROSS JOIN fit f
    WHERE f.np >= 2 AND f.np * f.sxx - f.sx * f.sx <> 0
    ORDER BY p.sz
    """,
)
def a71_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("y")
        )
    )
    idx = daily.select(
        "y",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("rn"),
    )
    sizes = local_frame(spark, [(8,), (16,), (32,)], "sz int")
    blocks = idx.crossJoin(F.broadcast(sizes)).select(
        "sz", (F.col("rn") / F.col("sz")).cast("long").alias("blk"), "rn", "y"
    )
    dec = lambda c, s: F.sum(c.cast(f"decimal(27,{s})")).cast("double")  # noqa: E731
    bstat = blocks.groupBy("sz", "blk").agg(
        F.count(F.lit(1)).cast("double").alias("bc"),
        dec(F.col("y"), 2).alias("bs"),
        dec(F.col("y") * F.col("y"), 4).alias("bq"),
    )
    cum = (
        blocks.join(bstat, ["sz", "blk"])
        .where(F.col("bc") == F.col("sz"))
        .select(
            "sz",
            "blk",
            F.sum(
                (F.col("y") - F.col("bs") / F.col("bc")).cast("decimal(27,6)")
            )
            .over(Window.partitionBy("sz", "blk").orderBy("rn"))
            .cast("double")
            .alias("z"),
            "bc",
            "bs",
            "bq",
        )
    )
    var = F.max("bq") / F.max("bc") - (F.max("bs") / F.max("bc")) * (
        F.max("bs") / F.max("bc")
    )
    rs = (
        cum.groupBy("sz", "blk")
        .agg(
            ((F.max("z") - F.min("z")) / F.sqrt(var)).alias("ratio"),
            var.alias("v"),
        )
        .where(F.col("v") > 0)
        .drop("v")
    )
    mean_rs = rs.groupBy("sz").agg(
        F.count(F.lit(1)).cast("double").alias("nb"),
        dec(F.col("ratio"), 6).alias("sr"),
    )
    r9 = lambda c_: F.floor(c_ * 1e9 + F.lit(0.5)) / 1e9  # noqa: E731
    pts = mean_rs.where(F.col("sr") / F.col("nb") > 0).select(
        r9(F.log(F.col("sz").cast("double"))).alias("lx"),
        r9(F.log(F.col("sr") / F.col("nb"))).alias("ly"),
        "sz",
        "nb",
        "sr",
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("np"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    np_, sx, sy = F.col("np"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (
        pts.crossJoin(F.broadcast(fit))
        .where((np_ >= 2) & (np_ * sxx - sx * sx != 0))
        .select(
            F.col("sz").alias("block_size"),
            F.col("nb").cast("long").alias("n_blocks"),
            r6(F.col("sr") / F.col("nb")).alias("mean_rs"),
            r6((np_ * sxy - sx * sy) / (np_ * sxx - sx * sx)).alias("hurst"),
        )
        .orderBy("block_size")
    )


# ---------------------------------------------------------------------------
# A72 — Grubbs' outlier statistic on the daily revenue series:
# G = max|y − ȳ|/s (sample std), reported with the day that attains
# it — "is the single most extreme day an outlier" (the statistic is
# emitted; the t-based critical value is the caller's table lookup).
# Mean and std come from one DECIMAL-exact moment pass; the arg-max
# day resolves ties by earliest day (rank over (|dev| DESC, day ASC)
# — a total order). Two passes over the calendar-bounded daily
# compaction, no global sort (the rank window orders ~thousands of
# rows, the same contract as a25/a66).
# ---------------------------------------------------------------------------
@query(
    "a72_grubbs_statistic",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(y AS DECIMAL(27,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(y * y AS DECIMAL(27,4))) AS DOUBLE) AS qy
        FROM daily
    ),
    s AS (
        SELECT n, sy / n AS mu,
               sqrt((qy - sy * sy / n) / (n - 1)) AS sd
        FROM m WHERE n >= 3 AND qy - sy * sy / n > 0
    ),
    ranked AS (
        SELECT d.day, d.y, s.n, s.mu, s.sd,
               abs(d.y - s.mu) AS dev,
               rank() OVER (ORDER BY abs(d.y - s.mu) DESC, d.day) AS r
        FROM daily d CROSS JOIN s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           day AS outlier_day,
           floor(y * 1e2 + 0.5) / 1e2 AS outlier_revenue,
           floor(mu * 1e6 + 0.5) / 1e6 AS mean_revenue,
           floor(sd * 1e6 + 0.5) / 1e6 AS std_revenue,
           floor(dev / sd * 1e6 + 0.5) / 1e6 AS grubbs_g
    FROM ranked WHERE r = 1
    """,
)
def a72_grubbs_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("y")
        )
    )
    dec = lambda c, s: F.sum(c.cast(f"decimal(27,{s})")).cast("double")  # noqa: E731
    m = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("y"), 2).alias("sy"),
        dec(F.col("y") * F.col("y"), 4).alias("qy"),
    )
    n, sy, qy = F.col("n"), F.col("sy"), F.col("qy")
    s = m.where((n >= 3) & (qy - sy * sy / n > 0)).select(
        n.alias("n"),
        (sy / n).alias("mu"),
        F.sqrt((qy - sy * sy / n) / (n - 1)).alias("sd"),
    )
    ranked = daily.crossJoin(F.broadcast(s)).select(
        "day",
        "y",
        "n",
        "mu",
        "sd",
        F.abs(F.col("y") - F.col("mu")).alias("dev"),
        F.rank()
        .over(Window.orderBy(F.abs(F.col("y") - F.col("mu")).desc(), "day"))
        .alias("r"),
    )
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return ranked.where(F.col("r") == 1).select(
        F.col("n").cast("long").alias("n_days"),
        F.col("day").alias("outlier_day"),
        (F.floor(F.col("y") * 1e2 + F.lit(0.5)) / 1e2).alias(
            "outlier_revenue"
        ),
        r6(F.col("mu")).alias("mean_revenue"),
        r6(F.col("sd")).alias("std_revenue"),
        r6(F.col("dev") / F.col("sd")).alias("grubbs_g"),
    )


# ---------------------------------------------------------------------------
# A73 — partial autocorrelation (PACF) of the daily order-count series
# at lags 1–3 via the closed-form Durbin-Levinson recursion on the
# a70-style autocorrelations: φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²);
# φ33 from the level-2 coefficients. The AR-order selection companion
# to a70's white-noise gate. The three ρ̂_k come from the same bounded
# lag self-join (DECIMAL-exact sums); the recursion itself is scalar
# double arithmetic on a 3-row frame pivoted to one row — identical
# per-value FP on both engines, quantized once at output.
# ---------------------------------------------------------------------------
@query(
    "a73_yule_walker_pacf",
    oracle="""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(count(*) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT y, row_number() OVER (ORDER BY day) AS rn FROM daily
    ),
    m AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(y AS DECIMAL(27,0))) AS DOUBLE) AS sy
        FROM idx
    ),
    dev AS (
        SELECT i.rn, i.y - m.sy / m.n AS d, m.n
        FROM idx i CROSS JOIN m WHERE m.n >= 5
    ),
    den AS (
        SELECT CAST(sum(CAST(d * d AS DECIMAL(27,6))) AS DOUBLE) AS s0,
               max(n) AS n
        FROM dev
    ),
    lags(k) AS (VALUES (1), (2), (3)),
    num AS (
        SELECT l.k,
               CAST(sum(CAST(a.d * b.d AS DECIMAL(27,6))) AS DOUBLE) AS sk
        FROM lags l
        JOIN dev a ON TRUE
        JOIN dev b ON a.rn - l.k = b.rn
        GROUP BY l.k
    ),
    r AS (
        SELECT max(CASE WHEN n.k = 1 THEN n.sk / d.s0 END) AS r1,
               max(CASE WHEN n.k = 2 THEN n.sk / d.s0 END) AS r2,
               max(CASE WHEN n.k = 3 THEN n.sk / d.s0 END) AS r3,
               max(d.n) AS n
        FROM num n CROSS JOIN den d WHERE d.s0 > 0
    ),
    p AS (
        SELECT n, r1, r2, r3,
               r1 AS p11,
               (r2 - r1 * r1) / (1 - r1 * r1) AS p22
        FROM r
        WHERE r1 IS NOT NULL AND r2 IS NOT NULL AND r3 IS NOT NULL
          AND 1 - r1 * r1 <> 0
    ),
    p3 AS (
        SELECT n, r1, r2, r3, p11, p22,
               r1 * (1 - p22) AS p21
        FROM p
    ),
    fin AS (
        SELECT n, r1, r2, r3, p11, p22,
               (r3 - p21 * r2 - p22 * r1)
                   / (1 - p21 * r1 - p22 * r2) AS p33
        FROM p3 WHERE 1 - p21 * r1 - p22 * r2 <> 0
    )
    SELECT lag, CAST(n AS BIGINT) AS n_days,
           floor(rho * 1e6 + 0.5) / 1e6 AS rho,
           floor(pacf * 1e6 + 0.5) / 1e6 AS pacf
    FROM (
        SELECT 1 AS lag, n, r1 AS rho, p11 AS pacf FROM fin
        UNION ALL
        SELECT 2, n, r2, p22 FROM fin
        UNION ALL
        SELECT 3, n, r3, p33 FROM fin
    ) ORDER BY lag
    """,
)
def a73_yule_walker_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    idx = daily.select(
        "y", F.row_number().over(Window.orderBy("day")).alias("rn")
    )
    m = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("y").cast("decimal(27,0)")).cast("double").alias("sy"),
    ).where(F.col("n") >= 5)
    dev = idx.crossJoin(F.broadcast(m)).select(
        "rn", (F.col("y") - F.col("sy") / F.col("n")).alias("d"), "n"
    )
    den = dev.agg(
        F.sum((F.col("d") * F.col("d")).cast("decimal(27,6)"))
        .cast("double")
        .alias("s0"),
        F.max("n").alias("n"),
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    a, b = dev.alias("a"), dev.alias("b")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("a.rn") - F.col("k") == F.col("b.rn"))
        .groupBy("k")
        .agg(
            F.sum((F.col("a.d") * F.col("b.d")).cast("decimal(27,6)"))
            .cast("double")
            .alias("sk")
        )
    )
    rho1 = lambda kk: F.max(  # noqa: E731
        F.when(F.col("k") == kk, F.col("sk") / F.col("s0"))
    )
    r = (
        num.crossJoin(F.broadcast(den.where(F.col("s0") > 0)))
        .agg(
            rho1(1).alias("r1"),
            rho1(2).alias("r2"),
            rho1(3).alias("r3"),
            F.max("n").alias("n"),
        )
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p = r.where(
        r1.isNotNull()
        & r2.isNotNull()
        & r3.isNotNull()
        & (1 - r1 * r1 != 0)
    ).select(
        "n",
        "r1",
        "r2",
        "r3",
        r1.alias("p11"),
        ((r2 - r1 * r1) / (1 - r1 * r1)).alias("p22"),
    )
    p3 = p.select("*", (r1 * (1 - F.col("p22"))).alias("p21"))
    p21, p22 = F.col("p21"), F.col("p22")
    fin = p3.where(1 - p21 * r1 - p22 * r2 != 0).select(
        "n",
        "r1",
        "r2",
        "r3",
        "p11",
        "p22",
        (
            (r3 - p21 * r2 - p22 * r1) / (1 - p21 * r1 - p22 * r2)
        ).alias("p33"),
    )
    rows = (
        fin.select(
            F.lit(1).alias("lag"),
            F.col("n"),
            r1.alias("rho"),
            F.col("p11").alias("pacf"),
        )
        .unionAll(
            fin.select(
                F.lit(2).alias("lag"), F.col("n"), r2.alias("rho"), p22.alias("pacf")
            )
        )
        .unionAll(
            fin.select(
                F.lit(3).alias("lag"),
                F.col("n"),
                r3.alias("rho"),
                F.col("p33").alias("pacf"),
            )
        )
    )
    r6 = lambda c_: F.floor(c_ * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return rows.select(
        "lag",
        F.col("n").cast("long").alias("n_days"),
        r6(F.col("rho")).alias("rho"),
        r6(F.col("pacf")).alias("pacf"),
    ).orderBy("lag")
