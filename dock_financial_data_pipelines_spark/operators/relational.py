"""Relational core: projection, predicates, scalar functions, sort/limit,
set operations, exact dedup (SURVEY.md §2-B P1-P6, F1-F3, T1-T2, U1-U3).

The reference's only "query" was string/date manipulation inside its DAG
tasks (suffix filter REPORT:200, date arithmetic REPORT:59, URL concat
REPORT:62, JSON field access REPORT:39) — here each becomes a first-class
columnar operator over the fact tables, so Catalyst gets predicate
pushdown / column pruning / constant folding for free (SURVEY.md §4.2).

Scale notes: every query here is a scan→filter→project→(agg) pipeline
with no shuffle other than the final aggregation; filters and projections
compile to parquet pushdown + whole-stage codegen, which is exactly the
shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import dec_sum, load
from dock_financial_data_pipelines_spark.hashing import h60_sql
from dock_financial_data_pipelines_spark.registry import query


# ---------------------------------------------------------------------------
# Flagship (SURVEY.md §7 step 1): the reference's daily balance report
# (README:47-54) restated — per market segment and order month, total
# billed amount and order count over a date window.
# ---------------------------------------------------------------------------
@query(
    "flagship_segment_monthly_revenue",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           strftime(date_trunc('month', o.o_orderdate), '%Y-%m-%d') AS order_month,
           round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,4))), 2)::DOUBLE AS revenue,
           count(DISTINCT o.o_orderkey) AS order_count,
           count(*) AS line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
    """,
)
def flagship_segment_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("c_mktsegment").alias("mktsegment"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "order_month"
            ),
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.countDistinct("o_orderkey").alias("order_count"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# ---------------------------------------------------------------------------
# P1 — projection / alias / computed column
# ---------------------------------------------------------------------------
@query(
    "p1_project_compute",
    # Per-row money rounding uses floor(x*100 + 0.5)/100 in BOTH engines:
    # price×rate products land exactly on .xx5 half-boundaries, where
    # Spark's BigDecimal HALF_UP and DuckDB's float rounding disagree;
    # this formula is pure IEEE arithmetic, so it is bit-identical.
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 + l_tax) * 100 + 0.5) / 100 AS gross_price,
           floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS net_price,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
    WHERE l_orderkey < 500
    """,
)
def p1_project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    def money(col):
        return F.floor(col * 100 + 0.5).cast("double") / 100

    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 500)
        .select(
            "l_orderkey",
            "l_linenumber",
            money(F.col("l_extendedprice") * (1 + F.col("l_tax"))).alias(
                "gross_price"
            ),
            money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "net_price"
            ),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )


# ---------------------------------------------------------------------------
# P2 — comparison / range predicates
# ---------------------------------------------------------------------------
@query(
    "p2_range_predicates",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(CAST(l_extendedprice AS DECIMAL(27,2))), 2)::DOUBLE AS sum_price
    FROM lineitem
    WHERE l_quantity > 25 AND l_discount >= 0.02 AND l_discount < 0.07
          AND l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY 1
    """,
)
def p2_range_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_quantity") > 25)
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") < 0.07)
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("l_extendedprice", scale=2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# P3 — IN-list and BETWEEN
# ---------------------------------------------------------------------------
@query(
    "p3_in_between",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice BETWEEN 50000 AND 200000
    GROUP BY 1
    """,
)
def p3_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .where(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_totalprice").between(50000, 200000)
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# P4 — LIKE / prefix / suffix / contains (generalizes the reference's
# `.endswith(".zip")` suffix filter, REPORT:200)
# ---------------------------------------------------------------------------
@query(
    "p4_string_predicates",
    oracle="""
    SELECT p_brand,
           count(*) AS n_parts,
           CAST(sum(CASE WHEN p_type LIKE 'ECONOMY%' THEN 1 ELSE 0 END) AS BIGINT) AS n_economy,
           CAST(sum(CASE WHEN p_name LIKE '%widget%' THEN 1 ELSE 0 END) AS BIGINT) AS n_widget,
           CAST(sum(CASE WHEN p_name LIKE '%gadget' THEN 1 ELSE 0 END) AS BIGINT) AS n_gadget_suffix
    FROM part
    GROUP BY 1
    """,
)
def p4_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.when(F.col("p_type").startswith("ECONOMY"), 1).otherwise(0)).alias(
            "n_economy"
        ),
        F.sum(F.when(F.col("p_name").contains("widget"), 1).otherwise(0)).alias(
            "n_widget"
        ),
        F.sum(F.when(F.col("p_name").endswith("gadget"), 1).otherwise(0)).alias(
            "n_gadget_suffix"
        ),
    )


# ---------------------------------------------------------------------------
# P5 — NULL semantics (the reference's null-guards R11 as data-quality ops)
# ---------------------------------------------------------------------------
@query(
    "p5_null_semantics",
    oracle="""
    SELECT coalesce(nullif(l_returnflag, 'N'), 'NONE') AS flag,
           count(*) AS n_rows,
           count(nullif(l_returnflag, 'N')) AS n_nonnull,
           CAST(sum(CASE WHEN nullif(l_returnflag, 'N') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
    FROM lineitem
    GROUP BY 1
    """,
)
def p5_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").withColumn(
        "nf", F.nullif(F.col("l_returnflag"), F.lit("N"))
    )
    return li.groupBy(F.coalesce(F.col("nf"), F.lit("NONE")).alias("flag")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("nf").alias("n_nonnull"),
        F.sum(F.when(F.col("nf").isNull(), 1).otherwise(0)).alias("n_null"),
    )


# ---------------------------------------------------------------------------
# P6 — conditional expression (CASE WHEN)
# ---------------------------------------------------------------------------
@query(
    "p6_case_when_bucketing",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END AS bucket,
           count(*) AS n,
           round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)::DOUBLE AS total
    FROM orders
    GROUP BY 1
    """,
)
def p6_case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("o_totalprice", scale=2).alias("total"),
    )


# ---------------------------------------------------------------------------
# F1 — string functions (generalizes URL/path construction REPORT:62,99,138)
# ---------------------------------------------------------------------------
@query(
    "f1_string_functions",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           substr(c_name, 10, 9) AS cust_num,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
           length(c_name) AS name_len,
           concat('dock/balances/', CAST(c_custkey AS VARCHAR), '.zip') AS s3_key,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           replace(c_name, 'Customer', 'Account') AS renamed
    FROM customer
    WHERE c_custkey < 60
    """,
)
def f1_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 60)
        .select(
            "c_custkey",
            F.upper("c_mktsegment").alias("seg_upper"),
            F.substring("c_name", 10, 9).alias("cust_num"),
            F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
            F.length("c_name").alias("name_len"),
            F.concat(
                F.lit("dock/balances/"),
                F.col("c_custkey").cast("string"),
                F.lit(".zip"),
            ).alias("s3_key"),
            F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
            F.regexp_replace("c_name", "Customer", "Account").alias("renamed"),
        )
    )


# ---------------------------------------------------------------------------
# F2 — date/time functions (generalizes REPORT:59 date arithmetic)
# ---------------------------------------------------------------------------
@query(
    "f2_date_functions",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS order_quarter,
           strftime(CAST(o_orderdate AS DATE) - INTERVAL 1 DAY, '%Y-%m-%d') AS prev_day,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end
    FROM orders
    WHERE o_orderkey < 300
    """,
)
def f2_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("o_orderdate").cast("date")
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            F.date_format(d, "yyyy-MM-dd").alias("order_date"),
            F.year(d).alias("order_year"),
            F.month(d).alias("order_month"),
            F.dayofmonth(d).alias("order_day"),
            F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
                "order_quarter"
            ),
            F.date_format(F.date_sub(d, 1), "yyyy-MM-dd").alias("prev_day"),
            F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
            F.datediff(d, F.lit("1995-01-01").cast("date")).alias(
                "days_since_epoch_start"
            ),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        )
    )


# ---------------------------------------------------------------------------
# F3 — math / money functions
# ---------------------------------------------------------------------------
@query(
    "f3_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 50000) AS dist_from_50k,
           CAST(ceil(l_quantity / 10) AS BIGINT) AS qty_decile,
           CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct,
           round(power(l_quantity, 2), 4) AS qty_sq,
           greatest(l_discount, l_tax) AS max_rate,
           least(l_discount, l_tax) AS min_rate,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
           round(sqrt(l_extendedprice), 6) AS price_sqrt
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)
def f3_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 200)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_extendedprice") - 50000).alias("dist_from_50k"),
            F.ceil(F.col("l_quantity") / 10).alias("qty_decile"),
            F.floor(F.col("l_discount") * 100).alias("disc_pct"),
            F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
            F.greatest("l_discount", "l_tax").alias("max_rate"),
            F.least("l_discount", "l_tax").alias("min_rate"),
            (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod7"),
            F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        )
    )


# ---------------------------------------------------------------------------
# F3b — DecimalType money policy (SURVEY.md §4.3): balances accumulate in
# DECIMAL(18,2) — exact, order-independent — never in floats. Output as
# string so both engines' decimal renderings are compared exactly.
# ---------------------------------------------------------------------------
@query(
    "f3_decimal_money",
    oracle="""
    SELECT o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total_exact,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS min_exact,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def f3_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    money = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.sum(money).cast("decimal(18,2)").cast("string").alias("total_exact"),
            F.min(money).cast("string").alias("min_exact"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# T1 — multi-key sort with explicit null ordering; position captured as a
# value column so the order itself is hash-checked.
# ---------------------------------------------------------------------------
@query(
    "t1_multikey_sort",
    oracle="""
    SELECT row_number() OVER (
               ORDER BY o_orderstatus DESC, o_totalprice DESC, o_orderkey ASC
           ) AS pos,
           o_orderkey, o_orderstatus,
           round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_totalprice > 350000
    """,
)
def t1_multikey_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.orderBy(
        F.col("o_orderstatus").desc_nulls_last(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey").asc(),
    )
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 350000)
        .select(
            F.row_number().over(w).alias("pos"),
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# T2 — global top-k (TakeOrderedAndProject physical op)
# ---------------------------------------------------------------------------
@query(
    "t2_global_topk",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def t2_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# U1 — UNION ALL / UNION DISTINCT
# ---------------------------------------------------------------------------
@query(
    "u1_union_counts",
    oracle="""
    WITH u AS (
        SELECT o_custkey AS k FROM orders
        UNION ALL
        SELECT c_custkey AS k FROM customer
    )
    SELECT count(*) AS n_all, count(DISTINCT k) AS n_distinct FROM u
    """,
)
def u1_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    b = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return a.unionByName(b).agg(
        F.count(F.lit(1)).alias("n_all"),
        F.countDistinct("k").alias("n_distinct"),
    )


# ---------------------------------------------------------------------------
# U2 — INTERSECT / EXCEPT
# ---------------------------------------------------------------------------
@query(
    "u2_intersect",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def u2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y97 = orders.where(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    return y96.intersect(y97)


@query(
    "u2_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def u2_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    y96 = (
        load(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1996)
        .select(F.col("o_custkey").alias("custkey"))
    )
    # DataFrame.subtract == SQL set EXCEPT (dedups the left side first),
    # correct even when the left input carries duplicates.
    return cust.subtract(y96)


# ---------------------------------------------------------------------------
# U5 — snapshot diff (changed-data detection between two loads): rows
# only in A → 'removed', only in B → 'added'. The engine form of
# auditing what a re-ingest changed (the reference just overwrote,
# REPORT:172 — this makes the delta observable).
# ---------------------------------------------------------------------------
@query(
    "u5_snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT o_custkey, count(*) AS n_orders FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-01-01' GROUP BY 1
    ),
    snap_b AS (
        SELECT o_custkey, count(*) AS n_orders FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1
    )
    SELECT 'removed' AS change_type, o_custkey, n_orders
    FROM (SELECT * FROM snap_a EXCEPT SELECT * FROM snap_b)
    UNION ALL
    SELECT 'added' AS change_type, o_custkey, n_orders
    FROM (SELECT * FROM snap_b EXCEPT SELECT * FROM snap_a)
    """,
)
def u5_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")

    def snapshot(cutoff: str) -> DataFrame:
        return (
            orders.where(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"))
        )

    snap_a, snap_b = snapshot("1998-01-01"), snapshot("1999-01-01")
    removed = snap_a.exceptAll(snap_b).withColumn("change_type", F.lit("removed"))
    added = snap_b.exceptAll(snap_a).withColumn("change_type", F.lit("added"))
    return removed.unionByName(added).select("change_type", "o_custkey", "n_orders")


# ---------------------------------------------------------------------------
# A12 — histogram (fixed-width binning, one aggregate pass)
# ---------------------------------------------------------------------------
@query(
    "a12_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
           count(*) AS n,
           round(min(o_totalprice), 2) AS bin_min,
           round(max(o_totalprice), 2) AS bin_max
    FROM orders GROUP BY 1
    """,
)
def a12_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


# ---------------------------------------------------------------------------
# U3 — exact dedup by key, keep-latest (the engine restatement of the
# reference's idempotent overwrite semantics, REPORT:172 replace=True)
# ---------------------------------------------------------------------------
@query(
    "u3_dedup_keep_latest",
    oracle="""
    SELECT user_id, event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           round(value, 2) AS value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def u3_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.floor(F.unix_timestamp("ts")).cast("bigint").alias("ts_epoch"),
            F.round("value", 2).alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# U6 — deterministic stratified sampling: a fixed-rate sample per
# stratum keyed by a content hash, so every engine (and every re-run)
# draws the SAME sample — the reproducibility property a training-data
# pipeline needs for held-out splits. The md5-bucket expression is
# engine-portable, which makes even the sampling itself oracle-checkable.
# At 100 TB this is a map-only filter (no shuffle before the audit agg).
# ---------------------------------------------------------------------------
@query(
    "u6_stratified_sample",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_total,
           CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 20
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM customer GROUP BY 1
    """,
)
def u6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    return (
        load(spark, sf_dir, "customer")
        .withColumn("in_sample", (bucket < 20).cast("long"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("in_sample").alias("n_sampled"),
        )
    )


# ---------------------------------------------------------------------------
# U7 — SCD2 (slowly-changing-dimension type 2) history build: two
# snapshots of per-user balances (mid-month and final) merge into
# validity-interval rows — the warehouse-side form of the reference's
# daily re-extraction (REPORT:59: each day's run restates state).
# Changed users get two versions; unchanged get one open row.
# ---------------------------------------------------------------------------
@query(
    "u7_scd2_history",
    oracle="""
    WITH snap_a AS (
        SELECT user_id, round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS balance
        FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1
    ),
    snap_b AS (
        SELECT user_id, round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS balance
        FROM events GROUP BY 1
    )
    SELECT a.user_id, 1 AS version, '2024-01-01' AS valid_from,
           CASE WHEN b.balance <> a.balance THEN '2024-01-15' END AS valid_to,
           a.balance
    FROM snap_a a JOIN snap_b b USING (user_id)
    UNION ALL
    SELECT b.user_id, 2 AS version, '2024-01-15' AS valid_from,
           NULL AS valid_to, b.balance
    FROM snap_b b JOIN snap_a a USING (user_id)
    WHERE b.balance <> a.balance
    UNION ALL
    SELECT b.user_id, 1 AS version, '2024-01-15' AS valid_from,
           NULL AS valid_to, b.balance
    FROM snap_b b LEFT JOIN snap_a a USING (user_id)
    WHERE a.user_id IS NULL
    """,
)
def u7_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    snap_a = (
        ev.where(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        .groupBy("user_id")
        .agg(dec_sum("value", scale=6).alias("bal_a"))
    )
    snap_b = ev.groupBy("user_id").agg(dec_sum("value", scale=6).alias("bal_b"))
    merged = snap_b.join(snap_a, "user_id", "left")
    changed = F.col("bal_a").isNotNull() & (F.col("bal_b") != F.col("bal_a"))
    v1_existing = merged.where(F.col("bal_a").isNotNull()).select(
        "user_id",
        F.lit(1).alias("version"),
        F.lit("2024-01-01").alias("valid_from"),
        F.when(changed, F.lit("2024-01-15")).alias("valid_to"),
        F.col("bal_a").alias("balance"),
    )
    v2_changed = merged.where(changed).select(
        "user_id",
        F.lit(2).alias("version"),
        F.lit("2024-01-15").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.col("bal_b").alias("balance"),
    )
    v1_new = merged.where(F.col("bal_a").isNull()).select(
        "user_id",
        F.lit(1).alias("version"),
        F.lit("2024-01-15").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.col("bal_b").alias("balance"),
    )
    return v1_existing.unionByName(v2_changed).unionByName(v1_new)


# ---------------------------------------------------------------------------
# SQL surface — the whole query as SQL text over registered views (the
# spark.sql entry path a SQL-first consumer uses). The statement below
# is dialect-shared, so the oracle is the IDENTICAL string.
# ---------------------------------------------------------------------------
_SQL_SURFACE_STMT = """
SELECT c.c_mktsegment AS mktsegment,
       o.o_orderstatus AS orderstatus,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(27,2))), 2) AS DOUBLE) AS total,
       round(avg(o.o_totalprice), 4) AS avg_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 10000
GROUP BY 1, 2
"""


@query("sql_surface_report", oracle=_SQL_SURFACE_STMT)
def sql_surface_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import dec_sum, load as _load

    _load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_SQL_SURFACE_STMT)


# ---------------------------------------------------------------------------
# U8 — CDC apply: a change feed folds into a base snapshot with
# last-write-wins updates and tombstone deletes — the MERGE INTO
# semantics of a warehouse upsert, expressed engine-agnostically.
# Feed mapping over events: 'error' = tombstone for the user's record,
# anything else = upsert carrying the event's value; latest change wins
# (ts, event_id ordered).
# ---------------------------------------------------------------------------
@query(
    "u8_cdc_apply",
    oracle="""
    WITH latest_change AS (
        SELECT user_id, event_type, value
        FROM (
            SELECT user_id, event_type, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) WHERE rn = 1
    )
    SELECT c.c_custkey AS custkey,
           round(coalesce(lc.value, c.c_acctbal), 2) AS current_balance,
           CASE WHEN lc.user_id IS NULL THEN 'unchanged' ELSE 'updated' END AS cdc_status
    FROM customer c
    LEFT JOIN latest_change lc
      ON lc.user_id = c.c_custkey AND lc.event_type <> 'error'
    WHERE NOT EXISTS (
        SELECT 1 FROM latest_change d
        WHERE d.user_id = c.c_custkey AND d.event_type = 'error'
    )
    """,
)
def u8_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    latest = (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
    )
    tombstones = latest.where(F.col("event_type") == "error").select("user_id")
    upserts = latest.where(F.col("event_type") != "error")
    return (
        cust.join(tombstones, cust.c_custkey == tombstones.user_id, "left_anti")
        .join(upserts, cust.c_custkey == upserts.user_id, "left")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.round(F.coalesce("value", "c_acctbal"), 2).alias("current_balance"),
            F.when(F.col("user_id").isNull(), "unchanged")
            .otherwise("updated")
            .alias("cdc_status"),
        )
    )


# ---------------------------------------------------------------------------
# U2b — bag semantics: INTERSECT ALL / EXCEPT ALL (duplicates preserved
# by multiplicity — the semantics u2's set forms deliberately collapse).
# ---------------------------------------------------------------------------
@query(
    "u2_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def u2_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y97 = orders.where(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    return y96.intersectAll(y97)


@query(
    "u2_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
)
def u2_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    y97 = orders.where(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    return y96.exceptAll(y97)


# ---------------------------------------------------------------------------
# A15 — ordered string aggregation (listagg): per-priority CSV of
# order statuses. Deterministic via sort before join: Spark's
# collect_list order is nondeterministic, so sort_array fixes it —
# matching the oracle's ORDER BY inside string_agg.
# ---------------------------------------------------------------------------
@query(
    "a15_string_agg",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def a15_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderstatus")), ","
            ).alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# T3 — keyset-stable pagination: ORDER BY + LIMIT/OFFSET. Spark's
# offset() is pushed into the same TakeOrdered as the limit; the unique
# (totalprice, orderkey) ordering makes every page deterministic.
# ---------------------------------------------------------------------------
@query(
    "t3_pagination_offset",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 20
    """,
)
def t3_pagination_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(20)
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


# ---------------------------------------------------------------------------
# A20 — conditional / boolean aggregates: count_if, bool_and, bool_or —
# the data-quality assertion primitives (every/any semantics).
# ---------------------------------------------------------------------------
@query(
    "a20_conditional_bool_aggs",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           count(*) AS n
    FROM orders GROUP BY 1
    """,
)
def a20_conditional_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# U9 — GDPR erasure (right-to-be-forgotten): drop every event belonging
# to a deterministic erasure cohort and report the audit trail the
# compliance run must emit (rows before/after, rows erased, users
# erased, proof that no erased user survives). The erase itself is one
# broadcast anti-join — at 100 TB the rewrite touches only the
# partitions holding the cohort (partition pruning on the date key),
# and the audit aggregate rides the same scan.
# ---------------------------------------------------------------------------
@query(
    "u9_gdpr_erasure",
    oracle="""
    WITH erase AS (
        SELECT c_custkey AS user_id FROM customer WHERE c_custkey % 37 = 0
    ),
    kept AS (
        SELECT e.* FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM erase x WHERE x.user_id = e.user_id)
    )
    SELECT (SELECT count(*) FROM events) AS rows_before,
           (SELECT count(*) FROM kept) AS rows_after,
           (SELECT count(*) FROM events) - (SELECT count(*) FROM kept) AS rows_erased,
           (SELECT count(DISTINCT e.user_id) FROM events e
             JOIN erase x ON x.user_id = e.user_id) AS users_erased,
           (SELECT count(*) FROM kept k
             JOIN erase x ON x.user_id = k.user_id) AS residual_rows
    """,
)
def u9_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    erase = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 37 == 0)
        .select(F.col("c_custkey").alias("user_id"))
    )
    kept = events.join(F.broadcast(erase), "user_id", "left_anti")
    erased_users = (
        events.join(F.broadcast(erase), "user_id", "left_semi")
        .agg(F.countDistinct("user_id").alias("users_erased"))
    )
    residual = (
        kept.join(F.broadcast(erase), "user_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("residual_rows"))
    )
    before = events.agg(F.count(F.lit(1)).alias("rows_before"))
    after = kept.agg(F.count(F.lit(1)).alias("rows_after"))
    return (
        before.crossJoin(after)  # 1-row x 1-row combines
        .withColumn("rows_erased", F.col("rows_before") - F.col("rows_after"))
        .crossJoin(erased_users)
        .crossJoin(residual)
        .select(
            "rows_before", "rows_after", "rows_erased",
            "users_erased", "residual_rows",
        )
    )


# ---------------------------------------------------------------------------
# U12 — pseudonymized analytics export with k-anonymity suppression:
# customer identity is replaced by a deterministic salted-md5 token
# (stable across runs/engines, unlinkable without the salt), and
# groups below the k=5 suppression floor are dropped — the shape every
# privacy-reviewed data export takes (the GDPR-erasure sibling of u9).
# Revenue is DECIMAL-exact; the token is a pure projection so the plan
# is the same star join + aggregate as the identified form.
# ---------------------------------------------------------------------------
_PSEUDO_SALT = "dock-export-2024"
_KANON = 5


@query(
    "u12_pseudonymized_export",
    oracle=f"""
    SELECT substr(md5('{_PSEUDO_SALT}#' || CAST(c.c_custkey AS VARCHAR)),
                  1, 16) AS cust_token,
           c.c_mktsegment AS segment,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(27,2))) AS DOUBLE)
               AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    HAVING count(*) >= {_KANON}
    """,
)
def u12_pseudonymized_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    token = F.substring(
        F.md5(
            F.concat(
                F.lit(f"{_PSEUDO_SALT}#"), F.col("c_custkey").cast("string")
            )
        ),
        1,
        16,
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            token.alias("cust_token"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .where(F.col("n_orders") >= _KANON)
    )


# ---------------------------------------------------------------------------
# U13 — as-of dimensional attribution against the SCD2 history: every
# event joined to the balance VERSION valid at its timestamp
# (valid_from ≤ day < valid_to) — the "facts must see the dim as it
# was" join every warehouse needs once dims start changing. The
# history is the u7_scd2_history output (recomputed inline; at scale
# it is the persisted SCD2 table), tiny per key → broadcast; the
# validity predicate is a string-date comparison, exact on both
# engines. Output: per (version window) event counts + DECIMAL value.
# ---------------------------------------------------------------------------
@query(
    "u13_asof_dim_attribution",
    oracle="""
    WITH snap_a AS (
        SELECT user_id,
               round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS balance
        FROM events WHERE ts < TIMESTAMP '2024-01-15' GROUP BY 1
    ),
    snap_b AS (
        SELECT user_id,
               round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS balance
        FROM events GROUP BY 1
    ),
    hist AS (
        SELECT a.user_id, 1 AS version, '2024-01-01' AS valid_from,
               CASE WHEN b.balance <> a.balance THEN '2024-01-15' END
                   AS valid_to
        FROM snap_a a JOIN snap_b b USING (user_id)
        UNION ALL
        SELECT b.user_id, 2, '2024-01-15', NULL
        FROM snap_b b JOIN snap_a a USING (user_id)
        WHERE b.balance <> a.balance
        UNION ALL
        SELECT b.user_id, 1, '2024-01-15', NULL
        FROM snap_b b LEFT JOIN snap_a a USING (user_id)
        WHERE a.user_id IS NULL
    )
    SELECT h.user_id, h.version,
           count(*) AS n_events,
           round(sum(CAST(e.value AS DECIMAL(27,6))), 2)::DOUBLE
               AS attributed_value
    FROM events e JOIN hist h
      ON e.user_id = h.user_id
     AND strftime(e.ts, '%Y-%m-%d') >= h.valid_from
     AND (h.valid_to IS NULL OR strftime(e.ts, '%Y-%m-%d') < h.valid_to)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def u13_asof_dim_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    hist = u7_scd2_history(spark, sf_dir).select(
        "user_id", "version", "valid_from", "valid_to"
    )
    day = F.date_format("ts", "yyyy-MM-dd")
    return (
        ev.join(
            F.broadcast(hist),
            (ev.user_id == hist.user_id)
            & (day >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (day < F.col("valid_to"))),
        )
        .drop(hist.user_id)
        .groupBy("user_id", "version")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", scale=6).alias("attributed_value"),
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------------------
# U14 — build an SCD2 dimension from a change stream (gaps-and-islands):
# each user's event stream collapses into validity intervals of
# consecutive identical event_type — change detection via lag(), island
# ids via a running sum of change flags, then one aggregate per island
# for valid_from / valid_to / is_current. The standard CDC-to-dimension
# construction (u7 is the snapshot-diff variant; this is the
# stream-fold variant). One shuffle on user_id feeds both windows and
# the final aggregate.
# ---------------------------------------------------------------------------
@query(
    "u14_scd2_build",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_type, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, event_type, ts_s, event_id,
               sum(chg) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    segs AS (
        SELECT user_id, island,
               min(event_type) AS attr_value,
               min(ts_s) AS valid_from,
               count(*) AS n_events
        FROM islands GROUP BY 1, 2
    )
    SELECT user_id, CAST(island AS BIGINT) AS version,
           attr_value, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
               AS valid_to,
           CASE WHEN lead(valid_from) OVER (
                    PARTITION BY user_id ORDER BY island)
                IS NULL THEN 1 ELSE 0 END AS is_current,
           n_events
    FROM segs
    """,
)
def u14_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.when(
            ~F.lag("event_type").over(w_seq).eqNullSafe(F.col("event_type")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("chg"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = flagged.withColumn("island", F.sum("chg").over(w_cum))
    segs = islands.groupBy("user_id", "island").agg(
        F.min("event_type").alias("attr_value"),
        F.min("ts_s").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_ver = Window.partitionBy("user_id").orderBy("island")
    nxt = F.lead("valid_from").over(w_ver)
    return segs.select(
        "user_id",
        F.col("island").cast("long").alias("version"),
        "attr_value",
        "valid_from",
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# U15 — late-arriving dimension repair: facts land before some of
# their dimension members exist (customers with custkey % 17 == 0
# simulate the late feed), the first pass books them against the
# UNKNOWN member (the inferred-member DW pattern — never drop, never
# block the load), and the repair pass re-attributes once the full
# dimension arrives. Output is the before/after segment revenue with
# the re-attributed amount per segment — the reconciliation a
# warehouse team reviews after every late-feed catch-up. Both passes
# are broadcast dim joins; the repair touches only facts booked to
# UNKNOWN (a filtered re-join, not a full reload).
# ---------------------------------------------------------------------------
@query(
    "u15_late_dim_repair",
    oracle="""
    WITH early_dim AS (
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey % 17 <> 0
    ),
    first_pass AS (
        SELECT coalesce(d.c_mktsegment, 'UNKNOWN') AS segment,
               CAST(o.o_totalprice AS DECIMAL(27,2)) AS amt,
               o.o_custkey
        FROM orders o LEFT JOIN early_dim d ON o.o_custkey = d.c_custkey
    ),
    repaired AS (
        SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
               CAST(o.o_totalprice AS DECIMAL(27,2)) AS amt
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    before AS (
        SELECT segment, sum(amt) AS rev_before FROM first_pass GROUP BY 1
    ),
    after AS (
        SELECT segment, sum(amt) AS rev_after FROM repaired GROUP BY 1
    )
    SELECT coalesce(b.segment, a.segment) AS segment,
           floor(CAST(coalesce(b.rev_before, 0) AS DOUBLE) * 1e2 + 0.5)
               / 1e2 AS rev_before,
           floor(CAST(coalesce(a.rev_after, 0) AS DOUBLE) * 1e2 + 0.5)
               / 1e2 AS rev_after,
           floor(CAST(coalesce(a.rev_after, 0) - coalesce(b.rev_before, 0)
                      AS DOUBLE) * 1e2 + 0.5) / 1e2 AS reattributed
    FROM before b FULL OUTER JOIN after a ON b.segment = a.segment
    ORDER BY segment
    """,
)
def u15_late_dim_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import maybe_broadcast

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(27,2)").alias("amt")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    early = c.where(F.col("c_custkey") % 17 != 0)
    first_pass = (
        o.join(maybe_broadcast(early), o.o_custkey == early.c_custkey, "left")
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            ),
            "amt",
        )
        .groupBy("segment")
        .agg(F.sum("amt").alias("rev_before"))
    )
    repaired = (
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey, "left")
        .select(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias(
                "segment"
            ),
            "amt",
        )
        .groupBy("segment")
        .agg(F.sum("amt").alias("rev_after"))
    )
    f2 = lambda col: F.floor(col.cast("double") * 1e2 + F.lit(0.5)) / 1e2
    joined = first_pass.withColumnRenamed("segment", "sb").join(
        repaired.withColumnRenamed("segment", "sa"),
        F.col("sb") == F.col("sa"),
        "full_outer",
    )
    zero = F.lit(0).cast("decimal(27,2)")
    return joined.select(
        F.coalesce(F.col("sb"), F.col("sa")).alias("segment"),
        f2(F.coalesce(F.col("rev_before"), zero)).alias("rev_before"),
        f2(F.coalesce(F.col("rev_after"), zero)).alias("rev_after"),
        f2(
            F.coalesce(F.col("rev_after"), zero)
            - F.coalesce(F.col("rev_before"), zero)
        ).alias("reattributed"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# U16 — retention-policy dedup: keep the latest K=3 versions per key
# (u3_dedup_keep_latest generalized from K=1) — the version-pruning
# pass every snapshot store / feature store runs. One partitioned
# row_number, no global sort; at 100 TB this is a single hash shuffle
# on the key, and the K filter pushes into the per-partition sort via
# the window's rank predicate.
# ---------------------------------------------------------------------------
_KEEP_K = 3


@query(
    "u16_keep_latest_k",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_date, keep_rank
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC,
                                           o_orderkey DESC) AS keep_rank
        FROM orders
    )
    WHERE keep_rank <= {_KEEP_K}
    ORDER BY o_custkey, keep_rank
    """,
)
def u16_keep_latest_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        load(spark, sf_dir, "orders")
        .withColumn("keep_rank", F.row_number().over(w))
        .where(F.col("keep_rank") <= _KEEP_K)
        .select(
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            "keep_rank",
        )
        .orderBy("o_custkey", "keep_rank")
    )


# ---------------------------------------------------------------------------
# T4 — KEYSET (seek-method) pagination: the scale-correct sibling of
# t3's LIMIT/OFFSET. Offset pagination sorts and discards O(offset)
# rows per page — page 10 million of a 100 TB result is a full
# re-sort; keyset pagination filters on the last-seen ordering key
# ((date, orderkey) > boundary) so every page is a pushed-down
# predicate + top-k, O(page) regardless of depth. The boundary row
# (end of page 2 at page size 100) is itself derived with a top-k —
# in a real API it arrives with the cursor. Unique (date, key)
# ordering makes every page deterministic.
# ---------------------------------------------------------------------------
_PAGE = 100


@query(
    "t4_keyset_pagination",
    oracle=f"""
    WITH boundary AS (
        SELECT o_orderdate AS bd, o_orderkey AS bk
        FROM orders
        ORDER BY o_orderdate, o_orderkey
        LIMIT 1 OFFSET {2 * _PAGE - 1}
    )
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
           round(o_totalprice, 2) AS totalprice
    FROM orders, boundary
    WHERE (o_orderdate > bd)
       OR (o_orderdate = bd AND o_orderkey > bk)
    ORDER BY o_orderdate, o_orderkey
    LIMIT {_PAGE}
    """,
)
def t4_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # last row of page 2 — the "cursor" a caller would hand back
    boundary = (
        o.orderBy("o_orderdate", "o_orderkey")
        .offset(2 * _PAGE - 1)
        .limit(1)
        .select(
            F.col("o_orderdate").alias("bd"), F.col("o_orderkey").alias("bk")
        )
    )
    return (
        o.crossJoin(F.broadcast(boundary))
        .where(
            (F.col("o_orderdate") > F.col("bd"))
            | (
                (F.col("o_orderdate") == F.col("bd"))
                & (F.col("o_orderkey") > F.col("bk"))
            )
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_PAGE)
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_date"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# U17 — BITEMPORAL as-of: the two-axis time query every regulated
# warehouse must answer — "what did we believe customer X's priority
# was, as of VALID time V, given only what had been RECORDED by
# transaction time T" vs what we believe NOW. Versions come from
# orders (valid_from = order date); the recording lag is
# (o_orderkey % 3) days, so some versions were not yet known at T and
# the then-vs-now picks differ — the `was_corrected` flag surfaces
# exactly the late-recorded rows (u15_late_dim_repair's temporal
# sibling). V = ledger close − 180 d, T = V + 1 d, both derived from
# the data (reproducible, no wall clock). Two partitioned top-1
# windows; one shuffle each on the customer key, scale-indifferent.
# ---------------------------------------------------------------------------
@query(
    "u17_bitemporal_asof",
    oracle="""
    WITH closing AS (
        SELECT max(CAST(o_orderdate AS DATE)) - 180 AS v_date,
               max(CAST(o_orderdate AS DATE)) - 179 AS t_date
        FROM orders
    ),
    versions AS (
        SELECT o_custkey AS custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS valid_from,
               CAST(o_orderdate AS DATE) + CAST(o_orderkey % 3 AS INT)
                   AS tx_time,
               o_orderpriority AS prio
        FROM orders
    ),
    then_pick AS (
        SELECT custkey, prio AS prio_known_at_t, valid_from AS vf_then
        FROM (
            SELECT v.*, row_number() OVER (
                       PARTITION BY custkey
                       ORDER BY valid_from DESC, o_orderkey DESC) AS rn
            FROM versions v, closing c
            WHERE v.valid_from <= c.v_date AND v.tx_time <= c.t_date
        ) WHERE rn = 1
    ),
    now_pick AS (
        SELECT custkey, prio AS prio_known_now, valid_from AS vf_now
        FROM (
            SELECT v.*, row_number() OVER (
                       PARTITION BY custkey
                       ORDER BY valid_from DESC, o_orderkey DESC) AS rn
            FROM versions v, closing c
            WHERE v.valid_from <= c.v_date
        ) WHERE rn = 1
    )
    SELECT n.custkey, t.prio_known_at_t, n.prio_known_now,
           t.vf_then, n.vf_now,
           coalesce(t.prio_known_at_t, '<unknown>')
               <> n.prio_known_now AS was_corrected
    FROM now_pick n LEFT JOIN then_pick t ON t.custkey = n.custkey
    ORDER BY n.custkey
    """,
)
def u17_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    closing = o.agg(
        F.date_sub(F.max(F.to_date("o_orderdate")), 180).alias("v_date"),
        F.date_sub(F.max(F.to_date("o_orderdate")), 179).alias("t_date"),
    )
    versions = o.crossJoin(F.broadcast(closing)).select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.to_date("o_orderdate").alias("valid_from"),
        F.expr(
            "date_add(to_date(o_orderdate), CAST(o_orderkey % 3 AS INT))"
        ).alias("tx_time"),
        F.col("o_orderpriority").alias("prio"),
        "v_date",
        "t_date",
    )
    w = Window.partitionBy("custkey").orderBy(
        F.col("valid_from").desc(), F.col("o_orderkey").desc()
    )
    then_pick = (
        versions.where(
            (F.col("valid_from") <= F.col("v_date"))
            & (F.col("tx_time") <= F.col("t_date"))
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "custkey",
            F.col("prio").alias("prio_known_at_t"),
            F.col("valid_from").alias("vf_then"),
        )
    )
    now_pick = (
        versions.where(F.col("valid_from") <= F.col("v_date"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "custkey",
            F.col("prio").alias("prio_known_now"),
            F.col("valid_from").alias("vf_now"),
        )
    )
    return (
        now_pick.join(then_pick, "custkey", "left")
        .select(
            "custkey",
            "prio_known_at_t",
            "prio_known_now",
            "vf_then",
            "vf_now",
            (
                F.coalesce(F.col("prio_known_at_t"), F.lit("<unknown>"))
                != F.col("prio_known_now")
            ).alias("was_corrected"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------------------
# u18 — deterministic weighted sampling without replacement
# (Efraimidis–Spirakis A-Res): each part draws u from its own content
# hash (md5-60bit → (0,1), engine-portable), scores key = ln(u)/w with
# w = retail price, and the TOP-K keys are the weighted sample. This is
# THE distributed weighted-reservoir recipe: fully parallel scoring,
# one top-k (TakeOrderedAndProject at scale — no global sort), and —
# because u is hash-derived, not RNG — the "sample" is reproducible
# run-to-run, partition-count-invariant, and exactly checkable against
# the oracle. The audit row carries the sampled share of total weight.
# ---------------------------------------------------------------------------
_WS_K = 100
_WS_U_DEN = float(1 << 60) + 1.0


@query(
    "u18_weighted_sample",
    oracle=f"""
    WITH scored AS (
        SELECT p_partkey, p_retailprice AS w,
               (CAST(('0x' || substring(md5(CAST(p_partkey AS VARCHAR)), 1,
                                        15))::BIGINT AS DOUBLE) + 1.0)
                   / {_WS_U_DEN} AS u
        FROM part
        WHERE p_retailprice > 0
    ),
    keyed AS (
        SELECT p_partkey, w, u, ln(u) / w AS k
        FROM scored
    ),
    ranked AS (
        SELECT p_partkey, w, k,
               row_number() OVER (ORDER BY k DESC, p_partkey) AS rk
        FROM keyed
    ),
    tot AS (SELECT sum(CAST(w AS DECIMAL(27,2))) AS tw FROM scored)
    SELECT r.rk AS sample_rank,
           r.p_partkey,
           floor(r.w * 1e2 + 0.5) / 1e2 AS weight,
           floor(r.k * 1e9 + 0.5) / 1e9 AS es_key,
           floor(CAST((SELECT sum(CAST(w AS DECIMAL(27,2))) FROM ranked
                       WHERE rk <= {_WS_K}) AS DOUBLE)
                 / CAST(t.tw AS DOUBLE) * 1e6 + 0.5) / 1e6
               AS sampled_weight_share
    FROM ranked r CROSS JOIN tot t
    WHERE r.rk <= {_WS_K}
    ORDER BY r.rk
    """,
)
def u18_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load

    p = load(spark, sf_dir, "part").where(F.col("p_retailprice") > 0)
    scored = p.select(
        "p_partkey",
        F.col("p_retailprice").alias("w"),
        (
            (
                F.expr(h60_sql("CAST(p_partkey AS STRING)", "spark"))
                .cast("double")
                + 1.0
            )
            / _WS_U_DEN
        ).alias("u"),
    )
    keyed = scored.select(
        "p_partkey", "w", (F.log("u") / F.col("w")).alias("k")
    )
    wr = Window.orderBy(F.col("k").desc(), "p_partkey")
    ranked = keyed.select(
        "p_partkey", "w", "k", F.row_number().over(wr).alias("rk")
    )
    top = ranked.where(F.col("rk") <= _WS_K)
    tot = scored.agg(
        F.sum(F.col("w").cast("decimal(27,2)")).alias("tw")
    )
    stot = top.agg(
        F.sum(F.col("w").cast("decimal(27,2)")).alias("sw")
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(stot))
        .select(
            F.col("rk").alias("sample_rank"),
            "p_partkey",
            (F.floor(F.col("w") * 1e2 + F.lit(0.5)) / 1e2).alias("weight"),
            (F.floor(F.col("k") * 1e9 + F.lit(0.5)) / 1e9).alias("es_key"),
            (
                F.floor(
                    F.col("sw").cast("double")
                    / F.col("tw").cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("sampled_weight_share"),
        )
        .orderBy("sample_rank")
    )


# ---------------------------------------------------------------------------
# u19_interval_merge — consolidate overlapping validity intervals per
# key (gaps-and-islands), the canonical coverage/entitlement shape: each
# order opens a 7-day service window [orderdate, orderdate+7d); windows
# that overlap or touch merge into one island. Classic two-window plan:
# a running max of interval ends (shifted one row back) marks island
# starts, a running sum of those marks numbers the islands — one shuffle
# on the customer key, two windows over the same (cust, start, orderkey)
# sort, then an ordinary aggregate. All comparisons are on exact
# timestamps and the outputs are integer day/order counts, so the DuckDB
# twin matches bit-for-bit. At 100 TB the partition key is o_custkey
# (high cardinality, no skew) and nothing leaves the per-key sort.
# ---------------------------------------------------------------------------
@query(
    "u19_interval_merge",
    oracle="""
    WITH iv AS (
        SELECT o_custkey AS cust, o_orderkey,
               o_orderdate AS s,
               o_orderdate + INTERVAL 7 DAY AS e
        FROM orders
    ),
    marked AS (
        SELECT cust, o_orderkey, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY cust ORDER BY s, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) >= s THEN 0 ELSE 1 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT cust, s, e,
               sum(new_island) OVER (
                   PARTITION BY cust ORDER BY s, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS island
        FROM marked
    ),
    merged AS (
        SELECT cust, island,
               count(*) AS n_orders,
               min(s) AS ms, max(e) AS me
        FROM islands GROUP BY 1, 2
    )
    SELECT cust AS c_custkey,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(max(n_orders) AS BIGINT) AS max_island_orders,
           CAST(sum((epoch(me) - epoch(ms)) // 86400) AS BIGINT)
               AS covered_days
    FROM merged GROUP BY 1
    """,
)
def u19_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        "o_orderkey",
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")).alias("e"),
    )
    w_prev = (
        Window.partitionBy("cust")
        .orderBy("s", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "cust",
        "o_orderkey",
        "s",
        "e",
        F.when(F.max("e").over(w_prev) >= F.col("s"), 0)
        .otherwise(1)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("cust")
        .orderBy("s", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.select(
        "cust",
        "s",
        "e",
        F.sum("new_island").over(w_run).alias("island"),
    )
    merged = islands.groupBy("cust", "island").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
    )
    return merged.groupBy(F.col("cust").alias("c_custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.max("n_orders").cast("long").alias("max_island_orders"),
        F.sum(
            F.expr("(unix_timestamp(me) - unix_timestamp(ms)) div 86400")
        )
        .cast("long")
        .alias("covered_days"),
    )


# ---------------------------------------------------------------------------
# SQL surface — recursive CTE (round 12 continuation). Spark 4 ships
# ANSI WITH RECURSIVE (SPARK-24497); this registers the surface with a
# hierarchy shape the iterative-join BOM query (q_bom_explosion) can't
# show: unbounded-depth traversal declared in ONE statement, the engine
# iterating to fixpoint. The forest is synthesized over part —
# parent(k) = k div 7, roots 1..6 (key 0 is excluded: it would be its
# own parent and recurse forever — the guard every hierarchy walk
# needs). A multiplicative per-level quantity rides the recursion so a
# single wrong edge anywhere would change the level rollup: qty(child)
# = qty(parent) * (1 + child % 3), the BOM extended-quantity idiom.
# Each recursion level is one distributed join of the (level)-frontier
# against the child table — at 100 TB the frontier is what shuffles,
# not the accumulated result, and the depth is log_7(n) (6-7 levels at
# 200k parts), so the plan stays shallow even at full scale.
# ---------------------------------------------------------------------------
_RECURSIVE_BOM_SPARK = """
WITH RECURSIVE tree(p_partkey, depth, qty) AS (
  SELECT p_partkey, 0, CAST(1 AS BIGINT)
  FROM part WHERE p_partkey BETWEEN 1 AND 6
  UNION ALL
  SELECT c.p_partkey, t.depth + 1, t.qty * (1 + c.p_partkey % 3)
  FROM part c JOIN tree t ON c.p_partkey div 7 = t.p_partkey
  WHERE c.p_partkey >= 7
)
SELECT depth,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(qty) AS BIGINT) AS extended_qty,
       CAST(min(p_partkey) AS BIGINT) AS min_key,
       CAST(max(p_partkey) AS BIGINT) AS max_key
FROM tree
GROUP BY depth
"""

_RECURSIVE_BOM_DUCK = _RECURSIVE_BOM_SPARK.replace(
    "c.p_partkey div 7", "c.p_partkey // 7"
)


@query("sql_recursive_bom_rollup", oracle=_RECURSIVE_BOM_DUCK)
def sql_recursive_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load as _load

    _load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_BOM_SPARK)


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4 `|>`): the same segment/year revenue report
# a SQL-first consumer writes top-down instead of inside-out — each
# stage (JOIN, WHERE, EXTEND, AGGREGATE, post-aggregate WHERE) is a
# pipe operator applied to the previous result, in the order the
# engine actually evaluates them. Catalyst resolves pipe stages to the
# SAME logical plan as the nested form (the oracle is that nested
# form, in DuckDB dialect), so pipes are free at any scale: this query
# exists to pin that the modern entry path works end to end, not to
# add an operator. The post-AGGREGATE WHERE is HAVING without the
# keyword — it filters aggregate outputs by their visible aliases.
# ---------------------------------------------------------------------------
_SQL_PIPE_STMT = """
FROM orders AS o
|> JOIN customer AS c ON o.o_custkey = c.c_custkey
|> WHERE o.o_totalprice > 5000
|> EXTEND year(o.o_orderdate) AS yr
|> AGGREGATE count(*) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(27,2))), 2)
            AS DOUBLE) AS total
   GROUP BY c.c_mktsegment AS mktsegment, yr
|> WHERE n_orders > 2
"""


@query(
    "sql_pipe_syntax_report",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           year(o.o_orderdate) AS yr,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(27,2))), 2)
                AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 5000
    GROUP BY 1, 2
    HAVING count(*) > 2
    """,
)
def sql_pipe_syntax_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    df = spark.sql(_SQL_PIPE_STMT)
    # pipe AGGREGATE emits group cols first (mktsegment, yr, n_orders,
    # total) and Spark's year() yields int where the oracle's is
    # bigint; align the one numeric width explicitly.
    return df.select(
        "mktsegment",
        F.col("yr").cast("long").alias("yr"),
        F.col("n_orders").cast("long").alias("n_orders"),
        "total",
    )


# ---------------------------------------------------------------------------
# Parameterized SQL (named parameter markers): the prepared-statement
# entry path — the SAME statement text serves every (segment, cutoff,
# floor) binding, so a 100 TB deployment's plan cache keys on one
# statement instead of a literal-exploded family, and user-supplied
# values ride the args channel (no string splicing, no injection
# surface). The oracle inlines the bindings — parameter resolution is
# the mechanism under test, the relational semantics are shared.
# ---------------------------------------------------------------------------
_SQL_PARAM_STMT = """
SELECT o.o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(27,2))), 2)
            AS DOUBLE) AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = :seg
  AND o.o_orderdate >= CAST(:since AS TIMESTAMP)
  AND o.o_totalprice > :floor_total
GROUP BY 1
"""
_SQL_PARAM_ARGS = {
    "seg": "BUILDING",
    "since": "1996-01-01",
    "floor_total": 1000.0,
}


@query(
    "sql_parameterized_query",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(27,2))), 2)
                AS DOUBLE) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_totalprice > 1000.0
    GROUP BY 1
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    df = spark.sql(_SQL_PARAM_STMT, args=_SQL_PARAM_ARGS)
    return df.select(
        "priority", F.col("n_orders").cast("long").alias("n_orders"), "total"
    )


# ---------------------------------------------------------------------------
# SQL session variables (Spark 4 DECLARE / SET VAR): a scalar computed
# from the data ONCE (the latest order date minus 90 days) becomes a
# session variable later statements reference by name — the SQL-native
# form of the "compute a driver-side scalar, then parameterize the big
# query with it" pattern the engine otherwise does with bounded
# collect()s. At 100 TB the variable assignment is one agg (here a
# footer-metadata max); the main scan then gets a FOLDED literal
# predicate — pushed to parquet like any constant, which a correlated
# scalar subquery inside the big query would not guarantee. The
# oracle re-derives the same cutoff with a scalar subquery (DuckDB
# has no session variables — same semantics, different plumbing).
# ---------------------------------------------------------------------------
@query(
    "sql_session_variables",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_recent,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)
                AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= (
            SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders
          )
      AND o_totalprice > 500.0
    GROUP BY 1
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE recent_cutoff TIMESTAMP")
    spark.sql("DECLARE OR REPLACE VARIABLE floor_total DOUBLE DEFAULT 0.0")
    spark.sql(
        "SET VAR recent_cutoff ="
        " (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders)"
    )
    spark.sql("SET VAR floor_total = 500.0")
    df = spark.sql(
        """
        SELECT o_orderpriority AS priority,
               count(*) AS n_recent,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,2))), 2)
                    AS DOUBLE) AS total
        FROM orders
        WHERE o_orderdate >= recent_cutoff
          AND o_totalprice > floor_total
        GROUP BY 1
        """
    )
    return df.select(
        "priority", F.col("n_recent").cast("long").alias("n_recent"), "total"
    )
