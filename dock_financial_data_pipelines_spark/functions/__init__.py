"""Collection functions: arrays, maps, JSON (SURVEY.md §2-B F4-F6).

F6 is the engine form of the reference's JSON envelope access
(REPORT:39 `response.json()`, REPORT:73 `result.get("ticket")`):
`get_json_object` / `from_json` over a JSON string column, executed
JVM-side for every row instead of driver-side for one envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from dock_financial_data_pipelines_spark.catalog import load
from dock_financial_data_pipelines_spark.registry import query
from dock_financial_data_pipelines_spark.shingles import tokens, tokens_sql


# ---------------------------------------------------------------------------
# F4 — array functions incl. higher-order transform/aggregate
# ---------------------------------------------------------------------------
@query(
    "f4_array_functions",
    oracle=f"""
    SELECT doc_id,
           len({tokens_sql('duckdb')}) AS n_tokens,
           len(list_distinct({tokens_sql('duckdb')})) AS n_distinct,
           array_to_string({tokens_sql('duckdb')}[1:3], ' ') AS first3,
           list_contains({tokens_sql('duckdb')}, 'spark') AS has_spark,
           CAST(list_sum(list_transform({tokens_sql('duckdb')}, x -> length(x)))
               AS BIGINT) AS total_token_chars,
           array_to_string(list_sort(list_distinct({tokens_sql('duckdb')}))[1:5], ',')
               AS first5_sorted
    FROM documents
    WHERE doc_id < 100
    """,
)
def f4_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens()
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
            F.array_contains(toks, "spark").alias("has_spark"),
            F.expr(
                f"aggregate(transform({tokens_sql('spark')}, x -> length(x)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("total_token_chars"),
            F.array_join(
                F.slice(F.sort_array(F.array_distinct(toks)), 1, 5), ","
            ).alias("first5_sorted"),
        )
    )


# ---------------------------------------------------------------------------
# F5 — map functions: build a map per user (event_type → count), explode
# it back; the oracle states the equivalent direct aggregate, so the
# map construction/flattening roundtrip is what's verified.
# ---------------------------------------------------------------------------
@query(
    "f5_map_functions",
    oracle="""
    SELECT user_id, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def f5_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    as_map = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias(
            "type_counts"
        )
    )
    return as_map.select(
        "user_id", F.explode("type_counts").alias("event_type", "cnt")
    )


# ---------------------------------------------------------------------------
# F6 — JSON extraction over events.props
# ---------------------------------------------------------------------------
@query(
    "f6_json_extraction",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           count(*) AS n,
           round(sum(CAST(value AS DECIMAL(27,6))), 2)::DOUBLE AS total_value
    FROM events
    GROUP BY 1
    HAVING count(*) >= 5
    """,
)
def f6_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .select(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(27,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .where(F.col("n") >= 5)
    )


# ---------------------------------------------------------------------------
# F4b — posexplode: token positions (UDTF-style lateral view)
# ---------------------------------------------------------------------------
@query(
    "f4_posexplode_positions",
    oracle=f"""
    SELECT t.term, min(t.pos) AS first_pos, count(*) AS n
    FROM (
        SELECT unnest({tokens_sql('duckdb')}) AS term,
               generate_subscripts({tokens_sql('duckdb')}, 1) - 1 AS pos
        FROM documents WHERE doc_id < 50
    ) t
    GROUP BY 1
    """,
)
def f4_posexplode_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .select(F.posexplode(tokens()).alias("pos", "term"))
        .groupBy("term")
        .agg(F.min("pos").alias("first_pos"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# F6c — json_tuple (multi-field extraction in one pass)
# ---------------------------------------------------------------------------
@query(
    "f6_json_tuple",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events WHERE event_id < 500
    """,
)
def f6_json_tuple(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_id") < 500)
        .select("event_id", F.json_tuple("props", "k").alias("k"))
        .select("event_id", F.col("k").cast("int").alias("k"))
    )


# ---------------------------------------------------------------------------
# F6b — from_json with an explicit schema (typed envelope parsing)
# ---------------------------------------------------------------------------
@query(
    "f6_from_json_typed",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def f6_from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = StructType([StructField("k", IntegerType())])
    return (
        load(spark, sf_dir, "events")
        .withColumn("parsed", F.from_json("props", schema))
        .groupBy((F.col("parsed.k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# F4c — explode_outer: rows with empty/null arrays survive as one null
# row (LEFT JOIN LATERAL semantics) — the difference that silently drops
# data when plain explode is misused on sparse columns.
# ---------------------------------------------------------------------------
@query(
    "f4_explode_outer_nulls",
    oracle="""
    WITH src AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F'
                    THEN string_split(o_orderpriority, '-')
                    ELSE NULL END AS parts
        FROM orders WHERE o_orderkey < 300
    )
    SELECT s.o_orderkey, u.part
    FROM src s
    LEFT JOIN LATERAL (SELECT unnest(s.parts) AS part) u ON TRUE
    """,
)
def f4_explode_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "F",
                F.split("o_orderpriority", "-"),
            ).alias("parts"),
        )
    )
    return src.select(
        "o_orderkey", F.explode_outer("parts").alias("part")
    )


# ---------------------------------------------------------------------------
# F6d — VARIANT (Spark 4's semi-structured type): parse once into a
# binary variant, then typed path extraction — the columnar-shredding
# path for JSON at scale (parse cost paid once, not per extraction).
# Oracle via DuckDB's JSON extraction over the same payloads.
# ---------------------------------------------------------------------------
@query(
    "f6_variant_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
           count(*) AS n,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
               AS max_k
    FROM events
    GROUP BY 1
    """,
)
def f6_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load as _load

    ev = _load(spark, sf_dir, "events").withColumn(
        "v", F.parse_json(F.col("props"))
    )
    k = F.expr("variant_get(v, '$.k', 'int')")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("k").alias("max_k"))
    )


# ---------------------------------------------------------------------------
# F8 — bitwise scalar + aggregate surface: per-row shifts/masks and the
# order-independent bit_and/bit_or/bit_xor aggregates (flag-register
# folding — how permission masks and feature flags are reduced at
# scale without a distinct). All integer ops: exact on both engines
# under any execution order.
# ---------------------------------------------------------------------------
@query(
    "f8_bitwise_aggs",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           bit_and(user_id | 4096) AS and_mask,
           bit_or(user_id & 255) AS or_low_byte,
           bit_xor(event_id) AS xor_ids,
           CAST(sum(CASE WHEN (user_id >> 3) & 1 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bit3_set
    FROM events GROUP BY 1
    """,
)
def f8_bitwise_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dock_financial_data_pipelines_spark.catalog import load as _load

    ev = _load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "user_id",
        F.expr("user_id | 4096").alias("masked"),
        F.expr("user_id & 255").alias("low_byte"),
        F.expr("(shiftright(user_id, 3) & 1) = 1").alias("bit3"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_and("masked").alias("and_mask"),
        F.bit_or("low_byte").alias("or_low_byte"),
        F.bit_xor("event_id").alias("xor_ids"),
        F.sum(F.when(F.col("bit3"), 1).otherwise(0)).cast("long").alias(
            "n_bit3_set"
        ),
    )


# ---------------------------------------------------------------------------
# F9 — try_* arithmetic: the ANSI-mode discipline made visible. Spark 4
# defaults to ANSI (overflow/div-by-zero THROW); try_add/try_divide/
# try_multiply return NULL instead — the correct tool when a quarantine
# column is wanted rather than a failed job. The oracle reproduces the
# null semantics with guarded CASE arithmetic (DuckDB's operators don't
# throw on doubles, so the guards make the two engines' nulls match by
# construction).
# ---------------------------------------------------------------------------
@query(
    "f9_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL
                ELSE floor(l_extendedprice / l_discount * 1e4 + 0.5) / 1e4
                END AS price_per_discount_pt,
           CASE WHEN l_quantity = 0 THEN NULL
                ELSE floor(l_extendedprice / l_quantity * 1e4 + 0.5) / 1e4
                END AS unit_price,
           CAST(CASE WHEN l_quantity * 1000000000 > 9223372036854775807
                     THEN NULL
                     ELSE CAST(l_quantity AS BIGINT) * 1000000000 END
                AS BIGINT) AS qty_nanos
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def f9_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 500)
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                F.floor(
                    F.expr("try_divide(l_extendedprice, l_discount)") * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("price_per_discount_pt"),
            (
                F.floor(
                    F.expr("try_divide(l_extendedprice, l_quantity)") * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("unit_price"),
            F.expr(
                "try_multiply(CAST(l_quantity AS BIGINT), "
                "1000000000L)"
            ).alias("qty_nanos"),
        )
    )


# ---------------------------------------------------------------------------
# F10 — higher-order predicate surface: exists / forall / zip_with over
# per-order line arrays (the F4 family's missing predicates). Spark
# uses the native HOFs (exists, forall — JVM codegen lambdas); DuckDB's
# twins are list_filter-length forms with identical semantics. The
# arrays are built by one collect_list aggregate per order; predicates
# never leave the JVM.
# ---------------------------------------------------------------------------
@query(
    "f10_array_exists_forall",
    oracle="""
    WITH arr AS (
        SELECT l_orderkey,
               list(l_quantity ORDER BY l_linenumber) AS qs,
               list(l_discount ORDER BY l_linenumber) AS ds
        FROM lineitem GROUP BY 1
    ),
    flags AS (
        SELECT l_orderkey,
               len(list_filter(qs, x -> x >= 40)) > 0 AS has_bulk_line,
               len(list_filter(ds, x -> x <= 0.05)) = len(ds)
                   AS all_low_discount,
               CAST(list_sum(list_transform(ds, x -> CASE WHEN x > 0.05
                    THEN 1 ELSE 0 END)) AS BIGINT) AS n_high_discount
        FROM arr
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN has_bulk_line THEN 1 ELSE 0 END) AS BIGINT)
               AS orders_with_bulk,
           CAST(sum(CASE WHEN all_low_discount THEN 1 ELSE 0 END) AS BIGINT)
               AS orders_all_low_discount,
           CAST(sum(n_high_discount) AS BIGINT) AS high_discount_lines
    FROM flags
    """,
)
def f10_array_exists_forall(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(l_linenumber, "
                "l_quantity))), p -> p.l_quantity)"
            ).alias("qs"),
            F.expr(
                "transform(array_sort(collect_list(struct(l_linenumber, "
                "l_discount))), p -> p.l_discount)"
            ).alias("ds"),
        )
    )
    flags = arr.select(
        F.expr("exists(qs, x -> x >= 40D)").alias("has_bulk_line"),
        F.expr("forall(ds, x -> x <= 0.05D)").alias("all_low_discount"),
        F.expr(
            "aggregate(ds, CAST(0 AS BIGINT),"
            " (acc, x) -> acc + CASE WHEN x > 0.05D THEN 1 ELSE 0 END)"
        ).alias("n_high_discount"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("has_bulk_line"), 1).otherwise(0))
        .cast("long")
        .alias("orders_with_bulk"),
        F.sum(F.when(F.col("all_low_discount"), 1).otherwise(0))
        .cast("long")
        .alias("orders_all_low_discount"),
        F.sum("n_high_discount").cast("long").alias("high_discount_lines"),
    )


# ---------------------------------------------------------------------------
# F11 — collation-aware comparison (Spark 4 COLLATE): case-insensitive
# grouping, DISTINCT, and prefix predicates expressed through the
# UTF8_LCASE collation instead of lower()-normalizing every call site.
# The fixture manufactures deterministic case variants of
# c_mktsegment (custkey % 3 → lower / as-is / Capitalized), then
# groups on `collate(seg, 'UTF8_LCASE')`: one row per case-class,
# with the binary-distinct variant count proving the collation (not
# the data) did the folding. The DuckDB twin is the lower()-normalized
# form — semantically identical, which is exactly the point: COLLATE
# moves the normalization from every expression into the comparison
# semantics, so at 100 TB the grouping key stays the original bytes
# (no derived column to materialize). Plan note (explain_audit pins
# it): Spark 4 plans collated group keys as SortAggregate — hash
# aggregation doesn't apply to collation-keyed groups yet — which is
# the right trade at dim grain and worth knowing before putting a
# collated key on a fact-table aggregate. The
# collated group key itself is dropped from the output (its
# representative bytes are nondeterministic by design); the stable
# lower() label is emitted instead.
# ---------------------------------------------------------------------------
@query(
    "f11_collated_compare",
    oracle="""
    WITH m AS (
        SELECT CASE CAST(c_custkey % 3 AS INT)
                 WHEN 0 THEN lower(c_mktsegment)
                 WHEN 1 THEN c_mktsegment
                 ELSE upper(substr(c_mktsegment, 1, 1))
                      || lower(substr(c_mktsegment, 2))
               END AS seg,
               c_acctbal
        FROM customer
    )
    SELECT lower(seg) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT seg) AS BIGINT) AS n_case_variants,
           CAST(sum(CASE WHEN lower(seg) LIKE 'b%' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_prefix_b,
           round(sum(CAST(c_acctbal AS DECIMAL(27,2))), 2)::DOUBLE
               AS acct_total
    FROM m GROUP BY lower(seg)
    """,
)
def f11_collated_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = F.col("c_mktsegment")
    variant = (
        F.when(F.col("c_custkey") % 3 == 0, F.lower(s))
        .when(F.col("c_custkey") % 3 == 1, s)
        .otherwise(
            F.concat(
                F.upper(F.substring(s, 1, 1)),
                F.lower(F.expr("substring(c_mktsegment, 2)")),
            )
        )
    )
    m = load(spark, sf_dir, "customer").select(
        variant.alias("seg"), "c_acctbal"
    )
    from dock_financial_data_pipelines_spark.catalog import dec_sum

    return (
        m.groupBy(F.expr("collate(seg, 'UTF8_LCASE')").alias("ci"))
        .agg(
            F.min(F.lower(F.col("seg"))).alias("segment"),
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.countDistinct(F.col("seg")).cast("long").alias("n_case_variants"),
            F.sum(
                F.when(
                    F.expr(
                        "startswith(collate(seg, 'UTF8_LCASE'), "
                        "collate('b', 'UTF8_LCASE'))"
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_prefix_b"),
            dec_sum("c_acctbal", scale=2).alias("acct_total"),
        )
        .drop("ci")
    )
