"""Classic OLAP query shapes over the TPC-H-ish testdata.

The reference pipeline is narrow (one fact table, no multi-join
aggregates); these queries exercise the join-reordering / broadcast /
partial-agg machinery a real analytics engine lives on, using the same
exact-decimal money math as the rest of the corpus. Shapes follow the
public TPC-H queries (Q3 shipping priority, Q5 local supplier volume)
adapted to the testdata's columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dec, dsum_expr_sql
from ..sources.tables import load_table
from .corpus import corpus_query

_REVENUE_DEC = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"


@corpus_query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3 shape: selective dim filter -> 3-way join -> grouped
    revenue -> top-10. The customer filter broadcasts; lineitem (the big
    side) is never shuffled except for the final aggregation; top-10 is
    TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.sum(
        dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 2))
    ).cast("double")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@corpus_query(
    "q5_nation_volume",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM region, nation, customer, orders, lineitem
    WHERE r_regionkey = n_regionkey
      AND n_nationkey = c_nationkey
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5 shape: 5-way star join pruned by a region filter, grouped
    revenue per nation. Region/nation/customer broadcast (small dims);
    only the orders-lineitem join and the final agg shuffle."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(
        dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 2))
    ).cast("double")
    dims = (
        cust.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            cust.c_nationkey == nation.n_nationkey,
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(revenue.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@corpus_query(
    "w4_event_navigation",
    oracle="""
    SELECT event_id, user_id, ts, value,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           FIRST_VALUE(value) OVER w AS first_value,
           NTILE(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS value_quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w4_event_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation family: lag/lead/first_value/ntile per user
    stream — completes the window-function menu (reference uses only
    row_number, SURVEY §2.5)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wq = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(w).alias("first_value"),
        F.ntile(4).over(wq).alias("value_quartile"),
    )


@corpus_query(
    "p13_string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_brand) AS brand_lower,
           TRIM(p_type) AS type_trim,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           SUBSTR(p_name, 1, 8) AS name_prefix,
           REPLACE(p_type, ' ', '_') AS type_snake,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS name_devoweled,
           CONCAT_WS('|', p_brand, p_type) AS brand_type,
           length(p_name) AS name_len
    FROM part
    """,
)
def p13_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family (the reference imports trim/upper/concat_ws
    but never calls them — P13 latent surface, `2:9`, `3:9` — plus the
    rest of the standard menu)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.trim("p_type").alias("type_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.regexp_replace(F.col("p_type"), " ", "_").alias("type_snake"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "*").alias("name_devoweled"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
    )


@corpus_query(
    "d1_date_functions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS plus_30d,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_95,
           strftime(o_orderdate, '%Y-%m') AS ym_label
    FROM orders
    """,
)
def d1_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family over the order timeline: extraction,
    truncation, interval arithmetic, day difference, formatting."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus_30d"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01 00:00:00").cast("timestamp")
        ).cast("long").alias("days_since_95"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym_label"),
    )


@corpus_query(
    "j6_correlated_scalar",
    oracle="""
    SELECT c_custkey, c_name,
           (SELECT MAX(o_totalprice) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS max_order_price
    FROM customer c
    """,
)
def j6_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED scalar subquery (J2 is the uncorrelated cousin) — per
    customer, the price of their largest order (NULL when orderless).
    Catalyst de-correlates this into an aggregate + left outer join; run
    through Spark SQL to exercise that rewrite."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT MAX(o_totalprice) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS max_order_price
        FROM customer c
        """
    )


@corpus_query(
    "w5_sliding_hour_total",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS hour_total,
           COUNT(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS hour_events
    FROM events
    """,
)
def w5_sliding_hour_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, vs w3's ROWS frame): per event,
    the exact-decimal total and count of the user's events in the
    trailing hour — the batch twin of a sliding-window stream aggregate.
    The frame bound is on epoch microseconds, so ties and gaps behave
    identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(dec("value", 18, 2)).over(w).cast("double").alias("hour_total"),
        F.count(F.lit(1)).over(w).alias("hour_events"),
    )


@corpus_query(
    "p14_map_json_ops",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
           array_to_string(json_keys(props), ',') AS prop_keys,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
           CASE WHEN json_extract_string(props, '$.missing') IS NULL
                THEN 'absent' ELSE 'present' END AS missing_probe
    FROM events
    """,
)
def p14_map_json_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured map surface: props parsed to map<string,int>, key
    listing, element access, missing-key null semantics — the MapType
    capability the reference drops (its tokens column, SURVEY §1.2)."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.concat_ws(",", F.map_keys(m)).alias("prop_keys"),
        (F.element_at(m, "k") % 10).alias("k_mod"),
        F.when(F.element_at(m, "missing").isNull(), "absent")
        .otherwise("present")
        .alias("missing_probe"),
    )


@corpus_query(
    "q13_order_count_distribution",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    ) per_cust
    GROUP BY n_orders
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: histogram of per-customer order counts — LEFT
    join preserving orderless customers (COUNT of a null column = 0),
    then a second aggregation over the first's output. Two shuffles,
    both on shrinking data."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@corpus_query(
    "q16_suppliers_not_in",
    oracle="""
    SELECT p_brand, COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM lineitem ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE ps.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    GROUP BY p_brand
    """,
)
def q16_suppliers_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 shape with NOT IN — the null-aware anti join, a
    semantically distinct join type (one NULL in the subquery empties the
    result; Catalyst plans NullAwareAntiJoin). Run through Spark SQL to
    exercise exactly that plan."""
    for t in ("lineitem", "part", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT p_brand, COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
        FROM lineitem ps JOIN part p ON p.p_partkey = ps.l_partkey
        WHERE ps.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
        GROUP BY p_brand
        """
    )


@corpus_query(
    "q18_large_volume_customers",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM (
        SELECT l_orderkey, SUM(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    ) big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: HAVING-filtered aggregate feeding joins — the
    aggregate shrinks lineitem to a handful of qualifying orders BEFORE
    any join touches the wide tables (the join inputs are post-HAVING)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, orders.o_orderkey == big.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


@corpus_query(
    "q20_parts_with_surplus_stock",
    oracle=f"""
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey IN (
        SELECT l_partkey FROM lineitem
        GROUP BY l_partkey
        HAVING SUM(l_quantity) > (
            SELECT 0.02 * SUM(l_quantity) FROM lineitem
        )
    )
    """,
)
def q20_parts_with_surplus_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 shape: IN over a HAVING aggregate whose threshold is
    itself a scalar subquery — nested subquery rewriting (semi join over
    an aggregate gated by a broadcast scalar). Spark SQL verbatim."""
    for t in ("part", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT p_partkey, p_name
        FROM part
        WHERE p_partkey IN (
            SELECT l_partkey FROM lineitem
            GROUP BY l_partkey
            HAVING SUM(l_quantity) > (
                SELECT 0.02 * SUM(l_quantity) FROM lineitem
            )
        )
        """
    )


@corpus_query(
    "p15_variant_extract",
    oracle="""
    SELECT event_id,
           user_id AS uid,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS meta_k,
           user_id AS arr_1,
           CAST(NULL AS VARCHAR) AS missing_probe
    FROM events
    """,
)
def p15_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT semi-structured type end-to-end: pack real columns
    (plus the parsed props map) into a JSON document with ``to_json``,
    parse it to a VARIANT with ``parse_json``, and extract TYPED values
    back out with ``variant_get`` — nested object path ($.meta.k),
    array index ($.arr[1]), scalar ($.uid), and ``try_variant_get`` on
    an absent path (NULL, not error). The oracle reads the same values
    straight off the base columns, so the pair proves the
    pack->parse->extract round trip is value-exact (integers only in
    the payload — doubles through JSON text would trade exactness for
    formatting). [p14_map_json_ops] covers the classic
    from_json/get_json_object string surface; this is the Spark-4
    binary-encoded VARIANT path — at 100 TB the difference is real:
    VARIANT stores a parsed binary encoding, so repeated extraction
    skips re-tokenizing JSON text on every access.

    Scale shape: pure row-local projection (no shuffle, no UDF —
    whole-stage-codegen expressions end to end); columnar-prunable at
    the scan."""
    ev = load_table(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.col("user_id").alias("uid"),
            F.from_json("props", "map<string,int>").alias("meta"),
            F.array(F.col("event_id"), F.col("user_id")).alias("arr"),
        )
    )
    v = F.parse_json(payload)
    return ev.select(
        "event_id",
        F.variant_get(v, "$.uid", "bigint").alias("uid"),
        F.variant_get(v, "$.meta.k", "int").alias("meta_k"),
        F.variant_get(v, "$.arr[1]", "bigint").alias("arr_1"),
        F.try_variant_get(v, "$.nope", "string").alias("missing_probe"),
    )
