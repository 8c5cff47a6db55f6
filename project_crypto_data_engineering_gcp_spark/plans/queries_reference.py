"""Reference-parity query corpus over the driver testdata.

Each query realizes one operator family from SURVEY.md §2 on the TPC-H-ish
tables (mapping per FIXTURES.md §B), with a DuckDB oracle. Reference sites
are cited per query; implementations are Spark-first (declarative
DataFrame/SQL, exact-decimal aggregation for parity, broadcast where the
build side is small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dec, dsum, dsum_expr_sql
from ..operators.asof import asof_join
from ..operators.classify import when_chain
from ..operators.latest import latest_snapshot
from ..operators.share import with_share_of_total
from ..operators.topk import top_bottom_union
from ..sources.tables import load_table
from .corpus import corpus_query

# --------------------------------------------------------------------------
# A-family: aggregations (reference A1-A4, §2.4) + flagship group-by
# --------------------------------------------------------------------------


@corpus_query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           {dsum_expr_sql("l_extendedprice", 18, 2)} AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           {dsum_expr_sql("l_extendedprice", 18, 2)} / COUNT(*) AS avg_price,
           {dsum_expr_sql("l_discount", 6, 2)} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship TPC-H-Q1-style pricing summary: filter -> groupBy -> 8 aggs.

    Exercises predicate pushdown (shipdate filter reaches the parquet
    scan), map-side partial aggregation, and exact-decimal money math.
    """
    li = load_table(spark, sf_dir, "lineitem")
    price, disc, tax = dec("l_extendedprice", 12, 2), dec("l_discount", 4, 2), dec("l_tax", 4, 2)
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            (F.sum("l_quantity") / n).alias("avg_qty"),
            (dsum("l_extendedprice") / n).alias("avg_price"),
            (dsum("l_discount", 6, 2) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@corpus_query(
    "a1_global_stats",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           SUM(l_quantity) AS sum_qty,
           {dsum_expr_sql("l_extendedprice", 18, 2)} AS sum_price,
           MIN(l_shipdate) AS min_shipdate,
           MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    """,
)
def a1_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ungrouped aggregate (reference A1-A3: agg + count; `3:54,204`).

    Unlike the reference, the scalar never round-trips through the driver.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


@corpus_query(
    "a4_customer_market_dominance",
    oracle=f"""
    WITH by_cust AS (
        SELECT o_custkey, {dsum_expr_sql("o_totalprice", 18, 2)} AS revenue
        FROM orders GROUP BY o_custkey
    ), tot AS (
        SELECT {dsum_expr_sql("revenue", 28, 2)} AS total FROM by_cust
    )
    SELECT o_custkey, revenue,
           ROUND(revenue / total * 100, 4) AS percent_revenue
    FROM by_cust, tot
    """,
)
def a4_customer_market_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-dominance analog (reference A1/A4, `3:204-218`): per-customer
    revenue share of the exact global total, via broadcast scalar instead
    of the reference's collect()+lit() driver round-trip."""
    orders = load_table(spark, sf_dir, "orders")
    by_cust = orders.groupBy("o_custkey").agg(dsum("o_totalprice").alias("revenue"))
    return with_share_of_total(
        by_cust,
        "revenue",
        "percent_revenue",
        round_digits=4,
        total_agg=F.sum(dec("revenue", 28, 2)).cast("double"),
    )


@corpus_query(
    "a5_rollup_revenue",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_expr_sql("l_extendedprice", 18, 2)} AS sum_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    -- Spark's grouping-sets implementation (Expand + keyed aggregate)
    -- emits NO rows over an EMPTY input, unlike the SQL-standard
    -- grand-total row; the guard pins both engines to Spark's
    -- semantics (found by tools/corpus_fuzz.py --crush-rows 0, r9)
    HAVING COUNT(*) > 0
    """,
)
def a5_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (superset of the reference's flat aggs) —
    exercises grouping-set expansion with NULL group markers."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# W-family: windows (reference W1/W2, §2.5)
# --------------------------------------------------------------------------


@corpus_query(
    "w1_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def w1_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot-per-key argmax (reference W1, `3:67-74`) on the
    events stream: the load-bearing Gold-layer dedup operator."""
    ev = load_table(spark, sf_dir, "events")
    return latest_snapshot(ev, ["user_id"], "ts", tiebreakers=["event_id"]).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@corpus_query(
    "w2_acctbal_rank_in_nation",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           RANK() OVER w AS bal_rank,
           DENSE_RANK() OVER w AS bal_dense_rank,
           PERCENT_RANK() OVER w AS bal_percent_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def w2_acctbal_rank_in_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family incl. percent_rank — the reference imports
    percent_rank but never calls it (P13/W2, `3:9`); implemented as the
    intended superset capability."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.percent_rank().over(w).alias("bal_percent_rank"),
    )


@corpus_query(
    "w3_running_order_total",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def w3_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame (frame-spec surface the
    reference never uses — SURVEY §2.5 'no explicit frame specs')."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice", 18, 2)).over(w).cast("double").alias("running_total"),
    )


# --------------------------------------------------------------------------
# O-family: sorts / top-k / union (reference O1-O4, §2.6)
# --------------------------------------------------------------------------


@corpus_query(
    "o3_top_bottom_orders",
    oracle="""
    (SELECT o_orderkey, o_custkey, o_totalprice, 'top' AS movement
     FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10)
    UNION ALL
    (SELECT o_orderkey, o_custkey, o_totalprice, 'bottom' AS movement
     FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 10)
    """,
)
def o3_top_bottom_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10/bottom-10 + positional union (reference gainers/losers
    O3+O4, `3:158-185`). Compiles to TakeOrderedAndProject — no global
    sort at any scale. Both halves read the latest state (the reference's
    losers-over-full-history quirk Q1 is documented, not reproduced)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return top_bottom_union(
        orders, "o_totalprice", 10, "movement", "top", "bottom",
        tiebreakers=["o_orderkey"],
    )


@corpus_query(
    "o1_ranked_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, pos FROM (
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos
        FROM orders) t
    WHERE pos <= 100
    """,
)
def o1_ranked_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY materialized as an explicit rank column (reference
    O1/O2, `3:132,217` — the order-insensitive hash can't see row order,
    so the sort is verified through the rank values).

    Scale shape: the top-100 cut runs FIRST as TakeOrderedAndProject
    (per-task heaps), and the global row_number window only ever sees the
    100 survivors — a naive rank-then-filter would funnel the entire
    table through one window partition."""
    orders = load_table(spark, sf_dir, "orders")
    top = (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return top.withColumn("pos", F.row_number().over(w))


# --------------------------------------------------------------------------
# P-family: projections / casts / conditionals (reference P1-P12, §2.2)
# --------------------------------------------------------------------------


@corpus_query(
    "p11_quantity_classification",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CASE WHEN l_quantity IS NULL THEN 'undefined'
                WHEN l_quantity >= 45 THEN 'near_limit'
                WHEN l_quantity >= 20 THEN 'available'
                ELSE 'scarce' END AS qty_class
    FROM lineitem
    """,
)
def p11_quantity_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested CASE classification (reference P11 supply-status chain,
    `3:246-248`), first-match-wins with a null guard."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        when_chain(
            [
                (qty.isNull(), "undefined"),
                (qty >= 45, "near_limit"),
                (qty >= 20, "available"),
            ],
            "scarce",
        ).alias("qty_class"),
    )


@corpus_query(
    "p9_round_family",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice, 0) AS price_r0,
           ROUND(l_extendedprice * l_discount, 4) AS disc_amt_r4,
           ROUND(l_extendedprice / NULLIF(l_quantity, 0), 8) AS unit_price_r8,
           ROUND(l_tax, 2) AS tax_r2
    FROM lineitem
    """,
)
def p9_round_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HALF_UP rounding at the reference's four scales 0/2/4/8 (P9,
    `3:123-129,209,239-248`). Inputs are raw column values (identical
    across engines), so the rounded doubles match bit-for-bit. The
    per-unit division is zero-guarded in BOTH engines (NULL unit price
    for a zero quantity — the corpus division doctrine; the reference's
    own per-unit division hides behind a `supply > 0` filter, `3:238`):
    under ANSI mode an unguarded x/0 is a runtime error, found by
    tools/corpus_fuzz.py's tie-quantized inputs (r9)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("price_r0"),
        F.round(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("disc_amt_r4"),
        F.round(
            F.col("l_extendedprice") / F.when(qty != 0, qty), 8
        ).alias("unit_price_r8"),
        F.round("l_tax", 2).alias("tax_r2"),
    )


@corpus_query(
    "p1_event_json_projection",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch,
           CAST(value AS VARCHAR) AS value_str,
           UPPER(TRIM(event_type)) AS type_norm
    FROM events
    """,
)
def p1_event_json_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection + cast family (reference P2-P4 Silver
    transform, `2:44-62`): JSON field extraction, epoch conversion,
    string casts, trim/upper (P13 imported-but-unused surface)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.col("value").cast("string").alias("value_str"),
        F.upper(F.trim(F.col("event_type"))).alias("type_norm"),
    )


# --------------------------------------------------------------------------
# J-family: joins (reference J1/J2, §2.3)
# --------------------------------------------------------------------------

_J1_SQL = """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           n.n_name AS nation, r.r_name AS region,
           o.o_orderkey AS latest_orderkey,
           o.o_totalprice AS latest_totalprice
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN (SELECT * FROM orders
               WHERE o_orderdate = (SELECT MAX(o_orderdate) FROM orders)) o
           ON o.o_custkey = c.c_custkey
"""


@corpus_query("j1_customer_dashboard", oracle=_J1_SQL)
def j1_customer_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard denormalization (reference J1+J2,
    `5-sql_exportacao_de_dados_dashboard.sql:2-50`): multi-way LEFT join
    star enrichment + uncorrelated scalar-subquery latest filter. Run
    through Spark SQL — Catalyst rewrites the scalar subquery to a
    broadcast join and broadcasts the small dims (AQE)."""
    for t in ("customer", "nation", "region", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_J1_SQL)


@corpus_query(
    "j3_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j3_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) — join-menu superset per SURVEY §2.3
    ('expose the full join menu')."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


@corpus_query(
    "asof_purchase_last_view",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value,
           v.value AS view_value_asof, v.ts AS view_ts_asof
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the most recent
    prior 'view' event's (value, ts) for the same user. Native in DuckDB;
    in Spark composed as union-tag + window carry-forward with a single
    key shuffle (operators/asof.py)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(
        purchases, views, on=["user_id"], left_ts="ts", right_ts="ts",
        payload=["value", "ts"],
    )
    return joined.select(
        "event_id", "user_id", "ts", "value",
        F.col("value_asof").alias("view_value_asof"),
        F.col("ts_asof").alias("view_ts_asof"),
    )


@corpus_query(
    "asof_forward_error_tolerance",
    oracle="""
    SELECT event_id, user_id, ts, next_error_ts, next_error_id FROM (
        SELECT p.event_id, p.user_id, p.ts,
               e.ts AS next_error_ts,
               e.event_id AS next_error_id,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id ORDER BY e.ts, e.event_id
               ) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
          ON e.user_id = p.user_id
         AND e.ts >= p.ts
         AND e.ts <= p.ts + INTERVAL 1 HOUR
    ) t WHERE rn = 1
    """,
)
def asof_forward_error_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with tolerance (pandas ``merge_asof`` parity): each
    purchase picks up the FIRST 'error' event for the same user within
    the following hour (NULLs when none) — the incident-attribution
    shape. Same single-shuffle union-tag + window-carry plan as the
    backward form; the tolerance is a post-carry mask, never a range
    join explosion. Ties on error ts resolve to the smallest event_id,
    matching the oracle's ROW_NUMBER order."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases,
        errors,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload=["ts", "event_id"],
        right_tiebreakers=["event_id"],
        direction="forward",
        tolerance_seconds=3600,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("next_error_ts"),
        F.col("event_id_asof").alias("next_error_id"),
    )


# --------------------------------------------------------------------------
# Event-stream batch analogs (§2.8 superset: sessionization, tumbling windows)
# --------------------------------------------------------------------------


@corpus_query(
    "events_sessionized",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id)
                         > 21600000000::BIGINT
                         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ), sess AS (
        SELECT user_id, event_id, ts, value,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_seq
        FROM gaps
    )
    SELECT user_id, session_seq,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           {dsum_expr_sql("value", 18, 2)} AS session_value
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 6h starts a new session): lag + conditional +
    running-sum session ids, then per-session aggregates. The batch twin of
    streaming session windows (SURVEY §2.8 superset)."""
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_us = F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(
        prev_us.isNull()
        | (F.unix_micros(F.col("ts")) - prev_us > 6 * 3600 * 1_000_000),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("__new", is_new)
        .withColumn("session_seq", F.sum("__new").over(wrun))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dsum("value").alias("session_value"),
        )
    )


@corpus_query(
    "events_hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n,
           {dsum_expr_sql("value", 18, 2)} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — batch twin of the Structured
    Streaming windowed agg (streaming/ runs the same logic incrementally)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@corpus_query(
    "w1b_latest_via_max_by",
    oracle="""
    SELECT user_id,
           arg_max(event_id,
                   printf('%020d-%020d',
                          epoch_us(ts) + 4611686018427387904,
                          event_id + 4611686018427387904))
               AS last_event_id,
           MAX(ts) AS last_ts,
           arg_max(event_type,
                   printf('%020d-%020d',
                          epoch_us(ts) + 4611686018427387904,
                          event_id + 4611686018427387904))
               AS last_type,
           arg_max(value,
                   printf('%020d-%020d',
                          epoch_us(ts) + 4611686018427387904,
                          event_id + 4611686018427387904))
               AS last_value
    FROM events
    GROUP BY user_id
    """,
)
def w1b_latest_via_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-shaped argmax (the max_by alternative to W1's
    row_number window, SURVEY §4 'dedup/argmax'): partial-aggregatable,
    so the map side pre-reduces each partition to one row per key before
    the shuffle — cheaper than the window when only selected columns are
    needed.

    The ordering key is the COMPOSITE (ts, event_id), encoded as a
    fixed-width zero-padded string so lexicographic order equals
    numeric order (neither engine's argmax accepts a struct key):
    max_by on a bare tie-bearing column picks an ARBITRARY row per
    engine — the fuzzer's minute-quantized timestamps caught exactly
    that divergence (tools/corpus_fuzz.py, r9) — where the composite
    key keeps the aggregate deterministic, matching the corpus's
    explicit-tiebreaker convention with the single-pass shape intact.

    Both components are biased by +2^62 before formatting so the
    encoding is TOTAL over [-2^62, 2^62) — negative epochs (pre-1970
    timestamps) or negative ids format as shorter '-…' strings that
    break lexicographic==numeric, and relying on a non-negativity data
    contract left that silent (ADVICE r9). 2^62 µs is ±146k years
    around the epoch; the biased value stays within int64 so neither
    engine overflows, and %020d stays fixed-width (max 19 digits)."""
    ev = load_table(spark, sf_dir, "events")
    _BIAS = 4611686018427387904  # 2^62
    key = F.format_string(
        "%020d-%020d",
        F.unix_micros("ts") + F.lit(_BIAS),
        F.col("event_id") + F.lit(_BIAS),
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", key).alias("last_event_id"),
        F.max("ts").alias("last_ts"),
        F.max_by("event_type", key).alias("last_type"),
        F.max_by("value", key).alias("last_value"),
    )


@corpus_query(
    "o6_orders_global_rank",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS pos
    FROM orders
    """,
)
def o6_orders_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-TABLE global ORDER BY materialized as a rank column — the
    shape o1 deliberately avoids (o1 cuts to top-100 first; here every
    row needs its position: percentile exports, leaderboard snapshots,
    stable pagination keys).

    Scale shape: a plain ROW_NUMBER() OVER (ORDER BY ...) funnels the
    whole table through ONE window task; this query instead rides
    operators/rank.py::global_rank — range-partition on the sort key,
    rank within each range partition (window PARTITIONED by the captured
    partition id), add the broadcast cumulative count of preceding
    partitions. Identical output to the single-task window (differential
    -tested in test_operator_properties), every stage parallel."""
    from ..operators.rank import global_rank

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return global_rank(
        orders,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        rank_col="pos",
    )
