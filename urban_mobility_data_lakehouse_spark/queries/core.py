"""Relational-core queries (SURVEY.md §2.2–§2.7) with DuckDB oracles.

Column names and numeric types are aligned on both sides (aggregates
aliased identically, ints emitted as BIGINT, floats rounded the same way)
because the driver hashes values after sorting columns by name.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import relational as R
from ..sources.testdata import load_table
from . import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- Aggregations ---------------------------------------------------------

@register(
    "hourly_demand",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           hour(ts) AS hour,
           round(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 4) AS total_value,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("A1", "O1", "flagship"),
    bench=True,
)
def hourly_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.hourly_profile(_t(spark, sf_dir, "events"))


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(l_quantity), 4) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / count(l_extendedprice), 4) AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / count(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("A1",),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: fan_out REMOVED.  It existed to parallelize the DECIMAL
    # partial aggregation past the single-row-group local scan; with
    # dsum's BIGINT micro-unit accumulation the per-row agg cost is a
    # few codegen ops, and the fan_out exchange (a serial scan task
    # writing ~9 MB of shuffle) cost more than it saved (A/B at sf0.1:
    # 1.37 s → 1.03 s min-of-3 direct).  On production multi-split
    # layouts fan_out was a no-op, so the 100 TB plan is unchanged.
    return R.pricing_summary(_t(spark, sf_dir, "lineitem"))


@register(
    "global_stats",
    oracle="""
    SELECT count(*) AS n_rows,
           round(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 4) AS sum_value,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           TRUE AS approx_users_ok,
           (SELECT count(DISTINCT c_nationkey) FROM customer)
               AS nations_with_customers,
           (SELECT count(*) FROM nation) AS n_nations,
           CAST(round((SELECT count(DISTINCT c_nationkey) FROM customer) * 100.0
                 / nullif((SELECT count(*) FROM nation), 0), 4) AS DOUBLE)
               AS coverage_pct
    FROM events
    """,
    tags=("A2", "A3", "A9", "scale"),
)
def global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 global agg + A3 exact and approximate COUNT(DISTINCT) + A9
    scalar subqueries.  The HLL++ sketch column is oracle-checked as a
    bounded-error assertion (|approx − exact| ≤ 5%·exact must hold →
    TRUE on both sides).  The A9 columns (formerly the standalone
    scalar_subquery_coverage row, folded here to free a driver slot
    for near_dup_incremental) run as REAL scalar subqueries through
    spark.sql — the operator under test is subquery-in-SELECT, not the
    arithmetic — then cross-join the one-row profile (1×1 cross, no
    data motion)."""
    base = R.global_stats(_t(spark, sf_dir, "events"))
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    scalars = spark.sql("""
        SELECT (SELECT count(DISTINCT c_nationkey) FROM customer)
                   AS nations_with_customers,
               (SELECT count(*) FROM nation) AS n_nations,
               CAST(round(
                   (SELECT count(DISTINCT c_nationkey) FROM customer) * 100.0
                     / nullif((SELECT count(*) FROM nation), 0), 4) AS DOUBLE)
                   AS coverage_pct
    """)
    return base.crossJoin(scalars)


@register(
    "conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           coalesce(count(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS n_open,
           coalesce(count(*) FILTER (WHERE o_totalprice > 300000.0), 0)
               AS n_high_value,
           coalesce(count(*) FILTER (
               WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                     AND TIMESTAMP '1997-12-31'), 0)
               AS n_in_96_97,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                      FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
                 / count(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 4)
               AS avg_finished_price,
           o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_high_priority
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("A4", "P5", "P6"),
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 FILTER-clause aggregation + P5 BETWEEN-on-dates (as a FILTER
    column) + P6 IN-list (as a flag on the group key)."""
    return R.conditional_agg(_t(spark, sf_dir, "orders"))


@register(
    "representative_agg",
    oracle="""
    SELECT o_custkey,
           any_value(c_name) AS customer_name,
           min(o_orderkey) AS first_orderkey,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
    tags=("A5", "A6"),
)
def representative_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 MIN-as-representative dedup + A6 ANY_VALUE in one grouped
    pass (1_sprint1...ipynb:2706-2708 cell 31).  ANY_VALUE is
    deterministic (hence oracle-checkable) because c_name is
    functionally dependent on the group key — the only sound way to
    check ANY_VALUE.  The lineitem-wide MIN-dedup operator itself is
    R.min_dedup_map (plan-tested for column pruning)."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import broadcast

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(
            broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy("o_custkey")
        .agg(
            F.any_value("c_name").alias("customer_name"),
            F.min("o_orderkey").alias("first_orderkey"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


@register(
    "two_level_agg",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS event_date,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS daily_total
        FROM events GROUP BY 1
    )
    SELECT CASE WHEN isodow(event_date) >= 6 THEN 'weekend'
                ELSE 'weekday' END AS day_type,
           count(*) AS n_days,
           round(CAST(sum(CAST(daily_total AS DECIMAL(25,6))) AS DOUBLE) / count(daily_total), 4) AS avg_daily_total
    FROM daily
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("A11",),
)
def two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.two_level_agg(_t(spark, sf_dir, "events"))


@register(
    "user_event_profile",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, count(*) AS cnt
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT user_id, event_type, cnt,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY cnt DESC, event_type ASC) AS rn
        FROM counts
    ), modal AS (
        SELECT user_id, event_type AS modal_type, cnt AS modal_count
        FROM ranked WHERE rn = 1
    ), lists AS (
        SELECT user_id,
               array_to_string(
                   array_agg(DISTINCT event_type ORDER BY event_type),
                   ',') AS event_types,
               count(DISTINCT event_type) AS n_types
        FROM events GROUP BY user_id
    )
    SELECT m.user_id, m.modal_type, m.modal_count,
           l.event_types, l.n_types
    FROM modal m JOIN lists l ON m.user_id = l.user_id
    ORDER BY m.user_id
    """,
    tags=("A7", "A8"),
)
def user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 MODE-with-tie-break + A8 ordered list agg, joined per user.
    Both sides shuffle only on user_id; at scale AQE picks the join
    strategy for the two user-keyed aggregates."""
    events = _t(spark, sf_dir, "events")
    modal = R.modal_event_type(events)
    lists = R.ordered_set_agg(events)
    return modal.join(lists, "user_id").orderBy("user_id")


@register(
    "summarize_profile",
    oracle="""
    SELECT * FROM (
        SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
               count(*) - count(o_custkey) AS n_nulls,
               count(DISTINCT o_custkey) AS n_distinct,
               min(CAST(o_custkey AS VARCHAR)) AS min_value,
               max(CAST(o_custkey AS VARCHAR)) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
               count(DISTINCT o_orderstatus),
               min(CAST(o_orderstatus AS VARCHAR)),
               max(CAST(o_orderstatus AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
               count(DISTINCT o_totalprice),
               min(CAST(o_totalprice AS VARCHAR)),
               max(CAST(o_totalprice AS VARCHAR))
        FROM orders
    ) ORDER BY column_name
    """,
    tags=("A12", "S12"),
)
def summarize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.summarize_profile(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderstatus", "o_totalprice"],
    )


# --- Joins ----------------------------------------------------------------

@register(
    "sales_by_nation",
    oracle="""
    SELECT n_name,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE), 2) AS total_sales,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
    tags=("J1",),
    bench=True,
)
def sales_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: fan_out removed — see pricing_summary (micro-unit partials
    # made the broadcast probes + agg cheaper than the fan_out
    # exchange; A/B at sf0.1: 0.59 s → 0.39 s direct)
    return R.sales_by_nation(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "roleplay_nations",
    oracle="""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("J7", "J1"),
    bench=True,
)
def roleplay_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: the lineitem×orders orderkey join is FACT×FACT — ride the
    # same write-time bucketed layout gravity_gaps and
    # bucketed_fact_join use (ensure_bucketed_facts), so the join needs
    # NO exchange on either side; the four dims stay broadcast.
    # Unprepared sessions fall back to plain scans — same rows.
    from .functions_suite import attach_bucketed_facts

    names = attach_bucketed_facts(spark, sf_dir)
    if names is not None:
        lineitem, orders = (spark.table(n) for n in names)
        lineitem = lineitem.hint("MERGE")
    else:
        lineitem = _t(spark, sf_dir, "lineitem")
        orders = _t(spark, sf_dir, "orders")
    return R.roleplay_nations(
        lineitem,
        orders,
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "left_join_enrich",
    oracle="""
    WITH per_nation AS (
        SELECT c_nationkey, count(*) AS cnt,
               CAST(sum(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS bal
        FROM customer GROUP BY 1
    )
    SELECT n_name,
           coalesce(cnt, 0) AS n_customers,
           round(coalesce(bal, 0.0), 2) AS total_acctbal
    FROM nation LEFT JOIN per_nation ON n_nationkey = c_nationkey
    ORDER BY n_name
    """,
    tags=("J3", "A10"),
)
def left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.left_join_enrich(
        _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "customer")
    )


@register(
    "keyed_join_suite",
    oracle="""
    WITH daily AS (
        SELECT o_custkey AS d_custkey, o_orderdate AS d_orderdate,
               count(*) AS orders_that_day
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           orders_that_day,
           c_mktsegment
    FROM orders
    JOIN daily ON o_custkey = d_custkey AND o_orderdate = d_orderdate
    JOIN customer
      ON CAST(split_part(c_name, '#', 2) AS BIGINT) = o_custkey
    WHERE orders_that_day > 1
    ORDER BY o_orderkey
    """,
    tags=("J2", "J4"),
)
def keyed_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 compound-key self-join (R.compound_key_join) chained with a
    J2 equi-join on a derived key — split_part(c_name)::BIGINT, the
    reference's computed join-condition idiom
    (mobility_ingestion_pipeline.py:229-230,305)."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import broadcast

    compound = R.compound_key_join(_t(spark, sf_dir, "orders"))
    customer = _t(spark, sf_dir, "customer")
    key = F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).cast("long")
    return (
        compound.join(broadcast(customer), key == F.col("o_custkey"))
        .select(
            "o_orderkey", "o_custkey", "order_date", "orders_that_day",
            "c_mktsegment",
        )
        .orderBy("o_orderkey")
    )


@register(
    "semi_anti_membership",
    oracle="""
    SELECT c_custkey, c_name, 'orphan' AS membership
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, 'active_open' AS membership
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    ORDER BY c_custkey, membership
    """,
    tags=("J6",),
)
def semi_anti_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 left-anti (orphan audit) + left-semi (active filter) in one
    labeled union — both plan as broadcast hash joins on the dim."""
    import pyspark.sql.functions as F

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    orphans = R.anti_join_orphans(customer, orders).select(
        "c_custkey", "c_name", F.lit("orphan").alias("membership")
    )
    active = R.semi_join_active(customer, orders).select(
        "c_custkey", "c_name", F.lit("active_open").alias("membership")
    )
    return orphans.unionByName(active).orderBy("c_custkey", "membership")


# --- Windows, sorts, top-k ------------------------------------------------

@register(
    "window_keys_tiers",
    oracle="""
    SELECT row_number() OVER (ORDER BY n_name) AS zone_id,
           n_name AS zone_name,
           CAST(n_regionkey AS BIGINT) AS region_key,
           CAST(ntile(4) OVER (ORDER BY n_name) AS BIGINT) AS name_tier
    FROM nation
    ORDER BY zone_id
    """,
    tags=("W1", "W2"),
)
def window_keys_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 ROW_NUMBER surrogate keys + W2 NTILE bucketing over one
    window pass on the dim (R.surrogate_keys / R.ntile_tiers are the
    fact-side operators; the shared ORDER BY lets both functions ride
    a single sort)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.orderBy("n_name")
    return (
        _t(spark, sf_dir, "nation")
        .select(
            F.row_number().over(w).cast("long").alias("zone_id"),
            F.col("n_name").alias("zone_name"),
            F.col("n_regionkey").cast("long").alias("region_key"),
            F.ntile(4).over(w).cast("long").alias("name_tier"),
        )
        .orderBy("zone_id")
    )


@register(
    "running_totals",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER w_run, 4) AS running_value,
           round(lag(value, 1) OVER w_ord, 4) AS prev_value,
           round(avg(value) OVER w_mov, 4) AS moving_avg_3
    FROM events
    WINDOW w_ord AS (PARTITION BY user_id ORDER BY ts, event_id),
           w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_mov AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("window", "beyond-reference"),
    bench=True,
)
def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.running_totals(_t(spark, sf_dir, "events"))


# --- Filters / projections / set ops --------------------------------------

@register(
    "filter_suite",
    oracle="""
    SELECT * FROM (
        SELECT 'filters' AS part, p_partkey, p_name, p_brand, p_type,
               p_size, fee, CAST(NULL AS VARCHAR) AS event_date
        FROM (
            SELECT p_partkey, p_name, p_brand, p_type,
                   CAST(p_size AS BIGINT) AS p_size,
                   round(p_retailprice * 0.05, 4) AS fee
            FROM part
            WHERE p_name LIKE '%widget%'
              AND p_brand NOT LIKE '%#1'
              AND p_type IN ('ECONOMY', 'PROMO', 'LARGE')
              AND regexp_matches(p_brand, '#\\d{2}$')
              AND p_size != 0
        ) WHERE fee > 10.0
        UNION ALL
        SELECT 'distinct_days', CAST(NULL AS BIGINT),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
               CAST(NULL AS DOUBLE), event_date
        FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS event_date
              FROM events ORDER BY 1 LIMIT 5)
        UNION ALL
        SELECT 'topk', o_orderkey, CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               o_custkey, o_totalprice,
               strftime(o_orderdate, '%Y-%m-%d')
        FROM (SELECT * FROM orders
              ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10)
    )
    ORDER BY part, p_partkey, event_date
    """,
    tags=("P3", "P4", "P6", "P7", "P8", "P9", "O2", "O3"),
)
def filter_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4/P6/P7 predicate family + P8 lateral-alias filter (the
    trailing select→filter chain on the computed `fee` alias), plus a
    NULL-padded `distinct_days` preview part (P9 SELECT DISTINCT + O3
    bare LIMIT, deterministic: ordered first) and a `topk` part (O2
    TakeOrderedAndProject over orders — was the singleton
    `topk_orders`), both folded in to keep the driver registry at 50."""
    filters = (
        R.filter_suite(_t(spark, sf_dir, "part"))
        .select(
            F.lit("filters").alias("part"),
            "p_partkey", "p_name", "p_brand", "p_type", "p_size", "fee",
            F.lit(None).cast("string").alias("event_date"),
        )
    )
    days = (
        R.distinct_days(_t(spark, sf_dir, "events"))
        .limit(5)
        .select(
            F.lit("distinct_days").alias("part"),
            F.lit(None).cast("long").alias("p_partkey"),
            F.lit(None).cast("string").alias("p_name"),
            F.lit(None).cast("string").alias("p_brand"),
            F.lit(None).cast("string").alias("p_type"),
            F.lit(None).cast("long").alias("p_size"),
            F.lit(None).cast("double").alias("fee"),
            "event_date",
        )
    )
    topk = R.topk(_t(spark, sf_dir, "orders")).select(
        F.lit("topk").alias("part"),
        F.col("o_orderkey").alias("p_partkey"),
        F.lit(None).cast("string").alias("p_name"),
        F.lit(None).cast("string").alias("p_brand"),
        F.lit(None).cast("string").alias("p_type"),
        F.col("o_custkey").alias("p_size"),
        F.col("o_totalprice").alias("fee"),
        F.col("order_date").alias("event_date"),
    )
    return (
        filters.unionByName(days)
        .unionByName(topk)
        .orderBy("part", "p_partkey", "event_date")
    )


@register(
    "try_cast_clean",
    oracle="""
    SELECT event_id,
           TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)
               AS k_value,
           CAST(round(TRY_CAST(value AS DOUBLE), 0) AS BIGINT) AS value_int
    FROM events
    WHERE TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)
          IS NOT NULL
    ORDER BY event_id
    """,
    tags=("P10",),
)
def try_cast_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.try_cast_clean(_t(spark, sf_dir, "events"))


@register(
    "set_ops",
    oracle="""
    SELECT nkey, 'both' AS membership FROM
        (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nkey FROM customer
         INTERSECT
         SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
    UNION ALL
    SELECT nkey, 'customer_only' FROM
        (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nkey FROM customer
         EXCEPT
         SELECT DISTINCT CAST(s_nationkey AS BIGINT) FROM supplier)
    UNION ALL
    SELECT nkey, 'supplier_only' FROM
        (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nkey FROM supplier
         EXCEPT
         SELECT DISTINCT CAST(c_nationkey AS BIGINT) FROM customer)
    ORDER BY nkey, membership
    """,
    tags=("setops",),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.set_ops(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    )


@register(
    "salted_agg",
    oracle="""
    SELECT event_type,
           round(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE), 4)
               AS total_value,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("A1", "skew", "scale"),
    bench=True,
)
def salted_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted two-stage aggregation; the oracle is the plain
    unsalted GROUP BY — salting must be result-invariant."""
    return R.salted_agg(_t(spark, sf_dir, "events"))


@register(
    "sessionize_events",
    oracle=None,  # set below (shared template with the streaming tests)
    tags=("sessionization", "window", "streaming-analog"),
    bench=True,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (gaps-and-islands): the batch form of
    the stateful streaming operator in streaming/sessions.py."""
    import pyspark.sql.functions as F

    from ..streaming.sessions import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=30).select(
        "user_id",
        "session_no",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        "total_value",
    )


def _set_sessionize_oracle() -> None:
    from ..streaming.sessions import SESSIONIZE_ORACLE
    from . import REGISTRY, QuerySpec

    spec = REGISTRY["sessionize_events"]
    REGISTRY["sessionize_events"] = QuerySpec(
        spec.name,
        spec.builder,
        SESSIONIZE_ORACLE.format(gap_us=30 * 60 * 1_000_000),
        spec.tags,
        spec.bench,
    )


_set_sessionize_oracle()
