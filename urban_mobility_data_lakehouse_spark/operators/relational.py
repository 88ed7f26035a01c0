"""Relational operator builders — SURVEY.md §2.2–§2.7 re-expressed as
idiomatic DataFrame plans.

Every function takes DataFrames in, returns a DataFrame out, and leaves
physical strategy to Catalyst (broadcast hints are added only where the
reference's workload shape — multi-million-row fact vs ~2.5k-row dims,
mobility_ingestion_pipeline.py:561-562 — makes the choice obvious at any
scale).  Output columns are explicitly aliased and integer-typed columns
cast to long so results compare bit-stably against the DuckDB oracles.

Scale notes are inline: each operator states why its plan shape survives
a 1000-executor / 100 TB deployment.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import broadcast


MICRO = 1_000_000


def micro_units(col: Column | str) -> Column:
    """A value as exact integer micro-units (BIGINT): round(v·10⁶)
    half-up.  For ≤6-dp inputs with |v| < 2⁵¹/10⁶ ≈ 2.25·10⁹ this
    equals the unscaled value of CAST(v AS DECIMAL(25,6)) — both round
    the double's shortest decimal representation half-up at the 6th
    place (verified row-exhaustively at every SF for every dsum
    consumer column, r13); past 2⁵¹ the product v·10⁶ has a ulp of
    0.5, so the half-up rounding can drift from the decimal cast.
    NaN/±Infinity map to NULL exactly as the decimal cast did, so a
    poisoned row is ignored by SUM rather than summed as 0 / Long.MAX."""
    c = F.col(col) if isinstance(col, str) else col
    d = c.cast("double")
    return F.when(
        ~F.isnan(d) & (F.abs(d) != float("inf")),
        F.round(d * MICRO, 0).cast("long"),
    )


def micro_to_double(sum_micro: Column) -> Column:
    """Exact finisher: Σmicro/10⁶ as DOUBLE via one per-GROUP decimal
    division (the quotient has ≤6 dp, so the decimal is exact and the
    double cast is the same correctly-rounded value the old
    DECIMAL(35,6)→DOUBLE cast produced)."""
    return (sum_micro.cast("decimal(38,6)") / F.lit(MICRO)).cast("double")


def dsum(col: Column | str) -> Column:
    """Order-independent double sum — exact integer accumulation, cast
    back to double.  Float sums are order-dependent under parallel
    aggregation — with a shuffle-partition count that varies by cluster
    size, a plain sum(double) is not reproducible, and the DuckDB oracle
    would disagree in the last ulps.

    r13: accumulates BIGINT micro-units instead of DECIMAL(25,6) — the
    decimal path paid a Double.toString-based cast plus a BigDecimal add
    PER ROW (the dominant map-side cost of pricing_summary /
    silver_batch_audit / gravity_gaps: 3.5-8.9 s of aggregate-stage CPU
    at sf0.1), where the micro path is two codegen double ops and a long
    add.  Value-identical: per-row round(v·10⁶) == the decimal cast's
    unscaled long for ≤6-dp inputs (row-exhaustively verified per SF),
    integer sums are order-free, and `micro_to_double` finishes with one
    exact decimal division per group.  Scale bounds, disclosed: the
    per-ROW micro/decimal equivalence needs |v| < 2⁵¹/10⁶ ≈ 2.25·10⁹
    (beyond it the long diverges by ulps from the decimal cast), and
    the BIGINT accumulator holds Σ|v| up to 2⁶³/10⁶ ≈ 9.2·10¹² in
    value units — past THAT a non-ANSI sum(long) silently wraps where
    the decimal sum went NULL, so a deployment anywhere near either
    bound swaps `dsum_decimal` back in (same result for in-bound data,
    ~10× the map-side cost).  Non-finite inputs are NULL on both
    paths (see micro_units)."""
    return micro_to_double(F.sum(micro_units(col)))


def dsum_decimal(col: Column | str) -> Column:
    """The DECIMAL(25,6) accumulation form of `dsum` — unbounded-scale
    fallback (see dsum's scale note)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(25,6)")).cast("double")


def davg(col: Column | str) -> Column:
    """Order-independent mean built from the exact decimal sum."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


# ---------------------------------------------------------------------------
# Aggregations (§2.4)
# ---------------------------------------------------------------------------

def hourly_profile(events: DataFrame) -> DataFrame:
    """A1/O1 flagship: per (date, hour) demand profile.

    Parity: the reference's most load-bearing query — hourly trip totals
    feeding both gold tasks (mobility_ingestion_pipeline.py:651-659).
    Scale: single hash aggregation; partial (map-side) aggregation makes the
    shuffle carry only ~dates×24 rows per partition regardless of input size.
    """
    return (
        events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.round(dsum("value"), 4).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_date", "hour")
    )


def pricing_summary(lineitem: DataFrame, cutoff: str = "2001-09-01") -> DataFrame:
    """A1 multi-aggregate (TPC-H Q1 shape): grouped SUM/AVG/COUNT.

    Scale: filter is pushed to the scan; group-by on two low-cardinality
    string keys → tiny shuffle after partial agg.
    """
    return (
        lineitem.filter(F.col("l_shipdate") < F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(dsum("l_quantity"), 2).alias("sum_qty"),
            F.round(dsum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(davg("l_quantity"), 4).alias("avg_qty"),
            F.round(davg("l_extendedprice"), 4).alias("avg_price"),
            F.round(davg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def global_stats(events: DataFrame) -> DataFrame:
    """A2/A3: global (ungrouped) aggregate with exact COUNT(DISTINCT …).

    Parity: audit_batch_results (mobility_ingestion_pipeline.py:600-609).
    Scale: COUNT(DISTINCT) expands to a two-stage partial-distinct plan;
    for 100 TB the approx_count_distinct (HLL++) column is the right
    tool — the reference itself uses approx_unique in SUMMARIZE.  The
    sketch is checked as a bounded-error assertion (within 5% of exact),
    which is the only oracle-portable contract an approximation has.
    """
    exact_users = F.countDistinct("user_id")
    approx_users = F.approx_count_distinct("user_id", rsd=0.02)
    return events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(dsum("value"), 4).alias("sum_value"),
        exact_users.alias("n_users"),
        F.countDistinct(F.date_format("ts", "yyyy-MM-dd")).alias("n_days"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        (
            F.abs(approx_users - exact_users)
            <= 0.05 * exact_users
        ).alias("approx_users_ok"),
    )


def conditional_agg(orders: DataFrame) -> DataFrame:
    """A4: FILTER-clause conditional aggregation (bad-row audit shape,
    mobility_ingestion_pipeline.py:606) as sum(when(cond,1)).

    Also carries the P5/P6 predicate family: a BETWEEN-on-dates FILTER
    column and an IN-list flag on the group key (the consultation DAG's
    date-range filters, mobility_consultations.py:52,65)."""
    in_window = F.col("o_orderdate").between(
        F.lit("1996-01-01").cast("timestamp"),
        F.lit("1997-12-31").cast("timestamp"),
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.coalesce(
                F.sum(F.when(F.col("o_orderstatus") == "O", 1)), F.lit(0)
            ).alias("n_open"),
            F.coalesce(
                F.sum(F.when(F.col("o_totalprice") > 300000.0, 1)), F.lit(0)
            ).alias("n_high_value"),
            F.coalesce(F.sum(F.when(in_window, 1)), F.lit(0)).alias(
                "n_in_96_97"
            ),
            F.round(
                davg(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))),
                4,
            ).alias("avg_finished_price"),
        )
        .withColumn(
            "is_high_priority",
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        )
        .orderBy("o_orderpriority")
    )


def min_dedup_map(lineitem: DataFrame) -> DataFrame:
    """A5: MIN-as-representative many→one collapse (the reference's
    INE↔MITMA mapping dedup, mobility_ingestion_pipeline.py:214-221)."""
    return (
        lineitem.groupBy(F.col("l_partkey").alias("part_key"))
        .agg(
            F.min("l_suppkey").alias("canonical_suppkey"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("part_key")
    )


def two_level_agg(events: DataFrame) -> DataFrame:
    """A11: grouped-then-regrouped — daily totals, then weekday/weekend
    average (1_sprint1_schema_prototyping.ipynb:3483-3520 cell 43).

    weekday(): Monday=0 … Sunday=6, so weekend == weekday >= 5
    (ISODOW >= 6 in the reference).
    """
    daily = events.groupBy(
        F.to_date("ts").alias("event_date")
    ).agg(dsum("value").alias("daily_total"))
    return (
        daily.groupBy(
            F.when(F.weekday("event_date") >= 5, "weekend")
            .otherwise("weekday")
            .alias("day_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(davg("daily_total"), 4).alias("avg_daily_total"),
        )
        .orderBy("day_type")
    )


def modal_event_type(events: DataFrame) -> DataFrame:
    """A7: statistical mode per group with deterministic tie-break
    (count desc, then value asc) — the reference's MODE(dayname(date))
    per cluster (mobility_ingestion_pipeline.py:738,756).

    Scale: two-stage — count per (group, value), then a per-group top-1
    window; both shuffle only on user_id.
    """
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("cnt").alias("modal_count"),
        )
        .orderBy("user_id")
    )


def ordered_set_agg(events: DataFrame) -> DataFrame:
    """A8: ordered list aggregation (list(... ORDER BY ...) at
    1_sprint3_schema_reprototyping.ipynb:5691 cell 77), emitted as a
    joined string for stable cross-engine comparison."""
    return (
        events.groupBy("user_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
                "event_types"
            ),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("user_id")
    )


def summarize_profile(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """A12/S12: SUMMARIZE-style per-column profile (nulls, distincts,
    min/max as strings) — 1_sprint3_schema_reprototyping.ipynb:1277 cell 14.

    One pass: a single global agg computes all columns' metrics, then a
    stack() unpivots — no per-column scans.
    """
    aggs = []
    for c in columns:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in columns
    )
    return wide.select(
        F.expr(
            f"stack({len(columns)}, {stack_args}) as "
            "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
        )
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# Joins (§2.3)
# ---------------------------------------------------------------------------

def sales_by_nation(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """J1: fact → small-dim lookup chain with explicit broadcast.

    Parity: silver fact build joins the 2,569-row dim twice
    (mobility_ingestion_pipeline.py:561-562).  Scale: both dims broadcast →
    no shuffle of the fact until the final tiny group-by.
    """
    return (
        orders.join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(dsum("o_totalprice"), 2).alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


def roleplay_nations(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """J7 + J1 role-playing: the same dim (nation) joined twice under two
    roles (customer nation vs supplier nation), TPC-H Q7 shape — the
    Spark analog of origin/destination dim_zones role-playing."""
    cust_nation = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(cust_nation), F.col("c_nationkey") == F.col("cn_key"))
        .join(broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("cust_nation", "supp_nation")
    )


def left_join_enrich(nation: DataFrame, customer: DataFrame) -> DataFrame:
    """J3: left-outer enrichment with COALESCE defaults (the reference's
    'External/International' fallback, 1_sprint3...ipynb:4954 cell 65).

    Scale: aggregate-then-join (A10) — customer is pre-aggregated to one
    row per nation before the join, so the join input is tiny.
    """
    per_nation = customer.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("cnt"), dsum("c_acctbal").alias("bal")
    )
    return (
        nation.join(
            per_nation, F.col("n_nationkey") == F.col("c_nationkey"), "left"
        )
        .select(
            "n_name",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n_customers"),
            F.round(F.coalesce(F.col("bal"), F.lit(0.0)), 2).alias(
                "total_acctbal"
            ),
        )
        .orderBy("n_name")
    )


def compound_key_join(orders: DataFrame) -> DataFrame:
    """J4: multi-column equi-join (zone_id AND date in the holiday join,
    1_sprint3...ipynb:4954 cell 65): orders joined back to per-(customer,
    day) counts to flag multi-order days."""
    daily = orders.groupBy(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderdate").alias("d_orderdate"),
    ).agg(F.count(F.lit(1)).alias("orders_that_day"))
    return (
        orders.join(
            daily,
            (F.col("o_custkey") == F.col("d_custkey"))
            & (F.col("o_orderdate") == F.col("d_orderdate")),
        )
        .filter(F.col("orders_that_day") > 1)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "orders_that_day",
        )
        .orderBy("o_orderkey")
    )


def anti_join_orphans(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """J6: left-anti referential-integrity check (orphan audit,
    1_sprint3...ipynb:4003 cell 53).  Scale: broadcast the distinct key
    set when small; Spark plans BroadcastHashJoin(LeftAnti) here."""
    return (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def semi_join_active(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Left-semi complement of J6 (reference expresses the semantics via
    inner join + distinct; semi-join avoids the post-join dedup)."""
    open_orders = orders.filter(F.col("o_orderstatus") == "O")
    return (
        customer.join(
            open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
        )
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Windows (§2.5) and sorts/top-k (§2.6)
# ---------------------------------------------------------------------------

def surrogate_keys(nation: DataFrame) -> DataFrame:
    """W1: ROW_NUMBER surrogate-key generation over a small dim
    (mobility_ingestion_pipeline.py:236).  The unpartitioned window is a
    deliberate single-partition plan — valid only because dims are tiny
    (2.5k rows in the reference); never do this on a fact table.  For
    large tables use monotonically_increasing_id or zipWithIndex."""
    w = Window.orderBy("n_name")
    return nation.select(
        F.row_number().over(w).cast("long").alias("zone_id"),
        F.col("n_name").alias("zone_name"),
        F.col("n_regionkey").cast("long").alias("region_key"),
    ).orderBy("zone_id")


def ntile_tiers(customer: DataFrame, n: int = 4) -> DataFrame:
    """W2: NTILE quantile bucketing (rent tiers,
    1_sprint1_schema_prototyping.ipynb:3626-3700 cell 45) with a
    deterministic tie-break on the unique key."""
    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    tiers = customer.select(
        "c_custkey", F.ntile(n).over(w).cast("long").alias("balance_tier")
    )
    return (
        tiers.groupBy("balance_tier")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("balance_tier")
    )


def running_totals(events: DataFrame) -> DataFrame:
    """Beyond-reference window coverage: running sum + lag over an event
    stream — the frame-spec/offset functions SURVEY §2.5 notes as absent
    in the reference but required of a complete engine."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
                ).alias("running_value"),
        F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
        F.round(
            F.avg("value").over(w.rowsBetween(-2, 0)), 4
        ).alias("moving_avg_3"),
    ).orderBy("user_id", "event_id")


def topk(orders: DataFrame, k: int = 10) -> DataFrame:
    """O2: ORDER BY + LIMIT top-k (mobility_consultations.py:155-156).
    Spark plans TakeOrderedAndProject — no global sort materialized."""
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Filters / projections (§2.2) and set ops (§2.7)
# ---------------------------------------------------------------------------

def filter_suite(part: DataFrame) -> DataFrame:
    """P3/P4/P6/P7 composite: LIKE, NOT LIKE, IN-list, regex, inequality —
    the bronze cleaning predicate family.  The trailing select→filter
    chain on the computed `fee` alias is P8 (lateral column alias):
    project the alias, then filter on it."""
    return (
        part.filter(
            F.col("p_name").like("%widget%")
            & ~F.col("p_brand").like("%#1")
            & F.col("p_type").isin("ECONOMY", "PROMO", "LARGE")
            & F.col("p_brand").rlike(r"#\d{2}$")
            & (F.col("p_size") != 0)
        )
        .select(
            "p_partkey", "p_name", "p_brand", "p_type",
            F.col("p_size").cast("long").alias("p_size"),
            F.round(F.col("p_retailprice") * 0.05, 4).alias("fee"),
        )
        .filter(F.col("fee") > 10.0)
        .orderBy("p_partkey")
    )


def try_cast_clean(events: DataFrame) -> DataFrame:
    """P10 defensive casts + regex extraction: pull the numeric payload out
    of the JSON-ish props string with a NULL-on-failure cast (the
    reference's TRY_CAST cleaning idiom, Sprint-2.md:93-95), then the
    double-hop CAST(TRY_CAST(…)) 'Zero Trap' repair."""
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    return (
        events.select(
            "event_id",
            k.try_cast("long").alias("k_value"),
            # explicit round: DuckDB's double→int cast rounds, Spark's
            # truncates — round first so both engines agree
            F.round(F.col("value").try_cast("double"), 0)
            .cast("long")
            .alias("value_int"),
        )
        .filter(F.col("k_value").isNotNull())
        .orderBy("event_id")
    )


def distinct_days(events: DataFrame) -> DataFrame:
    """P9: SELECT DISTINCT (distinct load-dates probe,
    mobility_ingestion_pipeline.py:612-617)."""
    return (
        events.select(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .distinct()
        .orderBy("event_date")
    )


def set_ops(customer: DataFrame, supplier: DataFrame) -> DataFrame:
    """§2.7 UNION/INTERSECT/EXCEPT coverage over nation-key sets.
    Output one row per key with membership flags — deterministic and
    exercises all three ops."""
    c = customer.select(F.col("c_nationkey").cast("long").alias("nkey")).distinct()
    s = supplier.select(F.col("s_nationkey").cast("long").alias("nkey")).distinct()
    both = c.intersect(s).withColumn("membership", F.lit("both"))
    c_only = c.exceptAll(s).withColumn("membership", F.lit("customer_only"))
    s_only = s.exceptAll(c).withColumn("membership", F.lit("supplier_only"))
    return both.unionByName(c_only).unionByName(s_only).orderBy("nkey", "membership")


def salted_agg(
    events: DataFrame,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-safe two-stage aggregation (salting): partial aggregate on
    (key, salt), then final merge on key.

    `event_type` has a handful of distinct values over millions of rows
    — the textbook hot-key shape where a single-stage groupBy funnels
    every row of one key through one reducer.  Salting bounds any
    reducer's share to 1/n_salts of a hot key; at 100 TB this (or AQE
    skew handling) is the difference between a 5-minute and a 5-hour
    stage.  The salt is crc32 of a high-cardinality column — NOT
    rand(), so retried tasks re-derive identical partials (required
    for exactly-once under task retry).

    Partials stay EXACT integers through both stages (micro-units,
    see dsum) so the result is bit-identical to the unsalted plan —
    which is exactly how the oracle checks it: same GROUP BY, no salt,
    in plain SQL.
    """
    salt = F.pmod(F.crc32(F.col("event_id").cast("string")), F.lit(n_salts))
    partial = (
        events.withColumn("salt", salt)
        .groupBy("event_type", "salt")
        .agg(
            F.sum(micro_units("value")).alias("pv"),
            F.count(F.lit(1)).alias("pc"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.round(micro_to_double(F.sum("pv")), 4).alias("total_value"),
            F.sum("pc").alias("n_events"),
        )
        .orderBy("event_type")
    )
