"""Relational operators around the extraction pipeline: windowed event
rollups, sessionization, a pricing-summary aggregate, and the resume
anti-join demonstrated on plain tables (the checkpoint machinery itself
lives in plans/checkpoint.py).

Double-typed measures are cast to decimal(18,2) before summing so
aggregation order (Spark partition order vs DuckDB scan order) cannot
change the result — exact arithmetic, exact oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = [
    "events_hourly",
    "sessionize",
    "pricing_summary",
    "resume_pending",
    "revenue_by_nation",
]

SESSION_GAP_MIN = 30


def events_hourly(events: DataFrame) -> DataFrame:
    """Per (hour, event_type): counts, exact value sum, distinct users,
    and the sum of the JSON ``props.k`` field.

    ``hour_ts`` is the formatted wall-clock hour: for naive parquet
    timestamps this is session-timezone-INVARIANT (Spark interprets the
    value in the session TZ and formats it back in the same TZ), so the
    oracle comparison holds whatever session the caller built —
    epoch-seconds output would shift with the session timezone.
    """
    return (
        events.withColumn(
            "hour_ts",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm"),
        )
        .groupBy("hour_ts", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(
                F.get_json_object("props", "$.k").cast("bigint")
            ).alias("k_sum"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Per-user sessionization by inactivity gap (window functions).

    A new session starts when the gap to the previous event exceeds
    ``gap_minutes``. Output: (user_id, n_sessions, n_events,
    max_session_events)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    # microsecond-precision wall-clock gap via timestampdiff: DuckDB's
    # epoch() difference is the naive wall-clock delta, and unix_timestamp
    # would (a) truncate to whole seconds and (b) route NTZ values through
    # the session timezone, shifting gaps that straddle a DST transition
    gap = F.expr(
        "timestampdiff(MICROSECOND, "
        "lag(ts) over (partition by user_id order by ts, event_id), ts)"
    )
    with_new = events.withColumn(
        "new_session",
        F.when(gap > gap_us, 1).otherwise(0).cast("int"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = with_new.groupBy("user_id", "session_id").agg(
        F.count("*").alias("session_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("session_events").alias("n_events"),
        F.max("session_events").alias("max_session_events"),
    )


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (group-agg over the fact table).

    Exercises: scan + filter pushdown + partial aggregation. All money
    math in decimal for exact cross-engine results."""
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(price).alias("sum_base_price"),
            F.sum((price * (F.lit(1).cast("decimal(18,2)") - disc)).cast("decimal(28,4)")).alias("sum_disc_price"),
            F.sum(
                (price * (F.lit(1).cast("decimal(18,2)") - disc) * (F.lit(1).cast("decimal(18,2)") + tax)).cast("decimal(38,6)")
            ).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def resume_pending(orders: DataFrame, mod: int = 7, done_below: int = 2) -> DataFrame:
    """Broadcast anti-join resume demo on a plain table: treat orders with
    ``o_orderkey % mod < done_below`` as checkpointed-done; return the
    pending keys."""
    done = orders.filter(
        F.pmod(F.col("o_orderkey"), F.lit(mod)) < done_below
    ).select("o_orderkey")
    return (
        orders.join(F.broadcast(done), "o_orderkey", "left_anti")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


def revenue_by_nation(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """Star-schema revenue rollup (TPC-H Q5-shaped): orders ⨝ customer
    ⨝ nation ⨝ region, filtered to one region, grouped by nation.

    region and nation are broadcast unconditionally (bounded: 5 / 25
    rows at any TPC-H scale). The customer-joined dims side is LEFT TO
    SIZE-BASED PLANNING: customer grows linearly with scale factor, so
    a forced broadcast would blow the driver at large SF — Spark/AQE
    broadcasts it while it fits (asserted at bench scale by the plan
    test) and falls back to a shuffle join beyond that. Catalyst pushes
    the region filter through the joins so pruned dimensions never
    reach the probe. Revenue sums decimal-exact (order-independent
    across engines). Output: (n_name, n_orders, revenue)."""
    dims = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.filter(F.col("r_name") == region_name)
                    ),
                    nation["n_regionkey"] == region["r_regionkey"],
                ).select("n_nationkey", "n_name")
            ),
            customer["c_nationkey"] == F.col("n_nationkey"),
        ).select("c_custkey", "n_name")
    )
    return (
        orders.join(dims, orders["o_custkey"] == dims["c_custkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("revenue"),
        )
    )
