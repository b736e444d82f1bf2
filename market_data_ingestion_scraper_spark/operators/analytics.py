"""Analytics operators (SURVEY.md §2.2-§2.8).

Each function is a pure DataFrame→DataFrame transform built from Catalyst
built-ins only — no Python UDFs — so every plan gets predicate pushdown,
column pruning, whole-stage codegen, and AQE join selection for free.

Scale notes (100 TB):
- Dimension joins (``part``, ``region``…) are broadcast — no shuffle of the
  fact table.  Fact-fact joins (``lineitem ⋈ orders``) shuffle on the join
  key; at scale both sides would be bucketed on orderkey to skip it.
- Aggregations use map-side partial aggregation automatically; measures are
  cast to DECIMAL per row before SUM so partial-agg order cannot change the
  result (exact, reproducible at any parallelism — see functions.exact_sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import bounded_window, exact_sum, is_summary_row, revenue


def top_commodities(lineitem: DataFrame, part: DataFrame, k: int = 5) -> DataFrame:
    """Flagship query — the reference's declared-but-unimplemented
    ``top_five()`` (reference ``scraper/form_handler.py:8-10``): top-k
    commodities by total revenue.  ``part`` is the commodity dimension
    (FIXTURES.md), broadcast to avoid shuffling the fact table."""
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("p_name").alias("commodity"))
        .agg(exact_sum(revenue(), scale=4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("commodity"))
        .limit(k)
    )


def revenue_by_region(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Star-schema rollup (Ext-J4): revenue by customer region.
    lineitem⋈orders is the one genuine shuffle join; all dims broadcast."""
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            exact_sum(revenue(), scale=4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02 00:00:00") -> DataFrame:
    """TPC-H-Q1-shaped pricing/volume stats (Ext-A6 — the README-promised
    pricing & volume analytics, reference ``README.md:4-6``)."""
    sum_price = exact_sum("l_extendedprice", scale=2)
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity", scale=2).alias("sum_qty"),
            sum_price.alias("sum_price"),
            F.round(sum_price / F.count("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def priority_counts(orders: DataFrame, big_threshold: float = 100000.0) -> DataFrame:
    """Conditional counts (A2: count rows matching a predicate, per group —
    the reference's data-row-vs-total counting, ``div_link_handler.py:236-244``)."""
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_totalprice") > big_threshold, 1)).alias("n_big"),
    )


def count_data_rows(documents: DataFrame) -> DataFrame:
    """Summary-row exclusion filter + count (P3+A2,
    ``div_link_handler.py:238-243``): rows whose text mentions
    total/summary (case-insensitive substring) are not data rows."""
    return documents.filter(~is_summary_row("text")).agg(
        F.count(F.lit(1)).alias("n_data_rows")
    )


def classify_containers(lineitem: DataFrame) -> DataFrame:
    """CASE-over-aggregate classification (A4,
    ``div_link_handler.py:248-253``): an order with ≤1 line is
    "single_container", else "multi_container"; count each class."""
    per_order = lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        per_order.select(
            F.when(F.col("n_lines") <= 1, "single_container")
            .otherwise("multi_container")
            .alias("container_class")
        )
        .groupBy("container_class")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def completed_link_types(lineitem: DataFrame) -> DataFrame:
    """Grouped collection (A5, ``div_link_handler.py:83-92``): per key, the
    set of seen sub-types — rendered as a sorted comma-joined string so the
    result is deterministically comparable."""
    return lineitem.groupBy("l_returnflag").agg(
        F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias("statuses")
    )


def fully_covered_keys(lineitem: DataFrame, expected: tuple[str, ...] = ("A", "N", "R")) -> DataFrame:
    """Subset-containment predicate (P6, ``div_link_handler.py:94-102``):
    a key is "complete" iff every expected sub-type was seen.  Expressed as
    collect_set + forall(expected ∈ seen) — the literal Spark translation
    of the reference's ``all(t in scraped for t in expected)``."""
    seen = lineitem.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
        F.collect_set("l_returnflag").alias("seen")
    )
    complete = F.forall(
        F.array(*[F.lit(x) for x in expected]), lambda x: F.array_contains(F.col("seen"), x)
    )
    return seen.filter(complete).select("orderkey")


def unprocessed_work(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Anti-semijoin skip (P5/J1, ``div_link_handler.py:501-503``): the work
    list minus the completed set — here, customers with no orders."""
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def indexed_dimension(df: DataFrame, col: str, alias: str = "commodity_group") -> DataFrame:
    """Dimension enumeration with positional index (S3/T2,
    ``div_link_handler.py:477-497``): distinct values, deterministically
    ordered, with a 1-based index — the `<select>` option list as a table.

    The single-partition window is safe ONLY because its input is
    post-DISTINCT dimension values (dozens of rows — the reference's
    dropdown options).  Never apply this to a fact-table cardinality; if
    the dimension ever explodes, switch to zipWithIndex-style two-phase
    numbering (per-partition counts + offset join) which stays parallel."""
    w = bounded_window(alias, alias)
    return (
        df.select(F.col(col).alias(alias))
        .distinct()
        .withColumn("idx", F.row_number().over(w))
    )


def topk_per_group(lineitem: DataFrame, part: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k via rank window (§2.8): top-k parts by revenue within
    each brand; ties broken by name for determinism."""
    rev = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_name")
        .agg(exact_sum(revenue(), scale=4).alias("revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_name"))
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("p_brand", "p_name", "revenue", "rnk")
    )


def cumulative_monthly_volume(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Running monthly totals (§2.8 — README's "cumulative monthly volumes",
    reference ``README.md:4``): per-commodity monthly quantity plus an
    explicit-frame running sum over months."""
    monthly = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("commodity"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
        )
        .agg(exact_sum("l_quantity", scale=2).alias("month_qty"))
    )
    w = (
        Window.partitionBy("commodity")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.withColumn("cum_qty", F.round(F.sum("month_qty").over(w), 2))


def daily_price_delta(lineitem: DataFrame) -> DataFrame:
    """Day-over-day average-price delta via lag (§2.8).

    The lag window runs single-partition but over POST-AGGREGATION rows —
    one per day, bounded by the calendar (~2.5k rows for 7 years of TPC-H
    dates), not by fact volume, so the single task is a few KB at any data
    scale.  If the grain ever became (day, key), partition the window by
    the key."""
    sum_price = exact_sum("l_extendedprice", scale=2)
    daily = lineitem.groupBy(
        F.date_trunc("day", "l_shipdate").cast("date").alias("day")
    ).agg(F.round(sum_price / F.count(F.lit(1)), 6).alias("avg_price"))
    w = bounded_window("day", "day")
    return daily.withColumn(
        "delta", F.round(F.col("avg_price") - F.lag("avg_price").over(w), 6)
    )


def union_day_slices(lineitem: DataFrame) -> DataFrame:
    """Schema-drift-tolerant union (U1, ``table_scraper.py:35`` +
    file-per-day accumulation): two day-slices with different column sets
    combined by name, missing columns null-filled."""
    y1997 = lineitem.filter(F.year("l_shipdate") == 1997).select(
        "l_orderkey", F.col("l_quantity").alias("qty"), "l_returnflag"
    )
    y1998 = lineitem.filter(F.year("l_shipdate") == 1998).select(
        "l_orderkey", F.col("l_quantity").alias("qty")
    )
    return y1997.unionByName(y1998, allowMissingColumns=True)
