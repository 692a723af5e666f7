"""Relational core: projection/filter, aggregation family, set ops,
subqueries, conditional logic (SURVEY.md §2.C rows C2, C4, C7).

The reference has no relational operators of its own — everything
here is the driver-mandated extension surface (SURVEY.md §2.C),
expressed declaratively so Catalyst gets pushdown/pruning/partial
aggregation for free (the reference's map-side combine, wc_maple.cpp:24-43,
is exactly Spark's partial hash aggregate).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from distributed_system_spark.queries import register
from distributed_system_spark.queries._util import (
    davg,
    dround,
    dsum,
    sql_davg,
    sql_dround,
    sql_dsum,
)
from distributed_system_spark.scratch import keyed_dir
from distributed_system_spark.sources.tables import load_table, table_path


# --- C2: projection + filter (conjunctive + range + LIKE) -----------------

@register(
    "proj_filter",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity,
       {sql_dround('l_extendedprice * (1 - l_discount)')} AS net_price
FROM lineitem
WHERE l_quantity > 30
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_returnflag = 'R'
""",
    tags=("C2",),
)
def proj_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & F.col("l_discount").between(0.02, 0.06)
        & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        dround(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "net_price"
        ),
    )


@register(
    "filter_like",
    oracle="""
SELECT p_partkey, p_name, p_brand
FROM part
WHERE p_name LIKE '%gear%' AND p_type NOT LIKE 'ECO%' AND p_size >= 10
""",
    tags=("C2",),
)
def filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%gear%")
        & ~F.col("p_type").like("ECO%")
        & (F.col("p_size") >= 10)
    ).select("p_partkey", "p_name", "p_brand")


# --- C4: aggregation family ----------------------------------------------

@register(
    "q1_pricing",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2)
            AS DOUBLE) AS sum_disc,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(1 + l_tax AS DECIMAL(4,2))), 2)
            AS DOUBLE) AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount', scale=6)} AS avg_disc,
       count(*) AS cnt
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("C4", "B3", "B5"),
)
def q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial+final hash aggregate.

    The measures are exact 2-decimal values stored as doubles, so all
    arithmetic is decimal (exact, associative): a double product cast
    to decimal rounds differently in Spark (shortest-repr) vs DuckDB
    (binary value) at half-way points.

    TWO-LEVEL aggregate (r14, guide §1.2 "per-task work"): a
    single-level sum of DECIMAL(18,4) casts produces DECIMAL(28,4)
    accumulators — beyond Spark's 18-digit compact (Long-backed)
    representation, so every row paid a BigDecimal add, and the
    per-row DECIMAL(17,4)/(22,6) products for disc/charge likewise
    ran on heap BigDecimals.  l_discount and l_tax have ~11 x 9
    distinct values, so the products DISTRIBUTE: level 1 groups by
    (rf, ls, discount, tax) with only compact sums — qty as
    DECIMAL(8,4) (values <= 50) and price as DECIMAL(8,2) (values
    < 1e6), whose sum types (18,4)/(18,2) stay Long-backed — and
    level 2 (~600 rows at ANY scale) applies the exact decimal
    products and final rounding.  Exact decimal arithmetic is
    distributive, so every output double is bit-identical to the
    single-level form (verified row-equal at sf0.001/0.01/0.1 and
    the manufactured sf1); A/B 0.47x (mins 1.57 -> 0.73, lower in
    all rounds).  Width bounds: per-group sums cap at 1e14 qty /
    1e16 price — two decades past sf1000 even with every row in one
    group; level-2 products peak at DECIMAL(38,6), exactly Spark's
    max precision, no precision-loss rounding anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem")
    lvl1 = (
        li.filter(
            F.col("l_shipdate")
            <= F.lit("2000-12-01 00:00:00").cast("timestamp")
        )
        .groupBy("l_returnflag", "l_linestatus", "l_discount", "l_tax")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(8,4)")).alias("sq"),
            F.sum(F.col("l_extendedprice").cast("decimal(8,2)")).alias(
                "sp"
            ),
        )
    )
    disc1 = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    tax1 = (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    disc6 = F.col("l_discount").cast("decimal(8,6)")
    n14 = F.col("n").cast("decimal(14,0)")
    return (
        lvl1.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("sq"), 2).cast("double").alias("sum_qty"),
            F.round(F.sum("sp"), 2).cast("double").alias("sum_base"),
            F.round(F.sum(F.col("sp") * disc1), 2)
            .cast("double")
            .alias("sum_disc"),
            F.round(F.sum(F.col("sp") * disc1 * tax1), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum("sq").cast("double") / F.sum("n"), 6).alias(
                "avg_qty"
            ),
            F.round(F.sum("sp").cast("double") / F.sum("n"), 6).alias(
                "avg_price"
            ),
            F.round(
                F.sum(disc6 * n14).cast("double") / F.sum("n"), 6
            ).alias("avg_disc"),
            F.sum("n").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_stats",
    oracle=f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price,
       {sql_dsum('o_totalprice')} AS sum_price,
       {sql_davg('o_totalprice')} AS avg_price,
       count(DISTINCT o_custkey) AS n_cust
FROM orders
GROUP BY o_orderpriority
""",
    tags=("C4",),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        dsum("o_totalprice").alias("sum_price"),
        davg("o_totalprice").alias("avg_price"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


@register(
    "count_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_suppkey) AS n_supp,
       count(DISTINCT l_partkey) AS n_part,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("C4",),
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "rollup_agg",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS cnt,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("C4",),
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "cube_agg",
    oracle=f"""
SELECT event_type, date_trunc('day', ts) AS day,
       count(*) AS cnt,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY CUBE (event_type, date_trunc('day', ts))
""",
    tags=("C4", "C9-batch"),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("day", F.col("ts")))
        .cube("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("sum_value"))
        .select("event_type", "day", "cnt", "sum_value")
    )


@register(
    "grouping_sets",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS cnt,
       {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
    tags=("C4",),
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS cnt,
               {sql_dsum('o_totalprice')} AS sum_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


# --- C7: set operations ---------------------------------------------------

def _custkeys_year(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.year("o_orderdate") == year).select("o_custkey")


@register(
    "set_intersect",
    oracle="""
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
""",
    tags=("C7",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_year(spark, sf_dir, 1995).intersect(
        _custkeys_year(spark, sf_dir, 1998)
    )


@register(
    "set_except",
    oracle="""
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
""",
    tags=("C7",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _custkeys_year(spark, sf_dir, 1995).subtract(
        _custkeys_year(spark, sf_dir, 1998)
    )


@register(
    "set_union",
    oracle="""
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
UNION
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
""",
    tags=("C7",),
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _custkeys_year(spark, sf_dir, 1995)
        .union(_custkeys_year(spark, sf_dir, 1998))
        .distinct()
    )


@register(
    "union_by_name",
    oracle="""
SELECT c_custkey AS entity_key, c_name AS entity_name, 'customer' AS kind
FROM customer
UNION ALL
SELECT s_suppkey AS entity_key, s_name AS entity_name, 'supplier' AS kind
FROM supplier
""",
    tags=("C7",),
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.lit("customer").alias("kind"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
    )
    return cust.unionByName(supp)


@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("C7",),
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


# --- subqueries / conditional logic --------------------------------------

@register(
    "scalar_subquery",
    oracle=f"""
WITH t AS (SELECT {sql_davg('o_totalprice', out=6)} AS avg_price FROM orders)
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders, t
WHERE o_totalprice > 1.9 * t.avg_price
""",
    tags=("C2", "subquery"),
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    avg_df = orders.agg(davg("o_totalprice", out=6).alias("avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > 1.9 * F.col("avg_price"))
        .select(
            "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
    )


@register(
    "case_when_tiers",
    oracle=f"""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS tier,
       count(*) AS cnt,
       {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY 1
""",
    tags=("C2", "C4"),
)
def case_when_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        orders.withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice").alias("sum_price")
        )
    )


@register(
    "pivot_status",
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders
GROUP BY o_orderpriority
""",
    tags=("C4", "pivot"),
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@register(
    "try_cast_tokens",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         unnest(list_concat(str_split(text, ' '),
                            [CAST(n_chars AS VARCHAR), '12.5',
                             '99999999999999999999', '-7'])) AS tok
  FROM documents
)
SELECT doc_id, tok,
       CASE WHEN regexp_matches(tok, '^[+-]?[0-9]+$')
            THEN TRY_CAST(tok AS BIGINT) END AS num
FROM toks
""",
    tags=("B6",),
)
def try_cast_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 — error-tolerant cast (wc_juice.cpp:28-37's try/catch stoi).

    Integer-parse semantics are pinned with an explicit regex on both
    engines: Spark's lenient string→bigint cast truncates '12.5' to 12
    while DuckDB's TRY_CAST yields NULL, so neither default matches the
    other. Overflow ('9...9' > int64) is NULL on both via try_cast.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.concat(
        F.split("text", " ", -1),
        F.array(
            F.col("n_chars").cast("string"),
            F.lit("12.5"),
            F.lit("99999999999999999999"),
            F.lit("-7"),
        ),
    )
    return docs.select("doc_id", F.explode(toks).alias("tok")).withColumn(
        "num",
        F.when(
            F.col("tok").rlike("^[+-]?[0-9]+$"),
            F.expr("try_cast(tok AS BIGINT)"),
        ),
    )


@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.50) AS p50,
       quantile_cont(l_extendedprice, 0.95) AS p95,
       median(l_extendedprice) AS med
FROM lineitem GROUP BY l_returnflag
""",
    tags=("C4", "percentile"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + median per group. Spark's
    `percentile` and DuckDB's `quantile_cont` share the same
    linear-interpolation definition and match bit-for-bit (verified,
    no rounding needed). At 100 TB prefer `approx_percentile`
    (t-digest-style sketch, no global sort of the group); the exact
    form is the correctness baseline.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
        F.percentile("l_extendedprice", F.lit(0.50)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
        F.median("l_extendedprice").alias("med"),
    )


@register(
    "posexplode_tokens",
    oracle="""
WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents
           WHERE doc_id < 50)
SELECT doc_id,
       CAST(generate_subscripts(toks, 1) AS BIGINT) - 1 AS pos,
       unnest(toks) AS tok
FROM t
""",
    tags=("C8", "lateral"),
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: lateral view with element position (0-based; the
    oracle's generate_subscripts is 1-based, shifted to match)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ", -1)).alias("pos", "tok"),
    ).withColumn("pos", F.col("pos").cast("long"))


@register(
    "not_in_subquery",
    oracle="""
SELECT p_partkey, p_brand
FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                        WHERE l_quantity >= 49)
""",
    tags=("C3", "null-aware-anti"),
)
def not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN subquery — planned as a null-aware anti join, a distinct
    physical operator from plain LEFT ANTI (NOT EXISTS): one NULL in
    the subquery result would empty the output under SQL three-valued
    logic. Expressed via spark.sql to exercise that exact path."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_brand
        FROM v_part
        WHERE p_partkey NOT IN (SELECT l_partkey FROM v_lineitem
                                WHERE l_quantity >= 49)
        """
    )


@register(
    "unpivot_metrics",
    oracle="""
SELECT l_orderkey, l_linenumber, metric, round(value, 2) AS value
FROM (
  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                  l_discount
           FROM lineitem WHERE l_orderkey < 100)
  ON l_quantity, l_extendedprice, l_discount
  INTO NAME metric VALUE value
)
""",
    tags=("C7", "unpivot"),
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt: wide measure columns → (metric, value) rows —
    the inverse of pivot_status. Names follow the source columns on
    both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 100
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "value",
    ).withColumn("value", F.round("value", 2))


@register(
    "multi_format_scan",
    oracle="""
SELECT r_name, count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    tags=("C1", "csv", "json"),
)
def multi_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 source coverage inside the oracle-checked surface: region is
    staged to CSV and nation to JSON (driver-side staging, like the
    streaming fixtures), then read back through the csv/json readers
    with explicit schemas and joined — the result must equal the
    parquet-only oracle.  Explicit schemas matter at scale: schema
    inference is a full extra pass over 100 TB."""
    import os

    stage = keyed_dir(
        "formats",
        table_path(sf_dir, "region"),
        table_path(sf_dir, "nation"),
    )
    region_csv = f"{stage}/region_csv"
    nation_json = f"{stage}/nation_json"
    if not os.path.exists(f"{stage}/_DONE"):
        load_table(spark, sf_dir, "region").write.mode("overwrite").option(
            "header", True
        ).csv(region_csv)
        load_table(spark, sf_dir, "nation").write.mode("overwrite").json(
            nation_json
        )
        open(f"{stage}/_DONE", "w").close()
    region = (
        spark.read.option("header", True)
        .schema("r_regionkey INT, r_name STRING")
        .csv(region_csv)
    )
    nation = spark.read.schema(
        "n_nationkey INT, n_name STRING, n_regionkey INT"
    ).json(nation_json)
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "argmax_order",
    oracle="""
SELECT o_custkey,
       arg_max(o_orderkey, o_totalprice) AS best_order,
       max(o_totalprice) AS best_price,
       arg_min(o_orderkey, o_totalprice) AS worst_order,
       min(o_totalprice) AS worst_price
FROM orders GROUP BY o_custkey
""",
    tags=("C4", "argmax"),
)
def argmax_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregates (max_by/min_by): each customer's
    highest- and lowest-value order in one grouped pass — no window,
    no self-join, one shuffle on the group key.  Deterministic here
    because (o_custkey, o_totalprice) has no ties at any SF (verified
    for all three fixtures); with ties, max_by needs a composite
    ordering struct for a stable answer."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.expr("max_by(o_orderkey, o_totalprice)").alias("best_order"),
        F.max("o_totalprice").alias("best_price"),
        F.expr("min_by(o_orderkey, o_totalprice)").alias("worst_order"),
        F.min("o_totalprice").alias("worst_price"),
    )


@register(
    "price_histogram",
    oracle="""
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
       count(*) AS cnt,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS lo,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS hi
FROM orders
GROUP BY bin
""",
    tags=("C4", "histogram"),
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram by floor-division binning — one grouped
    pass, bin count independent of data size (the distribution-sketch
    shape dashboards aggregate further)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "bin", F.floor(F.col("o_totalprice") / 50000.0).cast("long")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("o_totalprice"), 2).cast("double").alias("lo"),
            F.round(F.max("o_totalprice"), 2).cast("double").alias("hi"),
        )
    )


@register(
    "winsorize_prices",
    oracle="""
WITH q AS (
  SELECT quantile_cont(o_totalprice, 0.01) AS p01,
         quantile_cont(o_totalprice, 0.99) AS p99
  FROM orders
)
SELECT o_orderstatus,
       count(*) AS n,
       CAST(round(SUM(CAST(
         CASE WHEN o_totalprice < p01 THEN p01
              WHEN o_totalprice > p99 THEN p99
              ELSE o_totalprice END AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS clipped_sum
FROM orders, q
GROUP BY o_orderstatus
""",
    tags=("C4", "robust-stats"),
)
def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clipping at p01/p99) — the robust-stats
    preprocessing shape: exact interpolated percentiles as a 1-row
    broadcast scalar, then a clipped decimal-exact aggregate.  Spark's
    `percentile` matches DuckDB's `quantile_cont` interpolation
    bit-for-bit (proven by `agg_percentiles`)."""
    orders = load_table(spark, sf_dir, "orders")
    q = orders.agg(
        F.expr("percentile(o_totalprice, 0.01)").alias("p01"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )
    clipped = (
        F.when(F.col("o_totalprice") < F.col("p01"), F.col("p01"))
        .when(F.col("o_totalprice") > F.col("p99"), F.col("p99"))
        .otherwise(F.col("o_totalprice"))
    )
    return (
        orders.crossJoin(F.broadcast(q))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(clipped.cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("clipped_sum"),
        )
    )


@register(
    "set_except_all",
    oracle="""
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
EXCEPT ALL
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
""",
    tags=("C7", "multiset"),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference): each orderkey survives as many
    times as its 'A' count exceeds its 'R' count — the multiset twin
    of `set_except`, planned as one counted anti-semantics shuffle,
    not a distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return a.exceptAll(r)


@register(
    "set_intersect_all",
    oracle="""
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
INTERSECT ALL
SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
""",
    tags=("C7", "multiset"),
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag intersection): min of the two per-key
    multiplicities — `set_intersect`'s multiset twin."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return a.intersectAll(r)


@register(
    "mad_robust_spread",
    oracle="""
WITH med AS (
  SELECT quantile_cont(o_totalprice, 0.5) AS m FROM orders
)
SELECT round(CAST((SELECT m FROM med) AS DOUBLE), 6) AS median_price,
       round(quantile_cont(abs(o_totalprice - (SELECT m FROM med)), 0.5),
             6) AS mad
FROM orders
""",
    tags=("C4", "robust-stats"),
)
def mad_robust_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation — the outlier-robust spread measure:
    two exact-percentile passes (median, then median of absolute
    deviations), the second over a broadcast 1-row scalar.  Unlike
    stddev it is insensitive to the heavy tail that order totals
    have."""
    orders = load_table(spark, sf_dir, "orders")
    med = orders.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("m")
    )
    return (
        orders.crossJoin(F.broadcast(med))
        .agg(
            F.round(F.first("m"), 6).alias("median_price"),
            F.round(
                F.expr("percentile(abs(o_totalprice - m), 0.5)"), 6
            ).alias("mad"),
        )
    )


@register(
    "rollup_grouping_id",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       count(*) AS cnt
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
    tags=("C4", "rollup", "grouping"),
)
def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() flags — the markers that distinguish a
    subtotal row's NULL from a genuine NULL group value (essential
    once rollups run over nullable dimensions)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "profile_columns",
    oracle="""
WITH a AS (
  SELECT count(*) AS n_rows,
         count(o_orderkey) AS nn_orderkey,
         count(DISTINCT o_orderkey) AS nd_orderkey,
         count(o_custkey) AS nn_custkey,
         count(DISTINCT o_custkey) AS nd_custkey,
         count(o_orderstatus) AS nn_orderstatus,
         count(DISTINCT o_orderstatus) AS nd_orderstatus,
         count(o_totalprice) AS nn_totalprice,
         count(DISTINCT o_totalprice) AS nd_totalprice,
         count(o_orderpriority) AS nn_orderpriority,
         count(DISTINCT o_orderpriority) AS nd_orderpriority
  FROM orders
)
SELECT col, n_rows, n_rows - nn AS n_nulls, nd AS n_distinct,
       round(CAST(nd AS DOUBLE) / n_rows, 6) AS distinct_ratio
FROM a, (VALUES ('o_orderkey'), ('o_custkey'), ('o_orderstatus'),
                ('o_totalprice'), ('o_orderpriority')) v(col),
LATERAL (SELECT CASE col
                  WHEN 'o_orderkey' THEN nn_orderkey
                  WHEN 'o_custkey' THEN nn_custkey
                  WHEN 'o_orderstatus' THEN nn_orderstatus
                  WHEN 'o_totalprice' THEN nn_totalprice
                  ELSE nn_orderpriority END AS nn,
                CASE col
                  WHEN 'o_orderkey' THEN nd_orderkey
                  WHEN 'o_custkey' THEN nd_custkey
                  WHEN 'o_orderstatus' THEN nd_orderstatus
                  WHEN 'o_totalprice' THEN nd_totalprice
                  ELSE nd_orderpriority END AS nd) x
""",
    tags=("C4", "profiling"),
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling (the ANALYZE-TABLE shape): per-column null count,
    exact distinct count, and distinct ratio for five orders columns,
    computed in ONE scan with a multi-aggregate then unpivoted to long
    form — the data-quality pass a pipeline runs before trusting a new
    100 TB drop.

    At scale: one pass, one aggregation; the exact multi-distinct uses
    Spark's expand strategy (rows × #distinct-aggs before partial
    agg) — swap `countDistinct` for `approx_count_distinct` when ±2%
    is acceptable and the expand disappears; the query shape (and this
    long-form output) stays identical.
    """
    o = load_table(spark, sf_dir, "orders")
    cols = (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    a = o.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"nn_{c}").alias("nn"),
                F.col(f"nd_{c}").alias("nd"),
            )
            for c in cols
        ]
    )
    e = a.select("n_rows", F.explode(per_col).alias("x"))
    return e.select(
        F.col("x.col").alias("col"),
        "n_rows",
        (F.col("n_rows") - F.col("x.nn")).alias("n_nulls"),
        F.col("x.nd").alias("n_distinct"),
        F.round(F.col("x.nd").cast("double") / F.col("n_rows"), 6).alias(
            "distinct_ratio"
        ),
    )


@register(
    "linreg_by_group",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                  * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                  * CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(round(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
            AS DECIMAL(28,10)), 6) AS DOUBLE) AS slope,
       CAST(round(CAST((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
            / n AS DECIMAL(28,10)), 6) AS DOUBLE) AS intercept
FROM s
""",
    tags=("C4", "statistics", "regression"),
)
def linreg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (price ~ quantity per return
    flag) from SUFFICIENT STATISTICS: one grouped pass accumulates
    n/Σx/Σy/Σx²/Σxy in exact DECIMAL (order-insensitive), then slope
    and intercept are closed-form per group — the distributed
    regression shape (built-in regr_slope sums doubles in partition
    order and is not reproducible across partitionings; this is, and
    the oracle proves it to 6 decimals).

    At 100 TB: one scan, one partial-agg groupBy — model fitting cost
    equals an agg query; the same sufficient-statistics trick carries
    covariance/correlation matrices and Welford-free variance.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dx = F.col("l_quantity").cast("decimal(18,4)")
    dy = F.col("l_extendedprice").cast("decimal(18,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dx * dy).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)

    def r6(c):  # noqa: ANN001, ANN202
        return F.round(c.cast("decimal(28,10)"), 6).cast("double")

    return s.select(
        "l_returnflag",
        "n",
        r6(slope).alias("slope"),
        r6((sy - slope * sx) / n).alias("intercept"),
    )


@register(
    "orc_partitioned_scan",
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS revenue
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    tags=("C1", "orc", "partitioned"),
)
def orc_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 sink+source coverage for the ORC columnar format: orders is
    staged as ORC *partitioned by o_orderstatus* (hive-style layout),
    read back, and aggregated with a partition filter — the result
    must equal the parquet-only oracle.  The 'F' predicate must be
    answered by partition PRUNING (only the o_orderstatus=F directory
    is listed, enforced by tests/test_plans.py), which is the layout
    decision that matters most at 100 TB: a status-partitioned sink
    turns a full scan into a 1-of-3 directory read.  Same staging/
    cache-key discipline as multi_format_scan."""
    import os

    stage = f"{keyed_dir('orc', table_path(sf_dir, 'orders'))}/orders_orc"
    if not os.path.exists(f"{stage}/_SUCCESS"):
        load_table(spark, sf_dir, "orders").write.mode(
            "overwrite"
        ).partitionBy("o_orderstatus").orc(stage)
    orders = spark.read.orc(stage)
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


@register(
    "agg_skew_twophase",
    oracle="""
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY l_returnflag
""",
    tags=("C4", "skew", "two-phase"),
)
def agg_skew_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT two-phase (salted) aggregation for pathologically hot
    group keys: phase 1 aggregates on (key, salt) — spreading each
    hot key over 16 reducers — phase 2 re-aggregates on the key.
    Result must equal the plain GROUP BY (the oracle).

    l_returnflag has ~3 values, so EVERY key is a hot key: the plain
    plan funnels the whole fact table's partial aggregates into 3
    reducers, while this plan bounds any reducer's input to
    rows/16-per-key.  Spark's partial aggregation usually hides this
    — until high-cardinality-but-skewed keys blow the partial-agg
    hash map and rows stream through unaggregated; the salt is the
    insurance that keeps the shuffle balanced regardless.  Decimal
    sums keep the re-aggregation exact (associative), which is what
    makes the two-phase rewrite legal for sums/counts (NOT for
    count-distinct — that needs the first-occurrence encoding of
    window_distinct_running).
    """
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", (F.crc32(F.col("l_orderkey").cast("string")) % 16)
    )
    phase1 = salted.groupBy("l_returnflag", "_salt").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("s"),
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("c").alias("n_rows"),
        F.round(F.sum("s"), 2).cast("double").alias("sum_qty"),
    )


_CORR_COLS = (
    ("l_quantity", "q"),
    ("l_extendedprice", "e"),
    ("l_discount", "d"),
    ("l_tax", "t"),
)
_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)


def _corr_oracle() -> str:
    sums = ",\n         ".join(
        f"CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE) AS s_{a},\n"
        # first factor widened to DECIMAL(22,4): DuckDB multiplies in
        # the wider operand's physical type and price*price overflows
        # an 18-digit intermediate; the product is exact either way,
        # so the value still matches Spark's (18,4)x(18,4) decimal.
        f"         CAST(SUM(CAST({c} AS DECIMAL(22,4))"
        f" * CAST({c} AS DECIMAL(18,4))) AS DOUBLE) AS s_{a}{a}"
        for c, a in _CORR_COLS
    )
    xsums = ",\n         ".join(
        f"CAST(SUM(CAST({ca} AS DECIMAL(22,4))"
        f" * CAST({cb} AS DECIMAL(18,4))) AS DOUBLE) AS s_{aa}{ab}"
        for (ca, aa), (cb, ab) in _CORR_PAIRS
    )
    branches = "\n  UNION ALL ".join(
        f"SELECT '{ca}' AS col_a, '{cb}' AS col_b, n,\n"
        f"    CAST(round(CAST((n * s_{aa}{ab} - s_{aa} * s_{ab})"
        f" / sqrt((n * s_{aa}{aa} - s_{aa} * s_{aa})"
        f" * (n * s_{ab}{ab} - s_{ab} * s_{ab}))"
        f" AS DECIMAL(28,10)), 6) AS DOUBLE) AS corr FROM s"
        for (ca, aa), (cb, ab) in _CORR_PAIRS
    )
    return (
        f"WITH s AS (\n  SELECT count(*) AS n,\n         {sums},"
        f"\n         {xsums}\n  FROM lineitem\n)\n{branches}"
    )


@register(
    "corr_matrix",
    oracle=_corr_oracle(),
    tags=("C4", "statistics", "profiling"),
)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    (quantity, extendedprice, discount, tax) — all 6 pairs from ONE
    scan of exact-DECIMAL sufficient statistics (n, Σx, Σx², Σxy),
    then the closed form r = (nΣxy−ΣxΣy)/√((nΣx²−Σx²)(nΣy²−Σy²)) per
    pair.  The multivariate extension of linreg_by_group, and the
    data-profiling step feature selection runs before training.

    Built-in corr() sums doubles in partition order and is not
    reproducible across partitionings; decimal sums are exact and
    order-insensitive, so the oracle matches to 6 decimals.

    At 100 TB: one partial+final aggregate — d columns need
    d(d+3)/2 + 1 accumulators, never a second scan; the stack() that
    fans the one-row aggregate into pair rows is driver-trivial."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = {a: F.col(c).cast("decimal(18,4)") for c, a in _CORR_COLS}
    aggs = [F.count(F.lit(1)).alias("n")]
    for _, a in _CORR_COLS:
        aggs.append(F.sum(dec[a]).cast("double").alias(f"s_{a}"))
        aggs.append(
            F.sum(dec[a] * dec[a]).cast("double").alias(f"s_{a}{a}")
        )
    for (_, aa), (_, ab) in _CORR_PAIRS:
        aggs.append(
            F.sum(dec[aa] * dec[ab]).cast("double").alias(f"s_{aa}{ab}")
        )
    s = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{ca}', '{cb}',"
        f" CAST(round(CAST((n * s_{aa}{ab} - s_{aa} * s_{ab})"
        f" / sqrt((n * s_{aa}{aa} - s_{aa} * s_{aa})"
        f" * (n * s_{ab}{ab} - s_{ab} * s_{ab}))"
        f" AS DECIMAL(28,10)), 6) AS DOUBLE)"
        for (ca, aa), (cb, ab) in _CORR_PAIRS
    )
    rows = s.selectExpr(
        f"stack({len(_CORR_PAIRS)}, {stack_args})"
        " AS (col_a, col_b, corr)",
        "n",
    )
    return rows.select("col_a", "col_b", "n", "corr")


@register(
    "grouped_mode_stat",
    oracle="""
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
),
r AS (
  SELECT o_orderstatus, o_orderpriority, n,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY n DESC, o_orderpriority) AS rn
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
FROM r WHERE rn = 1
""",
    tags=("agg", "statistics"),
)
def grouped_mode_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with a DETERMINISTIC
    tiebreak — count desc, then smallest value — via count + ranked
    window, never the engine's native mode() (whose tie choice is
    engine-defined and would never cross-check).  Scale shape: the
    groupBy pre-aggregates to |groups x distinct values| rows before
    the window, so the rank runs on group cardinality, not corpus
    rows."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), "o_orderpriority"
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


@register(
    "hist2d_price_qty",
    oracle="""
SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bin,
       CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bin,
       count(*) AS n,
       CAST(round(SUM(CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE)
         AS sum_discount
FROM lineitem
GROUP BY 1, 2
""",
    tags=("agg", "histogram"),
)
def hist2d_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (price x quantity bins) with a measure per cell —
    the heatmap backing table every profiling UI wants.  One scan,
    one partial-aggregated groupBy on integer bin ids via
    floor(x / width) — floor of an exact double quotient is identical
    in both engines; the discount
    measure sums through fixed-scale DECIMAL (order-insensitive)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / 10000)
        .cast("long")
        .alias("price_bin"),
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_bin"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_discount", scale=4, out=4).alias("sum_discount"),
    )


@register(
    "approx_percentile_audit",
    oracle="""
WITH n AS (
  SELECT l_returnflag, count(*) AS n_rows
  FROM lineitem GROUP BY l_returnflag
),
vals AS (
  SELECT l_returnflag, l_extendedprice, count(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
),
cum AS (
  SELECT l_returnflag, l_extendedprice,
         sum(cnt) OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice) AS cum
  FROM vals
),
targets AS (
  SELECT n.l_returnflag, n.n_rows, g.p_label, g.p_num,
         (g.p_num * n.n_rows + 99) // 100 AS r
  FROM n CROSS JOIN (
    SELECT * FROM (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
      AS t(p_label, p_num)
  ) g
),
exact AS (
  SELECT t.l_returnflag, t.p_label, t.n_rows,
         min(c.l_extendedprice) AS exact_price
  FROM targets t JOIN cum c
    ON c.l_returnflag = t.l_returnflag AND c.cum >= t.r
  GROUP BY t.l_returnflag, t.p_label, t.n_rows
)
SELECT l_returnflag, p_label, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(exact_price AS DOUBLE) AS exact_price,
       TRUE AS within_one_pct
FROM exact
""",
    tags=("C4", "percentile", "sketch-audit"),
)
def approx_percentile_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audit of Spark's `approx_percentile` sketch against the exact
    discrete percentile — the measure-don't-guess gate
    (ann_recall_report / freq_count_min_estimate's pattern) for the
    quantile sketch `agg_percentiles`' docstring prescribes at
    100 TB: a green row proves the sketch's p50/p90/p99 land within
    1% of the engine-neutral exact answer, so the scale path is
    certified, not assumed.

    The exact side is deliberately NOT a per-group sort: prices
    aggregate to distinct (group, value) counts, a value-ordered
    cumulative window runs over that value-cardinality-bounded
    table (the quantile_normalize_sources idiom), and the discrete
    percentile is the least value whose cumulative count reaches
    rank ceil(p*n) — computed as (p_num*n + 99) div 100 in pure
    integers, so both engines pick bit-identical target ranks and
    values.  The audit flag compares decimals exactly
    (|approx - exact| * 100 <= exact); only the display cast is
    double.

    At 100 TB: the sketch side is one mergeable partial aggregate
    (no sort anywhere); the exact side's window is bounded by
    distinct price cardinality, not row count; the audit join is 9
    rows."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    vals = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = vals.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("cnt")
        .over(
            Window.partitionBy("l_returnflag").orderBy(
                "l_extendedprice"
            )
        )
        .alias("cum"),
    )
    grid = spark.createDataFrame(
        [("p50", 50), ("p90", 90), ("p99", 99)], "p_label string, p_num long"
    )
    targets = n.crossJoin(F.broadcast(grid)).select(
        "l_returnflag",
        "n_rows",
        "p_label",
        F.expr("(p_num * n_rows + 99) div 100").alias("r"),
    )
    exact = (
        targets.join(cum, "l_returnflag")
        .filter(F.col("cum") >= F.col("r"))
        .groupBy("l_returnflag", "p_label", "n_rows")
        .agg(F.min("l_extendedprice").alias("exact_price"))
    )
    appx = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice",
                F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                F.lit(10000),
            ).alias("ap")
        )
        .select(
            "l_returnflag",
            F.posexplode("ap").alias("pos", "approx_price"),
        )
        .select(
            "l_returnflag",
            F.element_at(
                F.array(F.lit("p50"), F.lit("p90"), F.lit("p99")),
                F.col("pos") + 1,
            ).alias("p_label"),
            "approx_price",
        )
    )
    return exact.join(appx, ["l_returnflag", "p_label"]).select(
        "l_returnflag",
        "p_label",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("exact_price").cast("double").alias("exact_price"),
        (
            F.abs(F.col("approx_price") - F.col("exact_price"))
            * 100
            <= F.col("exact_price")
        ).alias("within_one_pct"),
    )
