"""Relational corpus (SURVEY §2.7-2.10 + scalar library §2.4 note).

The reference has no SQL surface; this is the engine surface the
driver's star-schema correctness suite grades: the join family, hash
aggregates (distinct/cube/rollup/pivot), the window family, sort/limit,
set ops, string/date/JSON scalar functions, and sessionization.
Each query aliases every computed column identically to its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import money_sum, money_sum_sql
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table


# ------------------------------------------------------------- TPC-H Q1
@register(
    "q1_pricing_summary",
    survey_ref="A1,A4,P3",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       {money_sum_sql("l_extendedprice", "(1 - l_discount)")} AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: the canonical groupBy + multi-aggregate scan — one
    shuffle after map-side partial aggregation; output cardinality is
    the tiny flag×status cross product at any input scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1999-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            money_sum(F.col("l_extendedprice"), 1 - F.col("l_discount")).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------------------- TPC-H Q3
@register(
    "q3_shipping_priority",
    survey_ref="§2.7,§2.9",
    oracle=f"""
SELECT o_orderkey,
       {money_sum_sql("l_extendedprice", "(1 - l_discount)")} AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter → join fact → agg → top-k.
    customer/orders are unhinted — auto-broadcast while small,
    shuffle-joined at scale; Spark plans TakeOrderedAndProject for
    the order-by-limit."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    )
    # hand-ordered: customer⋈orders pre-joins at ORDER grain (custkey
    # shuffles move the 1/4-scale relations), then the fact joins once
    # on l_orderkey — not li⋈o followed by a second fact re-shuffle
    bo = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "o_orderdate")
    return (
        li.join(bo, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"))
        .agg(money_sum(F.col("l_extendedprice"), 1 - F.col("l_discount")).alias("revenue"))
        .select("o_orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# ------------------------------------------------------------- TPC-H Q5
@register(
    "q5_local_supplier_volume",
    survey_ref="§2.7",
    oracle="""
SELECT n_name,
       SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
         / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN customer ON o_custkey = c_custkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join of the fact against 5 dims.  Fixed-
    size nation/region carry broadcast hints; SF-growing
    orders/supplier/customer are unhinted — auto-broadcast while
    small, shuffle-joined at scale (the r6 30× probe caught forced
    broadcasts of multi-million-row build sides going super-linear).

    Revenue is EXACT-CENTS: per row one IEEE multiply (deterministic,
    identical in both engines) rounded to integer cents, summed as
    BIGINT, divided by 100.0 once at the end. The 10x sweep caught the
    float form diverging by 1.32 in the 2nd decimal at a 1.2e12 sum —
    a 4M-add ULP random walk (~0.24 expected) crossing the ROUND(,2)
    boundary; summation-order association, invisible at sf0.1
    (SCALE.md round-5 record)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    c = load_table(spark, sf_dir, "customer")
    # hand-ordered joins (no CBO locally): orders⋈customer pre-joins at
    # ORDER grain so the fact shuffles once on l_orderkey instead of
    # re-shuffling on o_custkey after the orders join
    ordc = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey")
    sn = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "n_name")
    )
    return (
        li.join(ordc, li.l_orderkey == F.col("o_orderkey"))
        .join(sn, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("bigint")
                )
                / 100.0
            ).alias("revenue")
        )
    )


# ------------------------------------------------------------- TPC-H Q6
@register(
    "q6_forecast_revenue",
    survey_ref="P3,A4",
    oracle=f"""
SELECT {money_sum_sql("l_extendedprice", "l_discount")} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate; every predicate reaches the
    parquet reader (PushedFilters), zero shuffles beyond the final
    single-row combine."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1998-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1999-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice"), F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ----------------------------------------------------------- join family
@register(
    "join_left_outer",
    survey_ref="§2.7",
    oracle="""
SELECT c_custkey,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
       ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "join_semi",
    survey_ref="§2.7",
    oracle="""
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join = EXISTS."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@register(
    "join_anti",
    survey_ref="§2.7,X1",
    oracle="""
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join = NOT EXISTS (also the exact-split fallback's
    leftover-assignment primitive)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "join_theta",
    survey_ref="§2.7",
    oracle="""
SELECT s_suppkey,
       CAST(COUNT(c_custkey) AS BIGINT) AS n_poorer_same_nation
FROM supplier LEFT JOIN customer
  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
GROUP BY s_suppkey
""",
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi key + inequality residual — Spark plans the
    equi part as a hash join with the range as a join filter."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal), "left")
        .groupBy("s_suppkey")
        .agg(F.count("c_custkey").alias("n_poorer_same_nation"))
    )


@register(
    "scalar_subquery",
    survey_ref="§2.7",
    oracle="""
SELECT c_custkey, ROUND(c_acctbal, 2) AS bal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
""",
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-aggregate subquery = broadcast cross-join of a 1-row
    relation (exactly how the fitted-scaler state flows, SURVEY §2.7)."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", F.round(F.col("c_acctbal"), 2).alias("bal"))
    )


# --------------------------------------------------------------- windows
@register(
    "window_topk_per_group",
    survey_ref="§2.8,§2.9,A8",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) t WHERE rn <= 3
""",
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (argmin/argmax family, A8) via ranking window."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_total",
    survey_ref="§2.8,A6",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
""",
)
def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum over an ordered frame — the same window shape the
    survival curve (A6) compiles to. ROUND(double,2) is safe HERE,
    unlike the group-aggregate money sums: the frame is per-customer
    in a deterministic total order, so the running magnitude tops out
    at one customer's lifetime spend (~5e6 even at 100x, ULP ~1e-9 —
    six orders of magnitude under the half-cent boundary)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_total")
    )


@register(
    "window_lag_lead",
    survey_ref="§2.8",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day', CAST(LAG(o_orderdate) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE),
            CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
       LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_orderkey
FROM orders
""",
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lag(F.col("o_orderdate").cast("date")).over(w))
        .cast("int")
        .alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@register(
    "window_ntile",
    survey_ref="§2.8",
    oracle="""
SELECT quartile, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(c_acctbal), 4) AS avg_bal,
       ROUND(MIN(c_acctbal), 2) AS min_bal,
       ROUND(MAX(c_acctbal), 2) AS max_bal
FROM (
  SELECT c_acctbal, CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
  FROM customer
) t GROUP BY quartile
""",
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) without the global sort: a bare ``ntile() OVER (ORDER
    BY …)`` plans Exchange SinglePartition — every customer row sorts
    through ONE task.  Scale-safe decomposition (same shape as
    ``global_row_index``): rows bucket by balance range (floor is
    monotonic, so bucket order = value order), a per-bucket count
    aggregate (~110 rows) takes a tiny prefix-sum window, offsets
    broadcast back, and the global rank is offset + a row_number
    PARTITIONED by bucket.  NTILE is then pure rank arithmetic — with
    n rows and t=4 tiles, the first n%4 tiles hold ⌈n/4⌉ rows and the
    rest ⌊n/4⌋ — reproducing SQL NTILE semantics exactly (the oracle
    keeps the naive window form to prove it)."""
    c = load_table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    b = c.withColumn("bucket", F.floor(F.col("c_acctbal") / 100).cast("bigint"))
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("bn").over(wb), F.lit(0)).alias("offset"),
        F.sum("bn").over(Window.partitionBy()).alias("n_total"),
    )
    wi = Window.partitionBy("bucket").orderBy("c_acctbal", "c_custkey")
    ranked = b.join(F.broadcast(offsets), "bucket").select(
        "c_acctbal",
        (F.col("offset") + F.row_number().over(wi)).alias("rn"),
        "n_total",
    )
    q = F.expr("n_total DIV 4")
    r = F.col("n_total") % 4
    cut = r * (q + 1)
    # GREATEST(…, 1): with n_total < 4 the else-branch is unreachable
    # (cut = n_total), but without the guard its DIV-by-zero would yield
    # silent NULL quartiles on tiny fixtures under non-ANSI SQL
    quartile = F.when(
        F.col("rn") <= cut, F.expr("(rn + n_total DIV 4) DIV (n_total DIV 4 + 1)")
    ).otherwise(
        r
        + F.expr(
            "(rn - (n_total % 4) * (n_total DIV 4 + 1) + n_total DIV 4 - 1)"
            " DIV GREATEST(n_total DIV 4, 1)"
        )
    )
    return (
        ranked.select("c_acctbal", quartile.cast("int").alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


# --------------------------------------------- distinct / cube / rollup
@register(
    "agg_distinct",
    survey_ref="§2.6 note",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS dist_supp,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS dist_part,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("dist_supp"),
        F.countDistinct("l_partkey").alias("dist_part"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube",
    survey_ref="§2.6 note",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_rollup",
    survey_ref="§2.6 note",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with grand-total rows — the widest-magnitude aggregate in
    the corpus (the () cell sums the WHOLE fact table). Money in
    INTEGER CENTS: the 100x tier showed the rolled-up double sum
    (~5.3e11, ULP ~1e-4) drifting one cent between engines' summation
    orders — corpus float contract, not ROUND(double,2)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("sum_price_cents"),
    )


@register(
    "pivot_linestatus",
    survey_ref="§2.6 note",
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_O,
       ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_F
FROM lineitem GROUP BY l_returnflag
""",
)
def q_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return piv.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


# ---------------------------------------------------------------- set ops
@register(
    "set_intersect",
    survey_ref="§2.10",
    oracle="""
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT DISTINCT o_custkey AS c_custkey FROM orders
""",
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    have_orders = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    return rich.intersect(have_orders)


@register(
    "set_except",
    survey_ref="§2.10",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
""",
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.select("c_custkey").subtract(
        o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey"))
    )


@register(
    "set_union_distinct",
    survey_ref="§2.10,T4",
    oracle="""
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
""",
)
def q_set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 250000).select(F.col("o_custkey").alias("custkey"))
    return a.union(b).distinct()


# ------------------------------------------------------------ sort/limit
@register(
    "sort_limit",
    survey_ref="§2.9",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
""",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy + limit — Spark plans TakeOrderedAndProject (no global
    sort materialization)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(20)
    )


# -------------------------------------------------------- scalar library
@register(
    "string_functions",
    survey_ref="§2.4 note",
    oracle="""
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       SUBSTRING(p_name, 1, 5) AS name_pfx,
       CAST(LENGTH(p_name) AS INTEGER) AS name_len,
       CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num,
       REPLACE(p_type, ' ', '_') AS type_u,
       CONCAT(p_brand, ':', p_type) AS brand_type
FROM part
""",
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_pfx"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).cast("int").alias("brand_num"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_u"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
    )


@register(
    "date_functions",
    survey_ref="§2.4 note",
    oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
       CAST(MONTH(o_orderdate) AS INTEGER) AS mo,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY 1, 2, 3
""",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing; the money aggregate sums INTEGER CENTS
    (corpus float contract — per-month groups reach ~3e10 at the 100x
    tier, the same whole-table-double-sum ULP class the rollup hit)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )


@register(
    "json_functions",
    survey_ref="§2.4 note",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
)
def q_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction over events.props (the driver's JSON
    column fixture)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "conditional_agg",
    survey_ref="P5,A4",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                 THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS open_value_cents
FROM orders GROUP BY o_orderpriority
""",
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional counts + a conditional money sum. The money branch
    sums INTEGER CENTS: 5 priority groups over the whole orders table
    reach ~2e11 each at the 100x tier (double ULP ~3e-5) — the
    ROUND(SUM(double),2) form is a per-magnitude gamble there (corpus
    float contract, same class as agg_rollup)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "O", cents).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("open_value_cents"),
    )


# ---------------------------------------------------------- sessionize
@register(
    "sessionize_events",
    survey_ref="§2.8,§2.11",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM seq
),
sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, session_id
""",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): lag + cumulative
    flag sum — the batch twin of streaming session_window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0).alias("new_sess"),
    )
    sess = flagged.select("user_id", F.sum("new_sess").over(wc).alias("session_id"))
    return sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("n_events"))
