"""Extended relational surface (SURVEY §2.6–2.10 engine built-ins):
additional TPC-H-pattern queries, GROUPING SETS, and the as-of join —
an operator Spark lacks natively, re-expressed as a window composition
(SURVEY §7: "custom operators as compositions of existing DataFrame
ops"), oracle-checked against DuckDB's native ASOF JOIN."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import money_sum, money_sum_sql
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table


@register(
    "q4_order_priority",
    survey_ref="§2.7,§2.6",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
)
def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 pattern: EXISTS as a correlated semi-join with a
    non-equi residual (late-shipped lines)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = o.join(
        li,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "q10_returned_items",
    survey_ref="§2.7,§2.9",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {money_sum_sql("l.l_extendedprice", "(1 - l.l_discount)")} AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 pattern: revenue lost to returned items, top 20
    customers. Star join: lineitem drives, dims broadcast; revenue is
    summed in exact units (``common.money_sum``)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(money_sum(F.col("l_extendedprice"), 1 - F.col("l_discount")).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    survey_ref="§2.7,P5",
    oracle="""
SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= DATE '1997-01-01' AND l.l_shipdate < DATE '1997-04-01'
""",
)
def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 pattern: conditional-aggregate ratio over a broadcast
    dim join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"))
    )


@register(
    "q18_large_volume",
    survey_ref="§2.6,§2.7",
    oracle="""
WITH big AS (
  SELECT l_orderkey, SUM(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 55
)
SELECT c.c_custkey, b.l_orderkey AS o_orderkey,
       ROUND(b.total_qty, 2) AS total_qty, ROUND(o.o_totalprice, 2) AS o_totalprice
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def q_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 pattern: HAVING-filtered aggregate driving a join —
    the aggregate shrinks the stream before any join shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 55)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            F.col("l_orderkey").alias("o_orderkey"),
            F.round("total_qty", 2).alias("total_qty"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


@register(
    "grouping_sets",
    survey_ref="§2.6",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL surface (the SQL front-end and the
    DataFrame API share the same Catalyst plans)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
        """
    )


@register(
    "set_intersect_all",
    survey_ref="§2.10",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT ALL
SELECT s_nationkey FROM supplier
""",
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL (min of per-side multiplicities) —
    the bag-semantics cousin of set_intersect."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@register(
    "set_except_all",
    survey_ref="§2.10",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT ALL
SELECT s_nationkey FROM supplier
""",
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL (multiplicity subtraction)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@register(
    "exact_percentiles",
    survey_ref="§2.6",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75
FROM lineitem GROUP BY l_returnflag
""",
)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (ordered-set aggregate). At
    100 TB swap percentile() for percentile_approx(col, p, accuracy) —
    a mergeable sketch whose shuffle is O(accuracy) per group; the
    exact form here gives the oracle a deterministic target."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75"),
    )


@register(
    "resample_ffill",
    survey_ref="§2.8,§2.11",
    oracle="""
WITH hourly AS (
  SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h, AVG(value) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY user_id
),
grid AS (
  SELECT b.user_id, g.h
  FROM bounds b, UNNEST(generate_series(b.lo, b.hi, INTERVAL '1 hour')) AS g(h)
),
joined AS (
  SELECT g.user_id, g.h, hr.v
  FROM grid g LEFT JOIN hourly hr ON hr.user_id = g.user_id AND hr.h = g.h
)
SELECT user_id, h AS hour_ts,
       ROUND(last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value_ffill
FROM joined
""",
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a regular hourly grid + forward fill:
    per-user dense hour range via sequence/explode, left join the
    sparse hourly aggregate, gap-fill with last(ignorenulls). The
    hypertable-rollup shape: one aggregate + one per-key window, grid
    rows generated not stored."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.avg("value").alias("v"))
    )
    bounds = hourly.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.col("h").alias("hour_ts"),
        F.round(F.last("v", ignorenulls=True).over(w), 4).alias("value_ffill"),
    )


@register(
    "asof_last_click",
    survey_ref="§2.7,§2.8",
    oracle="""
SELECT p.event_id, c.ts AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — for each purchase, the same user's most recent
    click at-or-before it. Spark lacks a native ASOF; the scalable
    composition is a single per-user window pass over the merged
    stream: last(click_ts, ignorenulls) ordered by (ts, click-first).
    One shuffle on user_id, no range cross-join. DuckDB checks it with
    its native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    merged = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        # clicks sort before purchases at equal ts => ASOF's >= semantics
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tie"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter((F.col("event_type") == "purchase") & F.col("last_click_ts").isNotNull())
        .select("event_id", "last_click_ts")
    )


@register(
    "unpivot_measures",
    survey_ref="§2.5,T6",
    oracle="""
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, ROUND(l_quantity, 4) AS val
FROM lineitem WHERE l_orderkey % 100 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', ROUND(l_extendedprice, 4)
FROM lineitem WHERE l_orderkey % 100 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', ROUND(l_discount, 4)
FROM lineitem WHERE l_orderkey % 100 = 0
""",
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of pivot_linestatus; the grid
    wide↔long conversion T5/T6 is the same reshape). Spark's native
    ``unpivot`` emits one row per (row, measure) without a shuffle —
    a generate, not an exchange."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_quantity", 4).alias("quantity"),
            F.round("l_extendedprice", 4).alias("extendedprice"),
            F.round("l_discount", 4).alias("discount"),
        )
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["quantity", "extendedprice", "discount"],
            variableColumnName="measure",
            valueColumnName="val",
        )
    )


@register(
    "window_rank_family",
    survey_ref="§2.8",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       ROUND(CUME_DIST() OVER w, 6) AS cdist
FROM orders
WHERE o_custkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
)
def q_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-window family (rank / dense_rank / percent_rank /
    cume_dist) in one pass — all four share a single sort within the
    o_custkey partition, so the plan has exactly one exchange + one
    sort regardless of how many ranking expressions ride on it."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "string_distance_adjacent",
    survey_ref="M5:text,§2.4",
    oracle="""
SELECT a.doc_id,
       CAST(levenshtein(SUBSTRING(a.text, 1, 40), SUBSTRING(b.text, 1, 40)) AS INTEGER)
         AS lev_next
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 10 = 0
""",
)
def q_string_distance_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between adjacent documents' 40-char prefixes —
    the fuzzy-match scalar for record-linkage-style dedup. Levenshtein
    is O(n·m) per pair: at scale always block first (LSH/SimHash) and
    cap compared prefixes, exactly as here."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.substring("text", 1, 40).alias("ta")
    )
    b = d.select((F.col("doc_id") - 1).alias("doc_id"), F.substring("text", 1, 40).alias("tb"))
    return a.join(b, "doc_id").select(
        "doc_id", F.levenshtein("ta", "tb").cast("int").alias("lev_next")
    )


@register(
    "array_function_suite",
    survey_ref="§2.5,M5:similarity",
    oracle="""
SELECT vec_id,
       CAST(LEN(embedding) AS INTEGER) AS dim,
       ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS vmax,
       ROUND(CAST(list_min(embedding) AS DOUBLE), 4) AS vmin,
       ROUND(CAST(list_sort(embedding)[1] AS DOUBLE), 4) AS sorted_first,
       ROUND(CAST(list_sort(embedding)[8] AS DOUBLE), 4) AS sorted_eighth,
       CAST(LEN(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos
FROM embeddings WHERE vec_id % 20 = 0
""",
)
def q_array_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array built-ins over the embedding column (size / min / max /
    sort / index / higher-order filter) — all JVM-side codegen'd
    expressions, the zero-UDF toolkit multimodal and vector columns
    lean on."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 20 == 0)
    emb = F.col("embedding")
    srt = F.sort_array(emb)
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(F.array_max(emb).cast("double"), 4).alias("vmax"),
        F.round(F.array_min(emb).cast("double"), 4).alias("vmin"),
        F.round(F.element_at(srt, 1).cast("double"), 4).alias("sorted_first"),
        F.round(F.element_at(srt, 8).cast("double"), 4).alias("sorted_eighth"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
    )


@register(
    "sketch_aggregates",
    survey_ref="§2.6",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       1 AS users_in_bounds,
       1 AS p50_in_bounds
FROM events GROUP BY event_type
""",
)
def q_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch aggregates that replace their exact
    cousins at 100 TB: approx_count_distinct (HLL++, rsd 1%) for
    COUNT(DISTINCT) without the per-group hash set, and
    approx_percentile (KLL-style, accuracy 10⁴) for percentiles
    without a global sort. Both are partial-aggregable: the shuffle
    carries fixed-size sketch state instead of values.

    Sketch estimates are engine-specific (HLL++/KLL internals), so no
    cross-engine value match exists; the checked surface is the
    documented-error INVARARIANT, computed in-plan against the exact
    aggregates: HLL estimate within 5·rsd of exact distinct count,
    approx p50 between the exact p40/p60. The oracle's constant-1
    columns fail the hash the moment an estimate leaves its bounds.
    tests/test_properties.py additionally checks tighter bounds."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx_p50"),
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        F.expr("percentile(value, 0.4)").alias("p40"),
        F.expr("percentile(value, 0.6)").alias("p60"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.select(
        "event_type",
        "n",
        F.when(
            (F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")) <= 0.05, 1
        ).otherwise(0).alias("users_in_bounds"),
        F.when(
            (F.col("approx_p50") >= F.col("p40")) & (F.col("approx_p50") <= F.col("p60")), 1
        ).otherwise(0).alias("p50_in_bounds"),
    )


@register(
    "sql_surface_revenue_share",
    survey_ref="§2.8,§2.6,§3.1",
    oracle="""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents
  FROM lineitem WHERE l_orderkey % 200 = 0
)
SELECT l_orderkey, l_linenumber,
       ROUND(rev_cents / 100.0, 2) AS line_revenue,
       ROUND(rev_cents * 1.0 / SUM(rev_cents) OVER (PARTITION BY l_orderkey), 6)
         AS order_share
FROM li
""",
)
def q_sql_surface_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL layer end-to-end: tables registered as temp
    views, the query authored in Spark SQL text (not DataFrame calls),
    parsed/analyzed/optimized by Catalyst identically to the DataFrame
    corpus — same windowed revenue-share computation both ways."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql("""
        WITH li AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents
          FROM lineitem_v WHERE l_orderkey % 200 = 0
        )
        SELECT l_orderkey, l_linenumber,
               ROUND(CAST(rev_cents AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS line_revenue,
               ROUND(CAST(rev_cents AS DOUBLE)
                     / CAST(SUM(rev_cents) OVER (PARTITION BY l_orderkey) AS DOUBLE), 6)
                 AS order_share
        FROM li
    """)  # doubles cast explicitly: Spark SQL parses 100.0 as DECIMAL(3,1)
    # and decimal division would yield DecimalType, mismatching the oracle


@register(
    "window_range_interval",
    survey_ref="§2.8,§2.11",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
       ROUND(SUM(value) OVER w, 4) AS sum_last_hour
FROM events
WHERE user_id % 25 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
""",
)
def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window over event time: per-user trailing-hour
    count/sum — the value-based frame (rangeBetween on the timestamp,
    not row offsets) that powers moving aggregates; the streaming
    sliding window is this frame's incremental twin. One shuffle on
    user_id, frame evaluated in a single sorted pass."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("sum_last_hour"),
    )


@register(
    "asof_tolerance_attribution",
    survey_ref="§2.7,§2.8",
    oracle="""
SELECT event_id, last_click_ts
FROM (
  SELECT p.event_id, c.ts AS last_click_ts, p.ts AS p_ts
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND p.ts >= c.ts
) m
WHERE p_ts - last_click_ts <= INTERVAL 45 MINUTE
""",
)
def q_asof_tolerance_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join (pandas merge_asof(tolerance=...)
    semantics): a purchase attributes to the user's most recent click
    only if it happened within 45 minutes — the attribution-window
    rule of marketing/feature pipelines. Same single per-user window
    pass as asof_last_click (one shuffle, no range cross-join); the
    tolerance is a post-window filter, so stale matches drop without
    widening state."""
    ev = load_table(spark, sf_dir, "events")
    merged = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tie"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click_ts").isNotNull()
            & (F.col("ts") - F.col("last_click_ts") <= F.expr("INTERVAL 45 MINUTE"))
        )
        .select("event_id", "last_click_ts")
    )


@register(
    "interval_overlap_join",
    survey_ref="§2.7",
    oracle="""
WITH iv AS (
  SELECT event_id AS interval_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS start_s,
         CAST(FLOOR(epoch(ts)) AS BIGINT) + 1800 AS end_s
  FROM events WHERE user_id % 199 = 0 AND event_type = 'purchase'
),
probe AS (
  SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t_s, value
  FROM events WHERE user_id % 7 = 0
)
SELECT iv.interval_id,
       CAST(COUNT(*) AS BIGINT) AS n_overlapping,
       ROUND(SUM(probe.value), 4) AS sum_value
FROM iv JOIN probe
  ON probe.t_s >= iv.start_s AND probe.t_s <= iv.end_s
GROUP BY 1
""",
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (events falling inside 30-min incident
    windows) WITHOUT the nested-loop a raw BETWEEN theta join plans:
    intervals explode into the fixed-width time buckets they cover
    (sequence + explode, ≤2 buckets for a 30-min interval on 1-h
    buckets), probe events key to their single bucket, and the join
    becomes an EQUI-join on bucket followed by the exact overlap
    filter. Each probe event owns exactly one bucket, so no pair
    duplicates and no post-join dedup. This is the open-source form of
    a range-join optimization: O(matches) pairs materialized instead
    of O(|iv|·|probe|); the oracle runs the plain theta join, which is
    fine at oracle scale and is exactly the plan that cannot scale.
    Plan shape (no BroadcastNestedLoopJoin) is pinned in
    tests/test_plans.py.

    Epoch derivation: Spark ``cast(ts as long)`` FLOORS the
    microsecond value; the oracle must FLOOR(epoch(ts)) too — DuckDB's
    ``CAST(double AS BIGINT)`` rounds-half-away, which flipped one
    boundary row at sf0.1."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.col("ts").cast("long")
    iv = (
        ev.filter((F.col("user_id") % 199 == 0) & (F.col("event_type") == "purchase"))
        .select(
            F.col("event_id").alias("interval_id"),
            epoch.alias("start_s"),
            (epoch + 1800).alias("end_s"),
        )
        .withColumn(
            "bucket",
            F.explode(F.sequence(F.expr("start_s div 3600"), F.expr("end_s div 3600"))),
        )
    )
    probe = (
        ev.filter(F.col("user_id") % 7 == 0)
        .select("event_id", epoch.alias("t_s"), "value")
        .withColumn("bucket", F.expr("t_s div 3600"))
    )
    return (
        probe.join(iv, "bucket")
        .filter((F.col("t_s") >= F.col("start_s")) & (F.col("t_s") <= F.col("end_s")))
        .groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlapping"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@register(
    "null_safe_join",
    survey_ref="§2.7,§2.4",
    oracle="""
WITH a AS (
  SELECT o_orderkey AS ka, NULLIF(o_orderpriority, '1-URGENT') AS pri
  FROM orders WHERE o_orderkey % 40 = 0
),
b AS (
  SELECT o_orderkey AS kb, NULLIF(o_orderpriority, '1-URGENT') AS pri
  FROM orders WHERE o_orderkey % 24 = 0
)
SELECT COALESCE(a.pri, '__null__') AS pri,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM a JOIN b ON a.pri IS NOT DISTINCT FROM b.pri AND a.ka < b.kb
GROUP BY 1
""",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join semantics (<=> / IS NOT DISTINCT FROM): the
    join corner where plain equality silently drops every NULL-keyed
    row — here NULLs (urgent orders nulled via NULLIF) must MATCH each
    other like any other key. eqNullSafe keys still hash-partition
    (NULL is one partition key), so this stays a real equi-join, not a
    nested loop; pair counts per key group are the checked surface."""
    o = load_table(spark, sf_dir, "orders")
    pri = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    a = o.filter(F.col("o_orderkey") % 40 == 0).select(
        F.col("o_orderkey").alias("ka"), pri.alias("pri_a")
    )
    b = o.filter(F.col("o_orderkey") % 24 == 0).select(
        F.col("o_orderkey").alias("kb"), pri.alias("pri_b")
    )
    joined = a.join(b, a["pri_a"].eqNullSafe(b["pri_b"]) & (a["ka"] < b["kb"]))
    return joined.groupBy(
        F.coalesce(F.col("pri_a"), F.lit("__null__")).alias("pri")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@register(
    "window_rolling_corr",
    survey_ref="§2.8,§2.6",
    oracle="""
WITH sub AS (
  SELECT event_id, user_id, value,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t_s, ts
  FROM events WHERE user_id % 25 = 0
)
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
       ROUND(CORR(value, t_s) OVER w, 3) + 0.0 AS corr_vt
FROM sub
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 30 PRECEDING AND CURRENT ROW)
""",
)
def q_window_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling value-vs-time correlation per user (trailing 31 events)
    — the drift detector of a monitoring pipeline: sustained |corr|
    near 1 means the metric is trending, not noisy. Both engines
    evaluate the SAME deterministically-ordered frame (ts + event_id
    tiebreak); the correlation rounds to 3 places as a pure output
    column (never filtered on), so co-moment float dust cannot flip
    row membership."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-30, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_win"),
        # + 0.0 normalizes IEEE -0.0: a rounded near-zero correlation's sign
        # is co-moment summation-order dependent and engines disagree on
        # ROUND's sign preservation (DuckDB keeps -0.0, Spark does not).
        (F.round(F.corr(F.col("value"), F.col("ts").cast("long")).over(w), 3) + F.lit(0.0)).alias(
            "corr_vt"
        ),
    )


@register(
    "weekly_active_growth",
    survey_ref="§2.6,§2.8",
    oracle="""
WITH weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM events GROUP BY 1
)
SELECT week, wau,
       CAST(LAG(wau) OVER (ORDER BY week) AS BIGINT) AS prev_wau,
       ROUND((wau - LAG(wau) OVER (ORDER BY week)) * 1.0
             / LAG(wau) OVER (ORDER BY week), 6) + 0.0 AS wow_growth
FROM weekly
""",
)
def q_weekly_active_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week active-user growth: the two-level reporting
    shape — event-scale distinct aggregation down to a handful of
    weekly rows, then a lag window over the AGGREGATED series (the
    window's global sort touches only week-count rows, never events).
    All-integer WAU arithmetic, so the growth ratio is deterministic
    cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(F.count_distinct(F.col("user_id")).alias("wau"))
    w = Window.orderBy("week")
    prev = F.lag("wau").over(w)
    return weekly.select(
        "week",
        F.col("wau").cast("bigint").alias("wau"),
        prev.cast("bigint").alias("prev_wau"),
        (F.round((F.col("wau") - prev) * 1.0 / prev, 6) + F.lit(0.0)).alias("wow_growth"),
    )


@register(
    "transition_dwell_time",
    survey_ref="§2.8,§2.6",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
         CAST(FLOOR(epoch(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
           - CAST(FLOOR(epoch(ts)) AS BIGINT) AS dwell_s
  FROM events
)
SELECT event_type, next_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(dwell_s) AS BIGINT) AS total_dwell_s,
       ROUND(AVG(dwell_s), 6) AS avg_dwell_s
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
""",
)
def q_transition_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time per event-type transition (how long users sit
    between a view and the next click, etc.) — the timing companion of
    the transition matrix. Gaps are exact integer second differences
    (FLOOR'd epochs in both engines, the cross-engine rounding rule
    from SCALE.md), so sums are order-independent and the average is
    one exact division."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("long")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (F.lead(epoch).over(w) - epoch).alias("dwell_s"),
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dwell_s").cast("bigint").alias("total_dwell_s"),
        F.round(F.avg("dwell_s"), 6).alias("avg_dwell_s"),
    )


@register(
    "benford_first_digit",
    survey_ref="§2.6,§2.4",
    oracle="""
SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS frac
FROM orders WHERE o_totalprice >= 1
GROUP BY 1
""",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit distribution of order totals — the
    fraud/data-quality screen auditors run on monetary columns
    (fabricated values flunk the log-uniform leading-digit law). One
    digit-cardinality-bounded aggregate plus a 9-row window for the
    fractions; synthetic fixture prices are uniform, so the OUTPUT here
    deliberately shows a non-Benford shape — the operator is the
    screen, the fixture is the negative control."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = o.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "digit",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy()), 6).alias("frac"),
    )


@register(
    "profile_column_stats",
    survey_ref="§2.6,§2.4",
    oracle="""
SELECT 'o_orderkey' AS col, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
FROM orders
""",
)
def q_profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style column profiling (row count, null count, exact
    distinct count per column) — the first pass every data-quality
    framework runs over a new table. All four column profiles compute
    in ONE aggregation pass over one scan (count/count(col)/
    count_distinct are all partial-aggregable), then pivot to the
    long per-column report shape; the oracle's four UNION branches are
    the semantic spec, not the plan."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
    # one scan total: the 1-row aggregate is checkpointed so the four
    # per-column projections below don't each re-run it
    one = o.agg(*aggs).localCheckpoint(eager=True)
    rows = [
        one.select(
            F.lit(c).alias("col"),
            F.col("_n").cast("bigint").alias("n"),
            (F.col("_n") - F.col(f"_nn_{c}")).cast("bigint").alias("n_null"),
            F.col(f"_nd_{c}").cast("bigint").alias("n_distinct"),
        )
        for c in cols
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "timezone_hour_histogram",
    survey_ref="§2.4,A5",
    oracle="""
SELECT CAST(EXTRACT(hour FROM timezone('America/New_York',
                                       timezone('UTC', ts))) AS INTEGER) AS ny_hour,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
)
def q_timezone_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wall-clock analytics across timezones: the event-time histogram
    in America/New_York local hours (UTC-stored timestamps rendered in
    the analyst's zone — every activity-by-hour dashboard does this).
    The DuckDB side pins the conversion explicitly (nested
    timezone()); the Spark side relies on the catalog pinning
    session.timeZone=UTC (load_table sets it, since hour() renders in
    session time), then from_utc_timestamp shifts to NY wall clock.
    Fixture spans January — one fixed offset, no DST ambiguity."""
    ev = load_table(spark, sf_dir, "events")
    ny = F.from_utc_timestamp(F.col("ts"), "America/New_York")
    return ev.groupBy(F.hour(ny).cast("int").alias("ny_hour")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "hll_sketch_union",
    survey_ref="§2.6",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       1 AS est_in_bounds
FROM events GROUP BY event_type
UNION ALL
SELECT '__union__' AS event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       1 AS est_in_bounds
FROM events
""",
)
def q_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches builtins, Spark
    3.5+): per-group sketches union into a global estimate WITHOUT
    rescanning — the property that lets 1000 executors each sketch
    their shard and a coordinator merge kilobytes. Sketch bytes are
    engine-specific, so the checked surface is the invariant: each
    per-type estimate AND the unioned estimate within 5% of the exact
    distinct count computed in the same plan; the exact counts
    themselves hash-match the oracle."""
    ev = load_table(spark, sf_dir, "events")
    # ONE scan builds per-type AND global sketches/exacts via grouping
    # sets (the global exact is not derivable from per-type distincts —
    # users appear under several types); the 6-row result is
    # checkpointed so the two output branches below do not re-run the
    # event-scale aggregation.
    gs = (
        ev.groupingSets([[F.col("event_type")], []], F.col("event_type"))
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct(F.col("user_id")).alias("n_exact"),
            F.grouping("event_type").alias("_g"),
        )
        .localCheckpoint(eager=True)
    )
    per = gs.filter(F.col("_g") == 0)
    per_rows = per.select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.when(
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                / F.col("n_exact")
            )
            <= 0.05,
            1,
        )
        .otherwise(0)
        .alias("est_in_bounds"),
    )
    g = gs.filter(F.col("_g") == 1).select("n_exact")
    union_row = (
        per.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(F.broadcast(g))
        .select(
            F.lit("__union__").alias("event_type"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.when(
                (F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact")) <= 0.05, 1
            )
            .otherwise(0)
            .alias("est_in_bounds"),
        )
    )
    return per_rows.unionByName(union_row)


@register(
    "window_zscore_anomaly",
    survey_ref="§2.8",
    oracle="""
WITH scored AS (
  SELECT event_id, user_id,
         COUNT(*) OVER w AS n_hist,
         ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 4) AS z
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, z
FROM scored WHERE n_hist >= 20 AND ABS(z) > 2.5
""",
)
def q_window_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against
    its user's trailing-50-event mean/stddev (strictly PRECEDING — the
    event never scores against itself), flagged when |z| > 2.5 with a
    20-event warm-up. One shuffle on user_id, single sorted window
    pass; the monitoring primitive of a streaming-adjacent batch
    pipeline. z rounds to 4 places BEFORE the threshold compare so
    both engines' summation-order float dust cannot flip a boundary
    row."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    # NULL (not DIVIDE_BY_ZERO) when the trailing window has zero
    # variance: Spark 4 runs ANSI mode, where a bare division would
    # crash the query on a flat window while DuckDB yields NULL and
    # the threshold filter drops the row — guard for the same NULL.
    std = F.stddev_samp("value").over(w)
    scored = ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_hist"),
        F.when(
            std != 0, F.round((F.col("value") - F.avg("value").over(w)) / std, 4)
        ).alias("z"),
    )
    return scored.filter((F.col("n_hist") >= 20) & (F.abs(F.col("z")) > 2.5)).select(
        "event_id", "user_id", "z"
    )


@register(
    "funnel_conversion",
    survey_ref="§2.6,§2.7,§2.8",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_viewed,
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_clicked_after,
       CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchased_after
""",
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (view → click → purchase, each step
    strictly AFTER the previous step's first occurrence) — the
    sequential-pattern analytics MATCH_RECOGNIZE engines sell, built
    from per-step min-ts aggregations chained by (user, ts > prev)
    joins: each stage is one keyed aggregation over the rows that
    survived the previous stage, so cost shrinks down the funnel and
    every join is an equi-join on user_id. Final counts meet in
    broadcast one-row cross joins (no driver collect)."""
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    c1 = s1.agg(F.count(F.lit(1)).alias("n_viewed"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n_clicked_after"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n_purchased_after"))
    return c1.crossJoin(F.broadcast(c2)).crossJoin(F.broadcast(c3))


@register(
    "cohort_retention",
    survey_ref="§2.6,§2.8",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS INTEGER) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active
FROM activity GROUP BY 1, 2
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, one
    row per (cohort, week-offset) with the distinct users still active
    — the product-analytics staple. Both week values are Monday-
    truncated, so DuckDB's boundary-crossing date_diff('week') equals
    plain day-difference/7 and the engines agree exactly. Shuffles:
    the first-seen aggregation and the distinct-activity aggregation,
    both keyed by user/cohort."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.col("cohort_week").cast("date").alias("cohort_week"), "week_offset"
    ).agg(F.count(F.lit(1)).alias("n_active"))


@register(
    "fuzzy_blocked_join",
    survey_ref="§2.7,M5:dedup",
    oracle="""
WITH blocked AS (
  SELECT c_custkey, c_name, c_nationkey, substr(c_name, 10, 7) AS blk
  FROM customer
)
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM blocked a JOIN blocked b
  ON a.blk = b.blk AND a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
""",
)
def q_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: customer pairs whose names are
    within edit distance 2, found WITHOUT the all-pairs scan — the
    blocking-key pattern (here nation + the name's high-order digit
    prefix): candidates materialize only inside a block, the same
    bounded-join property LSH banding gives dedup, and the expensive
    levenshtein runs post-equi-join on O(block²) pairs instead of
    O(n²). The block is the first 7 of the name's 9 digits — matches
    differ only in the last two digits (the typo semantics the
    distance bound encodes), and blocks stay small at ANY key range;
    a coarser prefix degenerated into two fat blocks at sf0.1 and
    single-tasked 4.5M levenshtein pairs. At 100 TB the blocking key
    doubles as the shuffle key, so each executor resolves its own
    blocks."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.substring("c_name", 10, 7).alias("blk")
    )
    a = c.alias("a")
    b = c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 2)
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("dist"),
        )
    )


@register(
    "cdc_merge_apply",
    survey_ref="§2.7,§2.10",
    oracle="""
WITH changes AS (
  SELECT c_custkey AS k, FLOOR((c_acctbal + 100.0) * 100 + 0.5) / 100.0 AS new_bal, 'U' AS op
  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
  UNION ALL
  SELECT c_custkey, NULL, 'D' FROM customer WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT c_custkey + 10000000, FLOOR(c_acctbal / 2.0 * 100 + 0.5) / 100.0, 'I'
  FROM customer WHERE c_custkey % 11 = 0
)
SELECT COALESCE(ch.k, s.c_custkey) AS c_custkey,
       COALESCE(ch.new_bal, FLOOR(s.c_acctbal * 100 + 0.5) / 100.0) AS acctbal
FROM customer s
FULL OUTER JOIN changes ch ON ch.k = s.c_custkey
WHERE ch.op IS NULL OR ch.op <> 'D'
""",
)
def q_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style changeset apply (the CDC/compaction core a lakehouse
    MERGE INTO compiles to, engine-level form): upserts override the
    snapshot row, deletes drop it, inserts add new keys — one full
    outer join on the key. At 100 TB both sides hash-partition on the
    key (changesets are usually ≪ snapshot, so AQE picks a broadcast
    or shuffled-hash join); the WHERE keeps tombstones out of the
    output, which is exactly a partition-overwrite rewrite when the
    snapshot is key-bucketed."""
    cust = load_table(spark, sf_dir, "customer")
    updates = (
        cust.filter((F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 13 != 0))
        .select(
            F.col("c_custkey").alias("k"),
            (F.floor((F.col("c_acctbal") + 100.0) * 100 + 0.5) / 100.0).alias("new_bal"),
            F.lit("U").alias("op"),
        )
    )
    deletes = cust.filter(F.col("c_custkey") % 13 == 0).select(
        F.col("c_custkey").alias("k"), F.lit(None).cast("double").alias("new_bal"), F.lit("D").alias("op")
    )
    inserts = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 10000000).alias("k"),
        (F.floor(F.col("c_acctbal") / 2.0 * 100 + 0.5) / 100.0).alias("new_bal"),
        F.lit("I").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = cust.join(changes, changes["k"] == cust["c_custkey"], "full_outer")
    return merged.filter(F.col("op").isNull() | (F.col("op") != "D")).select(
        F.coalesce(F.col("k"), F.col("c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("new_bal"), F.floor(F.col("c_acctbal") * 100 + 0.5) / 100.0).alias("acctbal"),
    )


@register(
    "compact_latest_per_key",
    survey_ref="§2.8,§2.10",
    oracle="""
SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
FROM (
  SELECT user_id, event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
""",
)
def q_compact_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest compaction: the newest row per (user, event_type) —
    the dedup rule of upsert log compaction (SCD type 1). One window
    shuffle on the key; event_id breaks timestamp ties so the winner
    is deterministic under any partitioning. At scale this replaces a
    full self-join anti pattern and is exactly the rewrite a MERGE of
    an append log into a keyed table performs."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.col("value").alias("latest_value"),
        )
    )


@register(
    "stat_corr_covar_suffstats",
    survey_ref="§2.6,A1",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sx,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
             * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS sxx,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
             * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (SQRT(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * SQRT(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) + 0.0
         AS corr_qty_price,
       ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) / 10000.0, 4) + 0.0
         AS covar_samp_qty_price
FROM s
""",
)
def q_stat_corr_covar_suffstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance per return flag via
    sufficient statistics: one partial-aggregated pass collects exact
    integer sums (Σx, Σy, Σx², Σy², Σxy on cent-scaled values — BIGINT,
    summation-order independent), the moments formula then runs on the
    1-row-per-group result. This is how corr/covar distribute at
    100 TB — the built-in CORR's streaming merge is the same math, but
    the integer sums make the answer bit-identical across engines and
    across any partitioning. Covariance is de-scaled by 100² back to
    natural units."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    # accumulators widened to DECIMAL(38,0): the per-row products fit
    # BIGINT, but Σy² of cent-scaled prices crosses 2^63 between sf0.1
    # and sf1 (caught by scripts/scale_probe.py's 10x run under ANSI
    # overflow checking). DECIMAL sums stay exact and summation-order
    # independent with ~1e38 headroom — matching the oracle, where
    # DuckDB's SUM(BIGINT) is already HUGEINT.
    dec = "decimal(38,0)"
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        F.sqrt(nd * F.col("sxx") - sxd * F.col("sx"))
        * F.sqrt(nd * F.col("syy") - syd * F.col("sy"))
    )
    covar = (F.col("sxy").cast("double") - sxd * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    ) / 10000.0
    return s.select(
        "l_returnflag",
        "n",
        # + 0.0 folds a rounded -0.0 to +0.0 (engines disagree on ROUND's
        # sign preservation for near-zero correlations/covariances).
        (F.round(corr, 6) + F.lit(0.0)).alias("corr_qty_price"),
        (F.round(covar, 4) + F.lit(0.0)).alias("covar_samp_qty_price"),
    )


@register(
    "observe_quality_metrics",
    survey_ref="§2.6,§3.1",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
       CAST(SUM(CASE WHEN value < 0 OR value > 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_range,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
""",
)
def q_observe_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality counters via the Observation API: the metrics
    (row count, null rate, out-of-range count, value bounds) are
    accumulated DURING the pipeline's own pass — no second scan, no
    separate quality job. This is the production observability pattern
    for ETL at 100 TB: the counters ride the tasks' existing scan and
    arrive at the driver with the action. The observed values are then
    surfaced as a 1-row DataFrame (what a quality gate would assert
    on); the oracle recomputes them relationally."""
    # string-named observe, NOT the pyspark Observation helper: the
    # helper registers the session ObservationManager in a way that
    # leaks a non-serializable reference into later task closures on
    # this session (breaks any subsequent MLlib job with
    # "Task not serializable: ObservationManager")
    ev = load_table(spark, sf_dir, "events")
    observed = ev.observe(
        "quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).alias("n_null_props"),
        F.sum(F.when((F.col("value") < 0) | (F.col("value") > 400), 1).otherwise(0)).alias(
            "n_out_of_range"
        ),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    # metrics attach to the QueryExecution that actually runs, so the
    # action must go through a frame BUILT ON the observed node — here
    # the pipeline's own (tiny) downstream aggregate
    downstream = observed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    downstream.collect()  # the pipeline's action; metrics ride along
    jrow = downstream._jdf.queryExecution().observedMetrics().get("quality").get()
    return spark.createDataFrame(
        [
            (
                jrow.getLong(0),
                jrow.getLong(1),
                jrow.getLong(2),
                float(jrow.getDouble(3)),
                float(jrow.getDouble(4)),
            )
        ],
        "n_rows long, n_null_props long, n_out_of_range long, min_value double, max_value double",
    )


@register(
    "table_checksum",
    survey_ref="§2.6,§3.1",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM((event_id * 1000003 + user_id * 8191
                 + CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) % 2147483647) AS BIGINT)
         AS checksum,
       CAST(SUM(CASE WHEN ((event_id * 1000003 + user_id * 8191
                 + CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) % 2147483647) % 2 = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_even
FROM events
""",
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: a per-row polynomial hash
    (exact integer arithmetic — reproducible on any engine, unlike
    xxhash64) summed across the table. Two copies of a dataset on
    different clusters/engines agree iff their checksums agree, at the
    cost of one partial-aggregated scan and an 8-byte shuffle per
    partition — the migration/replication validation primitive. The
    production variant swaps the polynomial for xxhash64 when both
    sides are Spark."""
    ev = load_table(spark, sf_dir, "events")
    row_hash = (
        F.col("event_id") * 1000003
        + F.col("user_id") * 8191
        + F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    ) % 2147483647
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).alias("checksum"),
        F.sum(F.when(row_hash % 2 == 0, 1).otherwise(0)).alias("n_even"),
    )


@register(
    "skew_salted_join",
    survey_ref="§2.7,§2.6",
    oracle="""
WITH big AS (
  SELECT CASE WHEN user_id % 5 = 0 THEN 0 ELSE user_id % 50 END AS tier_id, value
  FROM events
),
dim AS (
  SELECT CAST(r AS BIGINT) AS tier_id, CAST(r * 10 AS DOUBLE) AS tier_weight
  FROM UNNEST(range(0, 50)) AS t(r)
)
SELECT b.tier_id,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(b.value * d.tier_weight * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS weighted_cents
FROM big b JOIN dim d ON d.tier_id = b.tier_id
GROUP BY b.tier_id
""",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under manufactured skew: ~20% of events collapse
    onto tier 0 (the hot key), the 50-row dim is replicated once per
    salt, and the join key becomes (tier, salt) so the hot tier spreads
    over 16 reducers. The oracle is the PLAIN join — salting must be
    invisible in the result. Salt here derives from event_id (exact,
    reproducible); production uses any uniform per-row source."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.shuffle_opt import salted_join

    ev = load_table(spark, sf_dir, "events")
    big = ev.select(
        F.when(F.col("user_id") % 5 == 0, 0).otherwise(F.col("user_id") % 50).alias("tier_id"),
        "value",
        "event_id",
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("tier_id"), (F.col("id") * 10.0).alias("tier_weight")
    )
    joined = salted_join(big, dim, "tier_id", n_salts=16, salt_src="event_id")
    return joined.groupBy("tier_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * F.col("tier_weight") * 100 + 0.5).cast("bigint")
        ).alias("weighted_cents"),
    )


@register(
    "aqe_skew_join_split",
    survey_ref="§2.7,§2.6",
    oracle="""
WITH left_side AS (
  SELECT CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE o_custkey END AS skew_key,
         o_totalprice
  FROM orders
)
SELECT (l.skew_key = 1) AS is_hot,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(l.o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
FROM left_side l JOIN customer c ON c.c_custkey = l.skew_key
GROUP BY 1
""",
)
def q_aqe_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-NATIVE skew mitigation — the AQE twin of the manual
    `skew_salted_join` above, completing the runtime-re-optimization
    trilogy (dynamic partition pruning, runtime bloom filter, skew
    split): half of all orders collapse onto customer 1 (the
    hot-tenant shape), the join is forced to a SortMergeJoin, and
    AQE's OptimizeSkewedJoin detects the hot reduce partition from
    map output statistics and SPLITS it across tasks at runtime — the
    executed plan shows `SortMergeJoin(skew=true)` over an
    `AQEShuffleRead skewed`, with zero user-side salting. Semantics
    are EXACTLY the plain join (splitting a partition and replicating
    the matching build rows is result-neutral), which the oracle
    checks. Two findings the r11 probe pinned (tests/test_plans.py
    asserts the executed markers): (1) skew splitting works at
    PER-MAPPER granularity — a hot partition fed by a single map task
    is indivisible and the rule silently declines, so an over-compacted
    input (one file = one scan task, exactly the small-fixture shape)
    DEFEATS skew mitigation; `spread_scan` restores the many-mapper
    production shape the rule needs. (2) The skew thresholds compare
    COMPRESSED shuffle sizes — a constant hot key over compressible
    payload can sit under `skewedPartitionThresholdInBytes` long after
    its row count is pathological. The scoped `newSession()` clone
    recreates the production regime at fixture scale (thresholds
    shrunk in proportion to the data; broadcast off so the join
    actually shuffles), same no-conf-leak device as
    `runtime_bloom_session`."""
    return aqe_skew_frame(aqe_skew_session(spark), sf_dir).localCheckpoint(eager=True)


def aqe_skew_session(spark: SparkSession) -> SparkSession:
    """Scoped session (private SQLConf, no cross-thread leak — same
    device as approx_ops.runtime_bloom_session) that recreates the
    production skew regime at fixture scale: thresholds shrunk in
    proportion to the data, broadcast off so the join actually
    shuffles, coalescing off so the split stays readable in the plan."""
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    scoped.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB"
    )
    scoped.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    scoped.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    scoped.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    return scoped


def aqe_skew_frame(scoped: SparkSession, sf_dir: str) -> DataFrame:
    """The lazy plan under test: hot-tenant orders ⋈ customer forced
    to a SortMergeJoin. Exposed separately so tests/test_plans.py can
    assert the EXECUTED skew markers (the returned corpus query is an
    eager localCheckpoint, which hides them)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import spread_scan

    od = spread_scan(load_table(scoped, sf_dir, "orders"))
    cu = spread_scan(load_table(scoped, sf_dir, "customer"))
    left = od.select(
        F.when(F.col("o_custkey") % 2 == 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .alias("skew_key"),
        "o_totalprice",
    )
    right = cu.select(F.col("c_custkey").alias("skew_key"))
    return (
        left.join(right, "skew_key")
        .groupBy((F.col("skew_key") == 1).alias("is_hot"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("price_cents"),
        )
    )


@register(
    "variant_semistructured",
    survey_ref="§2.4 note,§1.2",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
       CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_missing
FROM events GROUP BY event_type
""",
)
def q_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed-path
    extraction (variant_get) — the open-schema column pattern that
    replaces stringly get_json_object reparsing. At 100 TB the win is
    that variant parses each JSON document once per row (and pushes
    typed extraction into the scan when stored as a variant column);
    absent paths are NULL, not errors. DuckDB mirrors with
    json_extract on the raw strings."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    missing = F.variant_get(v, "$.missing", "bigint")
    return ev.select("event_type", k.alias("k"), missing.alias("m")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias("n_with_k"),
        F.sum(F.when(F.col("m").isNotNull(), 1).otherwise(0)).alias("n_with_missing"),
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL-surface parity: recursive CTE, SQL scripting, transpose.


@register(
    "recursive_cte_bom_depth",
    survey_ref="§2.4,§2.7",
    oracle="""
WITH RECURSIVE walk(p_partkey, depth, path_cents) AS (
  SELECT p_partkey, 0 AS depth,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS path_cents
  FROM part WHERE p_partkey = 0
  UNION ALL
  SELECT c.p_partkey, w.depth + 1,
         w.path_cents + CAST(FLOOR(c.p_retailprice * 100 + 0.5) AS BIGINT)
  FROM part c JOIN walk w ON c.p_partkey // 10 = w.p_partkey
  WHERE c.p_partkey > 0
)
SELECT p_partkey, CAST(depth AS INTEGER) AS depth, path_cents
FROM walk
""",
)
def q_recursive_cte_bom_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI recursive CTE executed by BOTH engines over the decimal
    part trie (parent = key DIV 10): each part's depth and cumulative
    root-path cost by recursive descent from the root.  Spark 4 runs
    WITH RECURSIVE natively (UnionLoop — each iteration is one
    distributed join against the previous frontier, exactly the
    level-synchronous shape ``bfs_shortest_hops`` hand-builds), so
    this is a direct engine-parity gate: the SAME query text modulo
    DIV spelling, byte-identical results.  The closed-form twin
    ``bom_subtree_rollup`` remains the scale path when the hierarchy
    function is known; recursion is for when it is not.
    Recursion-volume guard (r11, found by the 100x probe): the walk
    emits EXACTLY one row per part, so a 2M-row dimension trips
    Spark's 1M-row runaway valve (RECURSION_ROW_LIMIT_EXCEEDED). The
    plan-embedded fix is a LIMIT |part| directly over the CTE relation
    (the conf is execution-time and would race concurrent streams —
    same analysis as ``bom_chain_rollup_rcte``); the 100-level valve
    stays armed as the true runaway backstop (tree depth is
    log10(|part|))."""
    t = load_table(spark, sf_dir, "part")
    t.createOrReplaceTempView("part_rec_src")
    bound = t.count()  # walk rows == |part| exactly: dimension-scale count
    return spark.sql(f"""
WITH RECURSIVE walk(p_partkey, depth, path_cents) AS (
  SELECT p_partkey, 0 AS depth,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS path_cents
  FROM part_rec_src WHERE p_partkey = 0
  UNION ALL
  SELECT c.p_partkey, w.depth + 1,
         w.path_cents + CAST(FLOOR(c.p_retailprice * 100 + 0.5) AS BIGINT)
  FROM part_rec_src c JOIN walk w ON c.p_partkey DIV 10 = w.p_partkey
  WHERE c.p_partkey > 0
)
SELECT p_partkey, CAST(depth AS INT) AS depth, path_cents
FROM (SELECT * FROM walk LIMIT {bound}) walk_bounded
""")


@register(
    "sql_scripting_threshold_search",
    survey_ref="§2.4",
    oracle="""
WITH counts AS (
  -- Ladder bound derived from the data (ADVICE r4: a fixed 60-step
  -- cap silently under-covered any fixture whose max value > 590):
  -- one step past CEIL(MAX/10) always crosses the <1%% fixpoint.
  SELECT t.t AS thr,
         (SELECT COUNT(*) FROM events WHERE value >= t.t) AS n_above,
         (SELECT COUNT(*) FROM events) AS n_total
  FROM (SELECT unnest(range(0,
          (SELECT CAST(CEIL(MAX(value) / 10) AS BIGINT) + 2 FROM events)
        )) * 10 AS t) t
)
SELECT CAST(MIN(thr) AS BIGINT) AS threshold,
       CAST(MIN_BY(n_above, thr) AS BIGINT) AS n_above
FROM counts
WHERE n_above * 100 < n_total
""",
)
def q_sql_scripting_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 BEGIN…END procedural blocks): a WHILE
    loop walks the threshold ladder (step 10) until fewer than 1% of
    events exceed it — the iterative parameter search an analyst would
    otherwise drive from Python, expressed entirely in the SQL
    surface with DECLAREd session variables and scalar-subquery
    assignment.  The oracle finds the same fixpoint declaratively
    (min over the materialized ladder), so the procedural and
    declarative forms are gated against each other.

    r12 (guide §1.2 "don't compute things you throw away"; VERDICT r11
    task 6): the WHILE body used to re-scan the full events table per
    ladder step (~40 eager aggregate scans executed inside
    ``spark.sql``, 2.2 s booked by the build audit). Every count the
    ladder ever asks for is determined by the per-decade histogram
    ``count(*) GROUP BY floor(value/10)`` — thresholds are multiples
    of 10, so ``value >= thr  ⟺  floor(value/10) >= thr DIV 10``
    (exact: floor-division against an integer boundary; re-verified by
    the unchanged raw-scan oracle at every SF). The histogram is
    staged ONCE (one scan, ≤ ~40 rows, lineage-cut within-query loop
    reuse like every iterative builder in the corpus) and the script's
    loop reads the 40-row frame. Script surface unchanged: DECLARE,
    scalar-subquery SET, WHILE — only the relation the body scans is
    now a sufficient statistic."""
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.groupBy(F.floor(F.col("value") / 10).cast("bigint").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)  # ≤ ~40 rows: one task per script step, not 32
        .localCheckpoint(eager=True)
    )
    hist.createOrReplaceTempView("events_script_hist")
    return spark.sql("""
BEGIN
  DECLARE thr BIGINT DEFAULT 0;
  DECLARE n_above BIGINT DEFAULT -1;
  DECLARE n_total BIGINT DEFAULT 0;
  SET n_total = (SELECT COALESCE(SUM(n), 0) FROM events_script_hist);
  SET n_above = (SELECT COALESCE(SUM(n), 0) FROM events_script_hist
                 WHERE b >= thr DIV 10);
  WHILE n_above * 100 >= n_total DO
    SET thr = thr + 10;
    SET n_above = (SELECT COALESCE(SUM(n), 0) FROM events_script_hist
                   WHERE b >= thr DIV 10);
  END WHILE;
  SELECT thr AS threshold, n_above;
END
""")


@register(
    "sql_udf_quality_band",
    survey_ref="§2.4,M5:text",
    oracle="""
WITH t AS (
  SELECT LENGTH(text) AS l,
         (LENGTH(text) - LENGTH(REPLACE(REPLACE(REPLACE(text,'.',''),',',''),'!','')))
           * 1000 // GREATEST(LENGTH(text), 1) AS pp
  FROM documents
)
SELECT l // 200 - CASE WHEN pp > 40 THEN 1 ELSE 0 END AS band,
       CAST(COUNT(*) AS BIGINT) AS n
FROM t GROUP BY 1
""",
)
def q_sql_udf_quality_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UDFs (Spark 4 ``CREATE FUNCTION … RETURNS … RETURN expr``):
    a reusable quality-banding vocabulary defined IN SQL — scalar
    ``punct_permille`` (integer punctuation density) composed by
    ``quality_band`` (UDF-calls-UDF), applied per document and
    aggregated. The governance win over Python UDFs: the body is a SQL
    expression, so Catalyst INLINES it at analysis time — the plan is
    pure column algebra inside whole-stage codegen, zero Python
    workers, full pushdown/pruning (asserted by the plan test) —
    while analysts still get a named, centrally-maintained function.
    All arithmetic is integer (permille via DIV, band via DIV), so the
    oracle — the same expressions written inline in DuckDB — is
    bit-exact with no float rounding discipline needed. The functions
    are TEMPORARY (session catalog); CREATE OR REPLACE is idempotent,
    so concurrent streams re-registering the same definition are
    benign (contention-probe rule)."""
    doc = load_table(spark, sf_dir, "documents")
    doc.createOrReplaceTempView("documents_sqludf_src")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION punct_permille(t STRING) RETURNS BIGINT
RETURN (LENGTH(t) - LENGTH(REPLACE(REPLACE(REPLACE(t, '.', ''), ',', ''), '!', '')))
       * 1000 DIV GREATEST(LENGTH(t), 1)
""")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION quality_band(t STRING) RETURNS BIGINT
RETURN LENGTH(t) DIV 200 - CASE WHEN punct_permille(t) > 40 THEN 1 ELSE 0 END
""")
    return spark.sql("""
SELECT quality_band(text) AS band, COUNT(*) AS n
FROM documents_sqludf_src GROUP BY 1
""")


@register(
    "sql_udtf_customer_profile",
    survey_ref="§2.4,§2.7",
    oracle="""
SELECT c.c_custkey,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       ROUND(COALESCE(SUM(o.o_totalprice), 0.0), 2) AS total_spend,
       ROUND(COALESCE(MAX(o.o_totalprice), 0.0), 2) AS max_order
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_custkey % 20 = 0
GROUP BY 1
""",
)
def q_sql_udtf_customer_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TABLE function + LATERAL correlation (Spark 4
    ``CREATE FUNCTION … RETURNS TABLE … RETURN SELECT``): a
    parameterized per-customer order profile invoked once per driving
    row. Catalyst DECORRELATES the lateral TVF into set algebra — the
    physical plan is one keyed aggregate over orders left-joined to
    the distinct customer keys (verified: HashAggregate +
    BroadcastHashJoin, no per-row subquery execution), which is the
    only shape that survives 100 TB.

    ENGINE HAZARD, measured and designed around (r11, Spark 4.1.2): a
    per-invocation ``LIMIT k`` inside a correlated TVF body is
    decorrelated into a GLOBAL limit — 3 rows TOTAL instead of top-3
    per customer, silently wrong (SCALE.md note). Per-group top-k must
    use a window rank (``lateral_topk_join`` covers the correlated-
    LIMIT semantics through Catalyst's supported decorrelation of
    lateral SUBQUERIES). This TVF body therefore uses correlated
    aggregation only — COUNT/SUM/MAX always return exactly one row per
    invocation, so no truncation semantics exist to get wrong. The
    aggregate-over-empty case (customers with no orders) exercises the
    outer-join path of the decorrelation: zero-order customers emit
    (0, 0.0, 0.0), which the oracle mirrors with LEFT JOIN +
    COALESCE."""
    cust = load_table(spark, sf_dir, "customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sqltvf_src")
    cust.createOrReplaceTempView("customer_sqltvf_src")
    spark.sql("""
CREATE OR REPLACE TEMPORARY FUNCTION cust_order_profile(ck BIGINT)
RETURNS TABLE(n_orders BIGINT, total_spend DOUBLE, max_order DOUBLE)
RETURN SELECT COUNT(o_orderkey),
              ROUND(COALESCE(SUM(o_totalprice), 0.0), 2),
              ROUND(COALESCE(MAX(o_totalprice), 0.0), 2)
       FROM orders_sqltvf_src WHERE o_custkey = ck
""")
    return spark.sql("""
SELECT c.c_custkey, t.n_orders, t.total_spend, t.max_order
FROM customer_sqltvf_src c, LATERAL cust_order_profile(c.c_custkey) t
WHERE c.c_custkey % 20 = 0
""")


@register(
    "dataframe_transpose",
    survey_ref="T5,§2.6",
    oracle="""
WITH s AS (
  SELECT CAST(event_id % 2 AS VARCHAR) AS label,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1
)
SELECT 'n_events' AS key,
       (SELECT n_events FROM s WHERE label = '0') AS "0",
       (SELECT n_events FROM s WHERE label = '1') AS "1"
UNION ALL
SELECT 'n_users',
       (SELECT n_users FROM s WHERE label = '0'),
       (SELECT n_users FROM s WHERE label = '1')
UNION ALL
SELECT 'sum_cents',
       (SELECT sum_cents FROM s WHERE label = '0'),
       (SELECT sum_cents FROM s WHERE label = '1')
""",
)
def q_dataframe_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.transpose`` (new in Spark 4) — the engine-native
    layout transpose that closes T5's wide↔long family: a per-label
    stats block flips so measures become rows and labels become
    columns (the presentation layout of the reference's printed
    summaries).  transpose() hinges on the first column's VALUES
    becoming column names — deterministic here because the label
    domain is {0,1}; the oracle hand-builds the same flip with scalar
    subqueries.  Transpose collects the (tiny, already-aggregated)
    frame through the driver by design — use only after reduction,
    never on a fact table."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.groupBy((F.col("event_id") % 2).cast("string").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("sum_cents"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
        .orderBy("label")
    )
    return s.transpose().withColumnRenamed("key", "key")


@register(
    "two_phase_exact_percentile",
    survey_ref="§2.6,§2.9",
    oracle="""
WITH c AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
ranks AS (
  SELECT p, CAST(CEIL(p * n.n) AS BIGINT) AS k
  FROM (SELECT unnest([0.5, 0.9, 0.99]) AS p), n
),
ordered AS (
  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c
)
SELECT r.p, r.k, o.cents AS pct_cents
FROM ranks r JOIN ordered o ON o.rn = r.k
""",
)
def q_two_phase_exact_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global percentiles (P50/P90/P99 as lower order statistics
    of integer cents) computed WITHOUT a global sort — the two-phase
    refinement that replaces ``ORDER BY`` + row_number at 100 TB:

    phase 1 coarsens to ≤562 cent-ranges (one map-side-combinable
    aggregate), a cumulative count over that TINY relation locates the
    range containing each target rank k = ⌈p·n⌉; phase 2 rescans only
    rows inside the 3 located ranges (a broadcast semi-filter on the
    scan), aggregates exact cents within them, and a second tiny
    cumulative pins the k-th value.  Total shuffled data: two
    bounded-group aggregates + broadcast joins of 3-row relations —
    the oracle does the naive global row_number, so the gate proves
    the refinement exactly reproduces the order statistic.  Swap in
    ``percentile_approx`` only when ε-error is acceptable; this is
    the exact path."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"))
    n_row = c.agg(F.count(F.lit(1)).alias("n"))
    ranks = (
        spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "p double")
        .crossJoin(F.broadcast(n_row))
        .select("p", F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("k"))
    )
    coarse = (
        c.groupBy(F.expr("cents DIV 100").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("bn"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    coarse_cum = coarse.select(
        "bucket",
        "bn",
        (F.sum("bn").over(wcum) - F.col("bn")).alias("below"),
    )
    # target bucket per rank: the first bucket whose cumulative reaches k
    target = (
        F.broadcast(ranks)
        .join(coarse_cum, (F.col("below") < F.col("k")) & (F.col("below") + F.col("bn") >= F.col("k")))
        .select("p", "k", "bucket", "below")
    )
    # phase 2: exact cents inside the (three) located buckets only
    fine = c.join(
        F.broadcast(target.select(F.col("bucket").alias("tb")).distinct()),
        F.expr("cents DIV 100") == F.col("tb"),
    ).groupBy("tb", "cents").agg(F.count(F.lit(1)).alias("cn"))
    wfine = Window.partitionBy("tb").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fine_cum = fine.select(
        "tb", "cents", (F.sum("cn").over(wfine) - F.col("cn")).alias("fbelow"), "cn"
    )
    return (
        F.broadcast(target)
        .join(fine_cum, F.col("bucket") == F.col("tb"))
        .filter(
            (F.col("below") + F.col("fbelow") < F.col("k"))
            & (F.col("below") + F.col("fbelow") + F.col("cn") >= F.col("k"))
        )
        .select("p", "k", F.col("cents").alias("pct_cents"))
    )


@register(
    "map_column_functions",
    survey_ref="§2.4",
    oracle="""
SELECT event_id,
       't,uid,v' AS keys_sorted,
       upper(event_type) || '|' || CAST(user_id AS VARCHAR) || '|'
         || CAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS VARCHAR)
         AS vals_by_key,
       CAST(3 AS INTEGER) AS n_entries,
       CASE WHEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) % 2 = 0
            THEN 2 ELSE 3 END AS n_after_filter
FROM events
WHERE event_id % 11 = 0
""",
)
def q_map_column_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType scalar surface: ``create_map`` → ``transform_values`` →
    ``map_filter`` → ``map_keys``/``map_values``/``size`` — the
    semi-structured column family JSON/VARIANT queries don't touch.
    DuckDB's MAP semantics differ enough (ordering, NULL handling)
    that the oracle computes the SAME RESULTS from first principles
    on the fixed key set, so the gate checks Spark's map algebra
    against ground truth rather than engine-vs-engine map quirks.
    Everything is a pure projection — codegen'd, row-local,
    shuffle-free; map entries of a bounded key set cost the same as
    the underlying struct at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    m = F.create_map(
        F.lit("t"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
        F.lit("v"), cents.cast("string"),
    )
    upped = F.transform_values(m, lambda k, v: F.upper(v))
    # drop the 'v' entry when its cents value is even
    filtered = F.map_filter(
        upped, lambda k, v: (k != F.lit("v")) | (cents % 2 != 0)
    )
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.concat_ws(
            "|",
            F.element_at(upped, "t"),
            F.element_at(upped, "uid"),
            F.element_at(upped, "v"),
        ).alias("vals_by_key"),
        F.size(m).alias("n_entries"),
        F.size(filtered).alias("n_after_filter"),
    )


@register(
    "union_schema_evolution",
    survey_ref="§2.10,§2.2",
    oracle="""
WITH unioned AS (
  SELECT doc_id, lang, NULL::BIGINT AS n_chars, NULL::VARCHAR AS source
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL BY NAME
  SELECT doc_id, n_chars, source
  FROM documents WHERE doc_id % 2 = 1
)
SELECT COALESCE(lang, '<missing>') AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
       CAST(COUNT(source) AS BIGINT) AS n_with_source,
       CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS total_chars
FROM unioned GROUP BY 1 ORDER BY 1
""",
)
def q_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two snapshot generations with different
    column sets merge by NAME with nulls for the missing columns
    (``unionByName(allowMissingColumns=True)`` ↔ DuckDB ``UNION ALL BY
    NAME``) — the read-side half of lakehouse schema evolution, where
    old files lack newly added columns. Positional UNION would
    silently misalign; by-name union is the only correct merge under
    column adds/drops/reorders. Pure union + aggregate: no shuffle
    until the final groupBy, and COUNT(col) vs COUNT(*) exposes
    exactly which generation carried which column."""
    docs = load_table(spark, sf_dir, "documents")
    gen_old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    gen_new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "n_chars", "source"
    )
    unioned = gen_old.unionByName(gen_new, allowMissingColumns=True)
    return (
        unioned.groupBy(F.coalesce("lang", F.lit("<missing>")).alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_chars").alias("n_with_chars"),
            F.count("source").alias("n_with_source"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "sql_named_parameters",
    survey_ref="§2.4,§2.6",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(FLOOR(SUM(o_totalprice) * 100 + 0.5) AS BIGINT) AS total_cents
FROM orders
WHERE o_totalprice > 100000.0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_sql_named_parameters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+/4 surface): named parameter
    markers (``:minp``) bind VALUES without string interpolation — the
    injection-safe templating path — and the ``IDENTIFIER()`` clause
    binds the TABLE NAME from a parameter, which plain markers cannot
    (identifiers aren't values). Catalyst sees fully-bound literals
    after parse, so constant folding / pushdown behave exactly as in
    the literal query — parameterization is free at plan time. The
    float sum is pinned to integer cents before hashing."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_param_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(FLOOR(SUM(o_totalprice) * 100 + 0.5) AS BIGINT) AS total_cents
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :minp
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"tbl": "orders_param_v", "minp": 100000.0},
    )


@register(
    "stat_crosstab_contingency",
    survey_ref="§2.6",
    oracle="""
SELECT event_type AS event_type_bucket,
       CAST(COUNT(*) FILTER (WHERE user_id % 5 = 0) AS BIGINT) AS "0",
       CAST(COUNT(*) FILTER (WHERE user_id % 5 = 1) AS BIGINT) AS "1",
       CAST(COUNT(*) FILTER (WHERE user_id % 5 = 2) AS BIGINT) AS "2",
       CAST(COUNT(*) FILTER (WHERE user_id % 5 = 3) AS BIGINT) AS "3",
       CAST(COUNT(*) FILTER (WHERE user_id % 5 = 4) AS BIGINT) AS "4",
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q_stat_crosstab_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.stat.crosstab`` — the stock contingency-table
    estimator (pairwise frequency of two categorical columns), gated
    against filtered conditional counts. Under the hood it is a single
    groupBy on the pair followed by a driver-side pivot over the
    DISTINCT column-2 values — fine when card(col2) is bounded (here
    5 buckets), a deliberate misuse when col2 is high-cardinality;
    `pivot_linestatus` shows the explicit-values pivot that never
    collects the domain. Column order is pinned by sorting."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bucket", F.col("user_id") % 5
    )
    ct = ev.stat.crosstab("event_type", "bucket")
    value_cols = sorted(c for c in ct.columns if c != "event_type_bucket")
    return ct.select("event_type_bucket", *value_cols).orderBy(
        "event_type_bucket"
    )


@register(
    "approx_quantile_error_audit",
    survey_ref="§2.6",
    oracle="""
SELECT l_returnflag, p.p AS p,
       ROUND(CASE p.p WHEN 0.25 THEN quantile_cont(l_quantity, 0.25)
                      WHEN 0.5  THEN quantile_cont(l_quantity, 0.5)
                      ELSE quantile_cont(l_quantity, 0.75) END, 6) AS exact_q,
       TRUE AS rank_bound_ok
FROM lineitem, (SELECT unnest([0.25, 0.5, 0.75]) AS p) p
GROUP BY l_returnflag, p.p
ORDER BY l_returnflag, p
""",
)
def q_approx_quantile_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certifies the sketch the 100 TB path actually uses:
    ``percentile_approx(col, p, accuracy)`` promises a returned element
    whose RANK lies within ±n/accuracy of p·n (Greenwald-Khanna / KLL
    family — mergeable, O(accuracy) state per group, vs the exact
    ordered-set aggregate's O(n)). The audit recounts each approx
    value's true rank interval [cnt_lt+1, cnt_le] against the
    guaranteed window and emits the verdict alongside the EXACT
    interpolated quantiles, so the oracle gate pins both the exact
    values (cross-engine) and the sketch's error contract
    (Spark-side, asserted TRUE). Two aggregations + one broadcast of
    a 12-row relation — the recount pattern of
    `heavy_hitters_exact_recount` applied to rank space."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    acc = 100
    g = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", probs, F.lit(acc)).alias("av"),
        F.percentile("l_quantity", probs).alias("ev"),
        F.count(F.lit(1)).alias("n"),
    )
    long = g.select(
        "l_returnflag",
        "n",
        F.posexplode(F.arrays_zip("av", "ev")),
    ).select(
        "l_returnflag",
        "n",
        ((F.col("pos") + 1) * F.lit(0.25)).alias("p"),
        F.col("col.av").alias("v"),
        F.col("col.ev").alias("ev"),
    )
    counts = (
        li.join(F.broadcast(long), "l_returnflag")
        .groupBy("l_returnflag", "p", "n", "v", "ev")
        .agg(
            F.sum(F.when(F.col("l_quantity") < F.col("v"), 1).otherwise(0)).alias("cnt_lt"),
            F.sum(F.when(F.col("l_quantity") <= F.col("v"), 1).otherwise(0)).alias("cnt_le"),
        )
    )
    eps = 1.0 / acc
    ok = (
        F.col("cnt_lt") <= F.ceil((F.col("p") + eps) * F.col("n"))
    ) & (F.col("cnt_le") >= F.floor((F.col("p") - eps) * F.col("n")))
    return counts.select(
        "l_returnflag",
        "p",
        F.round(F.col("ev"), 6).alias("exact_q"),
        ok.alias("rank_bound_ok"),
    ).orderBy("l_returnflag", "p")


@register(
    "grouped_percentile_report",
    survey_ref="§2.6,§2.8,§2.9",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events
),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY event_type),
ranks AS (
  SELECT n.event_type, p, n.n, CAST(CEIL(p * n.n) AS BIGINT) AS k
  FROM (SELECT unnest([0.5, 0.9, 0.99]) AS p), n
),
ordered AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn
  FROM c
)
SELECT r.event_type, r.p, r.n, o.cents AS pct_cents
FROM ranks r JOIN ordered o ON o.event_type = r.event_type AND o.rn = r.k
ORDER BY r.event_type, r.p
""",
)
def q_grouped_percentile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact percentiles (the P50/P90/P99-by-category
    latency report) via the same two-phase order-statistic locate as
    ``two_phase_exact_percentile``, generalized to grouped form —
    because the naive ``row_number() OVER (PARTITION BY type)`` puts
    1/|groups| of the fact through each reducer, exactly the
    few-key-window shape the corpus-wide plan audit bans:

    phase 1 aggregates (type, cent-range) counts — bounded keys; a
    per-type cumulative over that tiny relation locates each rank's
    range; phase 2 rescans only rows in located (type, range) pairs
    (keyed semi-join), and a bounded per-(type, range) window pins the
    exact value.  The oracle runs the naive partitioned row_number, so
    the gate proves the decomposition reproduces every group's order
    statistics."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents")
    )
    n_row = c.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ranks = (
        spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "p double")
        .crossJoin(F.broadcast(n_row))
        .select(
            "event_type", "p", "n", F.ceil(F.col("p") * F.col("n")).cast("bigint").alias("k")
        )
    )
    coarse = c.groupBy("event_type", F.expr("cents DIV 100").alias("bucket")).agg(
        F.count(F.lit(1)).alias("bn")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    coarse_cum = coarse.select(
        "event_type",
        "bucket",
        "bn",
        (F.sum("bn").over(wcum) - F.col("bn")).alias("below"),
    )
    target = (
        F.broadcast(ranks)
        .join(
            coarse_cum,
            ["event_type"],
        )
        .filter((F.col("below") < F.col("k")) & (F.col("below") + F.col("bn") >= F.col("k")))
        .select("event_type", "p", "n", "k", "bucket", "below")
    )
    tsel = target.select(
        F.col("event_type").alias("et"), F.col("bucket").alias("tb")
    ).distinct()
    fine = c.join(
        F.broadcast(tsel),
        (F.col("event_type") == F.col("et")) & (F.expr("cents DIV 100") == F.col("tb")),
    ).select("event_type", F.col("tb").alias("bucket"), "cents")
    wb = Window.partitionBy("event_type", "bucket").orderBy("cents")
    fine_rn = fine.select(
        "event_type", "bucket", "cents", F.row_number().over(wb).alias("rn_in_bucket")
    )
    return (
        target.join(fine_rn, ["event_type", "bucket"])
        .filter(F.col("below") + F.col("rn_in_bucket") == F.col("k"))
        .select("event_type", "p", "n", F.col("cents").alias("pct_cents"))
        .orderBy("event_type", "p")
    )


@register(
    "trimmed_mean_robust",
    survey_ref="§2.6,§2.8,A4",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events
),
ordered AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(n) // 10 AS BIGINT) AS k_trim,
       CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN cents ELSE 0 END) AS BIGINT)
         AS trimmed_cents,
       ROUND(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10 THEN cents ELSE 0 END) * 1.0
             / ((MAX(n) - 2 * (MAX(n) // 10)) * 100), 6) AS trimmed_mean
FROM ordered
GROUP BY event_type
ORDER BY event_type
""",
)
def q_trimmed_mean_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per group (the robust location estimator that
    survives the outliers ``mad_outlier_events`` detects): drop the
    lowest and highest n/10 observations by rank and average the rest
    — computed WITHOUT the per-group fact-scale row_number the oracle
    uses.

    Decomposition (same two-phase locate discipline as
    ``grouped_percentile_report``): a (group, cent-range) histogram
    with per-group prefix sums classifies every range as fully-inside
    the kept rank interval (its SUM(cents) — carried as a mergeable
    partial aggregate — is taken wholesale), fully-outside (dropped),
    or boundary (at most two per group); only boundary ranges are
    rescanned and ranked in bounded windows. All sums/counts are exact
    BIGINT cents; one division per group at the end."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents")
    )
    coarse = c.groupBy("event_type", F.expr("cents DIV 100").alias("bucket")).agg(
        F.count(F.lit(1)).alias("bn"), F.sum("cents").alias("bsum")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = coarse.select(
        "event_type",
        "bucket",
        "bn",
        "bsum",
        (F.sum("bn").over(wcum) - F.col("bn")).alias("below"),
        F.sum("bn").over(
            Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    k = F.expr("n DIV 10")
    lo = k + 1          # first kept rank
    hi = F.col("n") - k  # last kept rank
    first_rank = F.col("below") + 1
    last_rank = F.col("below") + F.col("bn")
    hist = hist.withColumn("lo", lo).withColumn("hi", hi)
    inside = hist.filter((first_rank >= F.col("lo")) & (last_rank <= F.col("hi")))
    boundary = hist.filter(
        (first_rank <= F.col("hi"))
        & (last_rank >= F.col("lo"))
        & ((first_rank < F.col("lo")) | (last_rank > F.col("hi")))
    )
    inside_sum = inside.groupBy("event_type").agg(
        F.sum("bsum").alias("in_cents"), F.max("n").alias("n1")
    )
    bsel = boundary.select(
        F.col("event_type").alias("et"),
        F.col("bucket").alias("tb"),
        F.col("below").alias("bbelow"),
        F.col("lo").alias("blo"),
        F.col("hi").alias("bhi"),
        F.col("n").alias("n2"),
    )
    fine = c.join(
        F.broadcast(bsel),
        (F.col("event_type") == F.col("et")) & (F.expr("cents DIV 100") == F.col("tb")),
    )
    wb = Window.partitionBy("event_type", "tb").orderBy("cents")
    fine_ranked = fine.withColumn("grank", F.col("bbelow") + F.row_number().over(wb))
    boundary_sum = (
        fine_ranked.filter((F.col("grank") >= F.col("blo")) & (F.col("grank") <= F.col("bhi")))
        .groupBy("event_type")
        .agg(F.sum("cents").alias("b_cents"), F.max("n2").alias("n2"))
    )
    merged = (
        inside_sum.join(boundary_sum, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce(F.col("n1"), F.col("n2")).alias("n"),
            (F.coalesce(F.col("in_cents"), F.lit(0)) + F.coalesce(F.col("b_cents"), F.lit(0))).alias(
                "trimmed_cents"
            ),
        )
    )
    kept = F.col("n") - 2 * F.expr("n DIV 10")
    return merged.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.expr("n DIV 10").cast("long").alias("k_trim"),
        F.col("trimmed_cents").cast("long").alias("trimmed_cents"),
        F.round(F.col("trimmed_cents") * 1.0 / (kept * 100), 6).alias("trimmed_mean"),
    ).orderBy("event_type")


@register(
    "incremental_join_view_delta",
    survey_ref="§2.6,§2.7",
    oracle="""
WITH delta_orders AS (
  SELECT * FROM orders WHERE o_orderkey % 100 = 0
),
view_delta AS (
  SELECT o.o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(l.l_quantity) AS BIGINT) AS sum_qty
  FROM delta_orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderpriority
)
SELECT o_orderpriority, n_lines, sum_qty
FROM view_delta
ORDER BY o_orderpriority
""",
)
def q_incremental_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the delta rule
    ΔV = ΔR ⋈ S): given a batch of changed orders (the deterministic
    delta o_orderkey % 100 == 0), compute the view's delta — the
    per-priority line counts and quantity sums those orders contribute
    — WITHOUT recomputing the full orders⋈lineitem view, the
    complement of ``incremental_agg_maintenance`` (which maintains
    aggregate views) and ``cdc_merge_apply`` (which maintains the base
    table).

    Scale shape: the delta relation is small by construction (that is
    the IVM premise), so the plan is a broadcast/semi-filtered probe
    of lineitem keyed on l_orderkey + one bounded-key aggregate —
    lineitem is scanned once, never joined full-vs-full. Counts and
    integer quantity sums are exact BIGINTs (mergeable partials, so
    the delta can be APPLIED to view state by addition)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    delta = o.filter(F.col("o_orderkey") % 100 == 0).select("o_orderkey", "o_orderpriority")
    return (
        li.join(F.broadcast(delta), li["l_orderkey"] == delta["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "decimal_money_audit",
    survey_ref="§2.4,§2.6,F6",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,2)))
            AS DECIMAL(38,2)) AS VARCHAR) AS sum_price_exact,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,2))
                * CAST(CAST(1.0 - l_discount AS DECIMAL(18,4)) AS DECIMAL(38,4)))
            AS DECIMAL(38,4)) AS VARCHAR) AS revenue_exact
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_decimal_money_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL money arithmetic (the financial-grade alternative
    to float sums): extended price and discounted revenue accumulated
    as DECIMAL(38) — associative EXACT addition, so the result is
    independent of partitioning by construction; emitted as exact
    decimal STRINGS so the differential harness compares digits, not
    a lossy float re-parse (no fixed-point
    encoding tricks needed; this is the engine's own exact numeric
    tower, the same semantics a ledger or billing pipeline requires).

    Scale shape: one bounded-key hash aggregate; DECIMAL partials are
    mergeable 128-bit integers under the hood — map-side combine works
    exactly as for BIGINT. The deliberate contrast is with the float
    SUM queries (e.g. q1's ROUND-guarded doubles): DECIMAL buys
    bit-determinism at ~2x the aggregation CPU."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)").cast("decimal(38,2)")
    disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)").cast("decimal(38,4)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(price).cast("decimal(38,2)").cast("string").alias("sum_price_exact"),
            F.sum(price * disc).cast("decimal(38,4)").cast("string").alias("revenue_exact"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "write_conflict_detection",
    survey_ref="§2.7,§2.10",
    oracle="""
WITH txn_a AS (
  SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderkey % 100 = 0
),
txn_b AS (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 70 = 0
)
SELECT CAST((SELECT COUNT(*) FROM txn_a) AS BIGINT) AS n_txn_a,
       CAST((SELECT COUNT(*) FROM txn_b) AS BIGINT) AS n_txn_b,
       CAST(COUNT(*) AS BIGINT) AS n_conflicts,
       CAST(MIN(a.o_orderkey) AS BIGINT) AS first_conflict_key
FROM txn_a a JOIN txn_b b ON a.o_orderkey = b.o_orderkey
""",
)
def q_write_conflict_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency write-write conflict detection (the
    lakehouse commit check behind Delta/Iceberg snapshot isolation):
    two concurrent transactions each stage an update batch (the
    deterministic key sets o_orderkey % 100 == 0 and % 70 == 0); the
    commit of the second must detect every key both batches touched
    and report the conflict set — the pre-commit validation
    ``cdc_merge_apply`` assumes has already passed.

    Scale shape: both change batches are small relative to the table
    (the OCC premise), so conflict detection is one key-equi-join of
    two filtered scans plus a 1-row rollup; at 100 TB the same check
    runs on the transactions' FILE-level key ranges first (zone-map
    pruning, cf. ``zone_map_skipping_stats``) before this exact
    row-level intersection."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 100 == 0).select("o_orderkey")
    b = o.filter(F.col("o_orderkey") % 70 == 0).select(F.col("o_orderkey").alias("bk"))
    na = a.agg(F.count(F.lit(1)).alias("n_txn_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_txn_b"))
    conf = a.join(b, a["o_orderkey"] == b["bk"]).agg(
        F.count(F.lit(1)).alias("n_conflicts"),
        F.min("o_orderkey").alias("first_conflict_key"),
    )
    return na.crossJoin(nb).crossJoin(conf)


@register(
    "robust_scaler_fit_apply",
    survey_ref="A1,A2,§2.6,§2.8",
    oracle="""
WITH c AS (
  SELECT event_id, event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
ordered AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM c
),
fit AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN cents END) AS q1,
         MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN cents END) AS med,
         MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN cents END) AS q3
  FROM ordered GROUP BY event_type
)
SELECT c.event_id, c.event_type, f.med, (f.q3 - f.q1) AS iqr,
       CAST(FLOOR(CAST(c.cents - f.med AS DOUBLE)
            / CAST(NULLIF(f.q3 - f.q1, 0) AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS scaled_micro
FROM c JOIN fit f USING (event_type)
WHERE c.event_id % 997 = 0
ORDER BY c.event_id
""",
)
def q_robust_scaler_fit_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustScaler fit + apply (the outlier-immune sibling of
    ``scaler_fit``'s min-max and the StandardScaler pair): center on
    the per-group MEDIAN, scale by the IQR — both located by the
    two-phase order-statistic decomposition (coarse (type, cent-range)
    histogram + bounded boundary rescan, exactly
    ``grouped_percentile_report``'s shape, never a fact-scale
    per-group row_number), then applied row-locally to a deterministic
    event sample.

    Scale shape: fit = two passes (histogram + boundary rescan) with
    bounded windows; apply = broadcast of the per-group (median, IQR)
    table onto the sampled scan. Scaled values are FLOOR(x·1e6+0.5)
    fixed point on explicitly-cast doubles."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    coarse = c.groupBy("event_type", F.expr("cents DIV 100").alias("bucket")).agg(
        F.count(F.lit(1)).alias("bn")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = coarse.select(
        "event_type",
        "bucket",
        "bn",
        (F.sum("bn").over(wcum) - F.col("bn")).alias("below"),
        F.sum("bn")
        .over(
            Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    ranks = hist.select(
        "event_type",
        "bucket",
        "below",
        F.explode(
            F.array(
                F.struct(F.lit(0.25).alias("p"), F.ceil(0.25 * F.col("n")).cast("bigint").alias("k")),
                F.struct(F.lit(0.50).alias("p"), F.ceil(0.50 * F.col("n")).cast("bigint").alias("k")),
                F.struct(F.lit(0.75).alias("p"), F.ceil(0.75 * F.col("n")).cast("bigint").alias("k")),
            )
        ).alias("t"),
        F.col("bn"),
    ).select("event_type", "bucket", "below", "bn", F.col("t.p").alias("p"), F.col("t.k").alias("k"))
    target = ranks.filter(
        (F.col("below") < F.col("k")) & (F.col("below") + F.col("bn") >= F.col("k"))
    ).select("event_type", "p", "k", "bucket", "below")
    tsel = target.select(
        F.col("event_type").alias("et"), F.col("bucket").alias("tb")
    ).distinct()
    fine = c.join(
        F.broadcast(tsel),
        (F.col("event_type") == F.col("et")) & (F.expr("cents DIV 100") == F.col("tb")),
    ).select("event_type", F.col("tb").alias("bucket"), "cents")
    wb = Window.partitionBy("event_type", "bucket").orderBy("cents")
    fine_rn = fine.select(
        "event_type", "bucket", "cents", F.row_number().over(wb).alias("rib")
    )
    located = (
        target.join(fine_rn, ["event_type", "bucket"])
        .filter(F.col("below") + F.col("rib") == F.col("k"))
        .select("event_type", "p", "cents")
    )
    fit = located.groupBy("event_type").agg(
        F.max(F.when(F.col("p") == 0.25, F.col("cents"))).alias("q1"),
        F.max(F.when(F.col("p") == 0.50, F.col("cents"))).alias("med"),
        F.max(F.when(F.col("p") == 0.75, F.col("cents"))).alias("q3"),
    )
    sample = c.filter(F.col("event_id") % 997 == 0)
    return (
        sample.join(F.broadcast(fit), "event_type")
        .select(
            "event_id",
            "event_type",
            "med",
            (F.col("q3") - F.col("q1")).alias("iqr"),
            # IQR = 0 (constant middle 50%) → NULL scaled value, never
            # an inf/NaN that would abort the long cast under ANSI mode.
            F.floor(
                (F.col("cents") - F.col("med")).cast("double")
                / F.nullif(F.col("q3") - F.col("q1"), F.lit(0)).cast("double")
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("scaled_micro"),
        )
        .orderBy("event_id")
    )


@register(
    "fuzzy_blocked_linkage",
    survey_ref="§2.7,M5:dedup",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_nationkey AS nation, split_part(c_name, '#', 2) AS suf
  FROM customer
),
s AS (
  SELECT s_suppkey, s_nationkey AS nation, split_part(s_name, '#', 2) AS suf
  FROM supplier
),
cand AS (
  SELECT s_suppkey, c_custkey, s.nation,
         s.suf AS s_suf, c.suf AS c_suf
  FROM s JOIN c USING (nation)
),
verified AS (
  SELECT s_suppkey, c_custkey, nation,
         (CASE WHEN substring(s_suf,1,1) != substring(c_suf,1,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,2,1) != substring(c_suf,2,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,3,1) != substring(c_suf,3,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,4,1) != substring(c_suf,4,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,5,1) != substring(c_suf,5,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,6,1) != substring(c_suf,6,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,7,1) != substring(c_suf,7,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,8,1) != substring(c_suf,8,1) THEN 1 ELSE 0 END
        + CASE WHEN substring(s_suf,9,1) != substring(c_suf,9,1) THEN 1 ELSE 0 END)
           AS dist
  FROM cand
),
ranked AS (
  SELECT s_suppkey, c_custkey, nation, dist,
         ROW_NUMBER() OVER (PARTITION BY s_suppkey
                            ORDER BY dist, c_custkey) AS rk
  FROM verified WHERE dist <= 2
)
SELECT s_suppkey,
       c_custkey AS matched_custkey,
       CAST(nation AS BIGINT) AS nation,
       CAST(dist AS BIGINT) AS dist
FROM ranked WHERE rk = 1
""",
)
def q_fuzzy_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage with WILDCARD-NEIGHBORHOOD blocking: match each
    supplier to its closest customer by substitution distance <= 2
    over the fixed-width 9-digit name suffix, inside the nation. Each
    side emits one block key per 2-position mask — the suffix with
    positions (i, j) replaced by '*', all C(9,2)=36 masks — and a pair
    within 2 substitutions MUST collide on the mask covering its
    differing positions (dist-1 pairs collide on 8 masks, dist-0 on
    all 36): recall is 100% by construction, and only candidates pay
    the exact 9-position distance verification + per-supplier top-1
    window.

    Why not classic PassJoin segment blocking: a pair within 2
    substitutions also agrees on one of three contiguous 3-char
    segments, but on zero-padded identifiers the LEADING segment is
    the constant '000' for every row, so that block key degenerates to
    nation-only and the candidate set goes quadratic — the 100x probe
    measured 32x wall for 10x data before this rewrite. The wildcard
    key keeps the 7 unmasked characters in the join key, so low-
    entropy positions only ever make the key MORE selective, never
    less — block sizes are bounded by near-match density, not by
    value skew (SCALE.md round-9 close).

    Spark side keeps everything in codegen (mask construction and the
    9 substring-equality verification terms — no UDF); the DuckDB
    oracle states the SEMANTICS directly (nation join + exact
    distance), so the blocking rewrite is hash-checked against an
    implementation-independent ground truth."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        F.substring_index("c_name", "#", -1).alias("c_suf"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nation"),
        F.substring_index("s_name", "#", -1).alias("s_suf"),
    )

    masks = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for i in range(1, 10)
            for j in range(i + 1, 10)
        ]
    )

    def blocks(df: DataFrame, suf: str) -> DataFrame:
        out = df.select("*", F.explode(masks).alias("m")).select(
            "*", F.col("m.i").alias("i"), F.col("m.j").alias("j")
        )
        return out.withColumn(
            "mask_val",
            F.expr(
                f"concat(substring({suf}, 1, i - 1), '*',"
                f" substring({suf}, i + 1, j - i - 1), '*',"
                f" substring({suf}, j + 1, 9 - j))"
            ),
        ).drop("m")

    cand = blocks(s, "s_suf").join(
        blocks(c, "c_suf"), ["nation", "i", "j", "mask_val"]
    ).select("s_suppkey", "c_custkey", "nation", "s_suf", "c_suf")
    dist = sum(
        F.when(
            F.expr(f"substring(s_suf, {i}, 1)") != F.expr(f"substring(c_suf, {i}, 1)"),
            1,
        ).otherwise(0)
    for i in range(1, 10)
    )
    verified = cand.withColumn("dist", dist).filter(F.col("dist") <= 2)
    # top-1 per supplier as a map-side-combinable MIN over
    # (dist, custkey) structs — NOT a distinct + row_number window:
    # with dense id spaces the candidate set is match-density-bounded
    # (hundreds of true near-matches per entity), and a partial agg
    # reduces each partition to one row per supplier before the
    # exchange, where a window would shuffle and sort every candidate.
    # Duplicate candidate rows (a pair colliding on several masks) are
    # identical tuples, so the MIN is unaffected — the distinct that
    # would dedup them is pure overhead. Tie-break matches the
    # oracle's ORDER BY dist, c_custkey (struct compare is
    # lexicographic; c_custkey determines nation).
    best = verified.groupBy("s_suppkey").agg(
        F.min(F.struct("dist", "c_custkey", "nation")).alias("b")
    )
    return best.select(
        "s_suppkey",
        F.col("b.c_custkey").alias("matched_custkey"),
        F.col("b.nation").cast("long").alias("nation"),
        F.col("b.dist").cast("long").alias("dist"),
    )


@register(
    "approx_top_k_sketch",
    survey_ref="§2.6,M5:text",
    oracle="""
SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1 ORDER BY n DESC, item LIMIT 3
""",
)
def q_approx_top_k_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4.1 built-in frequent-items sketch —
    one aggregation pass, mergeable partial sketches, bounded memory):
    the engine-native alternative to this corpus's hand-built
    heavy-hitter pipelines (``count_min_sketch_estimate``,
    ``heavy_hitters_exact_recount``). Run here in the sketch's EXACT
    regime: maxItemsTracked (default 10000) far exceeds the column's
    cardinality, so every item is tracked and counts are exact — which
    is what makes a DuckDB oracle possible (top-3 by exact count; the
    fixture has no count ties at any SF, so the selection is
    deterministic). At 100 TB cardinality >> tracked items and the
    counts become estimates — that regime has no exact twin by
    construction and is the documented boundary (the CMS query's
    recount pattern is the audit tool there). The sketch aggregate is
    map-side combinable: shuffle volume is one sketch per partition,
    never the event stream."""
    ev = load_table(spark, sf_dir, "events")
    topk = ev.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    return topk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"),
        F.col("e.count").cast("long").alias("n"),
    )


@register(
    "execute_immediate_dynsql",
    survey_ref="§2.4",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders WHERE o_totalprice >= 100000.0 GROUP BY 1
""",
)
def q_execute_immediate_dynsql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE … USING`` (Spark 4 dynamic SQL): a query
    TEXT assembled at runtime executes with positional parameter
    binding — the governed path for query-template catalogs and
    BI-tool passthrough, where string interpolation would be an
    injection hole and a plan-cache miss per literal. The parameter
    rides OUTSIDE the statement text (same family as
    ``sql_named_parameters``' :param binding), so one template text
    serves every threshold. The inner statement is ordinary
    declarative SQL — full Catalyst optimization applies (pushdown,
    partial agg); EXECUTE IMMEDIATE adds one parse indirection at the
    driver, nothing at executor scale. Revenue sums in INTEGER CENTS:
    the 100x probe showed a whole-table double SUM at ~7e11 magnitude
    (ULP ~1e-4) drifting a last cent between engines' summation
    orders — ROUND(…,2) is not a cross-engine contract there; the
    cents-sum is bit-exact at every scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_dynsql_src")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents "
        "FROM orders_dynsql_src WHERE o_totalprice >= ? GROUP BY 1' "
        "USING 100000.0"
    )
