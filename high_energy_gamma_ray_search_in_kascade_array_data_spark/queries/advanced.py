"""Advanced operator corpus: the pandas GROUPED_AGG UDAF seam, the
grouped-map applyInPandas seam, and IVF coarse assignment — each
oracle-checked."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import SHOWER_CTE, shower_frame
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, scratch_tag, spread_scan


@register(
    "pandas_udaf_median",
    survey_ref="§2.12",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT label, ROUND(MEDIAN(p), 6) AS median_p,
       ROUND(MEDIAN(lg_e), 6) AS median_lg_e
FROM shower GROUP BY label
""",
)
def q_pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate through the GROUPED_AGG pandas_udf seam
    (np.median — interpolated like SQL MEDIAN). The partial-agg
    shuffle still applies: only group columns move. This is the UDAF
    surface the reference has no analogue for (SURVEY §2.12 note)."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    df = shower_frame(spark, sf_dir)
    return df.groupBy("label").agg(
        F.round(median_udaf("p"), 6).alias("median_p"),
        F.round(median_udaf("lg_e"), 6).alias("median_lg_e"),
    )


@register(
    "apply_in_pandas_sessionize",
    survey_ref="§2.12,§2.8",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
  FROM ordered
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, session_id
""",
)
def q_apply_in_pandas_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued per-group transform through applyInPandas (grouped
    map): each user's events arrive as ONE pandas frame, sessionized
    imperatively (gap > 30 min), returning a different shape than the
    input — the UDTF-style seam for logic that doesn't decompose into
    window expressions. Shuffles once on the group key."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")

    def sessionize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        gap = pdf["ts"].diff().dt.total_seconds() > 1800
        session_id = gap.cumsum().astype("int64") + 1
        out = (
            pdf.assign(session_id=session_id)
            .groupby("session_id", as_index=False)
            .agg(user_id=("user_id", "first"), n_events=("ts", "size"))
        )
        return out[["user_id", "session_id", "n_events"]]

    return ev.groupBy("user_id").applyInPandas(
        sessionize, "user_id long, session_id long, n_events long"
    )


@register(
    "ivf_assign_cells",
    survey_ref="M5:similarity",
    oracle="""
WITH exploded AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label AS cell, list(c ORDER BY pos) AS cvec
  FROM (SELECT label, pos, AVG(x) AS c FROM exploded GROUP BY label, pos) t
  GROUP BY label
),
scored AS (
  SELECT e.vec_id, c.cell,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
           / (SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              * SQRT(list_sum(list_transform(c.cvec, v -> v * v)))) AS cos
  FROM embeddings e, cent c
),
best AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
  FROM scored
)
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_assigned
FROM best WHERE rn = 1 GROUP BY cell
""",
)
def q_ivf_assign_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (cells = per-label means here; k-means centroids slot in
    identically). The centroid table is tiny and broadcast; the argmin
    is a per-vector window over n_cells rows. At scale the assigned
    cell becomes the partition key ANN probes prune on."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    exploded = e.select("label", F.posexplode(as_double).alias("pos", "x"))
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cvec")
        )
        .select(F.col("label").alias("cell"), "cvec")
    )
    dot = F.aggregate(
        F.zip_with(as_double, F.col("cvec"), lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    n_e = F.sqrt(F.aggregate(F.transform(as_double, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    n_c = F.sqrt(F.aggregate(F.transform(F.col("cvec"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cell", (dot / (n_e * n_c)).alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy("cell").agg(F.count(F.lit(1)).alias("n_assigned"))


@register(
    "ivf_probe_topk",
    survey_ref="M5:similarity",
    oracle="""
WITH exploded AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label AS cell, list(c ORDER BY pos) AS cvec
  FROM (SELECT label, pos, AVG(x) AS c FROM exploded GROUP BY label, pos) t
  GROUP BY label
),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cellscore AS (
  SELECT c.cell,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(q.qe[i] AS DOUBLE) * c.cvec[i]))
           / (SQRT(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              * SQRT(list_sum(list_transform(c.cvec, v -> v * v)))) AS cos
  FROM cent c, qv q
),
probed AS (SELECT cell FROM cellscore ORDER BY cos DESC, cell LIMIT 2),
scored AS (
  SELECT e.vec_id, c.cell,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
           / (SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              * SQRT(list_sum(list_transform(c.cvec, v -> v * v)))) AS cos
  FROM embeddings e, cent c
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
    FROM scored) b
  WHERE rn = 1
),
exact AS (
  SELECT e.vec_id, a.cell,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
           / (SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              * SQRT(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cosine
  FROM embeddings e
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN probed p ON p.cell = a.cell, qv q
  WHERE e.vec_id <> 0
)
SELECT vec_id, cell, ROUND(cosine, 6) AS cosine
FROM exact ORDER BY cosine DESC, vec_id LIMIT 10
""",
)
def q_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN search: score the query against the (tiny,
    broadcast) centroid table, probe the nprobe=2 nearest cells, and
    run exact cosine only over vectors assigned to probed cells —
    the scale path where the exact scan shrinks from N to
    N·nprobe/n_cells. Cell assignment reuses the ivf_assign_cells
    argmin; at 100 TB the assignment is precomputed and the table is
    partitioned by cell, so probing = partition pruning."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    exploded = e.select("label", F.posexplode(as_double).alias("pos", "x"))
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cvec")
        )
        .select(F.col("label").alias("cell"), "cvec")
    )

    def _cos(vec, cvec):
        dot = F.aggregate(
            F.zip_with(vec, cvec, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        nv = F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
        nc = F.sqrt(F.aggregate(F.transform(cvec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
        return dot / (nv * nc)

    qv = e.filter(F.col("vec_id") == 0).select(
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("qe")
    )
    probed = (
        cent.join(F.broadcast(qv))
        .select("cell", _cos(F.col("qe"), F.col("cvec")).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("cell"))
        .limit(2)
        .select("cell")
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cell", _cos(as_double, F.col("cvec")).alias("cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).select("vec_id", "cell")
    )
    cand = assigned.join(F.broadcast(probed), "cell").filter(F.col("vec_id") != 0)
    return (
        e.join(cand, "vec_id")
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            "cell",
            F.round(_cos(F.transform(F.col("embedding"), lambda x: x.cast("double")), F.col("qe")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "ivf_partitioned_index_probe",
    survey_ref="M5:similarity,S4",
    oracle="""
WITH exploded AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label AS cell, list(c ORDER BY pos) AS cvec
  FROM (SELECT label, pos, AVG(x) AS c FROM exploded GROUP BY label, pos) t
  GROUP BY label
),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cellscore AS (
  SELECT c.cell,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(q.qe[i] AS DOUBLE) * c.cvec[i]))
           / (SQRT(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              * SQRT(list_sum(list_transform(c.cvec, v -> v * v)))) AS cos
  FROM cent c, qv q
),
probed AS (SELECT cell FROM cellscore ORDER BY cos DESC, cell LIMIT 2),
scored AS (
  SELECT e.vec_id, c.cell,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))
           / (SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              * SQRT(list_sum(list_transform(c.cvec, v -> v * v)))) AS cos
  FROM embeddings e, cent c
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
    FROM scored) b
  WHERE rn = 1
),
exact AS (
  SELECT e.vec_id, a.cell,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
           / (SQRT(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
              * SQRT(list_sum(list_transform(q.qe, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cosine
  FROM embeddings e
  JOIN assigned a ON a.vec_id = e.vec_id
  JOIN probed p ON p.cell = a.cell, qv q
  WHERE e.vec_id <> 0
)
SELECT vec_id, cell, ROUND(cosine, 6) AS cosine
FROM exact ORDER BY cosine DESC, vec_id LIMIT 10
""",
)
def q_ivf_partitioned_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The *materialized* IVF index: vectors are written to parquet
    ``partitionBy(cell)`` (the index build), and a probe reads back
    only the nprobe=2 nearest cells' directories — the filter on the
    partition column becomes PartitionFilters in the scan, so a probe
    physically touches nprobe/n_cells of the stored bytes. This is the
    lifecycle form of ivf_probe_topk (same result, same oracle): build
    once, probe many, refresh on drift. The probed cell ids are
    collected to the driver first — index *metadata*, O(n_cells), the
    legitimate driver-side step that unlocks partition pruning."""
    import os
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH

    e = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def _cos(vec, cvec):
        dot = F.aggregate(
            F.zip_with(vec, cvec, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        nv = F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
        nc = F.sqrt(F.aggregate(F.transform(cvec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
        return dot / (nv * nc)

    exploded = e.select("label", F.posexplode(as_double).alias("pos", "x"))
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cvec")
        )
        .select(F.col("label").alias("cell"), "cvec")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cell", _cos(as_double, F.col("cvec")).alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cell")
    )

    # SF-tagged: index content depends on sf_dir, and concurrent
    # harnesses at different SFs must not rebuild each other's index
    # mid-read (same class as the NPZ scratch collision)
    index_path = os.path.join(SCRATCH, f"ivf_index_{scratch_tag(sf_dir)}")
    shutil.rmtree(index_path, ignore_errors=True)
    assigned.write.partitionBy("cell").parquet(index_path)

    qv = e.filter(F.col("vec_id") == 0).select(as_double.alias("qe"))
    probed_cells = [
        r["cell"]
        for r in cent.join(F.broadcast(qv))
        .select("cell", _cos(F.col("qe"), F.col("cvec")).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("cell"))
        .limit(2)
        .collect()
    ]

    index = spark.read.parquet(index_path).filter(
        F.col("cell").isin(probed_cells) & (F.col("vec_id") != 0)
    )
    return (
        index.join(F.broadcast(qv))
        .select(
            "vec_id",
            "cell",
            F.round(
                _cos(F.transform(F.col("embedding"), lambda x: x.cast("double")), F.col("qe")), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "pandas_udaf_rolling_median",
    survey_ref="§2.12,§2.8",
    oracle="""
SELECT event_id, user_id,
       ROUND(MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
         AS rolling_median
FROM events
WHERE user_id % 20 = 0
""",
)
def q_pandas_udaf_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom pandas UDAF evaluated over a WINDOW frame (not a
    groupBy): rolling 4-row median per user — the API that lets any
    vectorized Python aggregate slide along event time. The frame is
    row-bounded, so each evaluation sees ≤4 values; state never grows
    with history. event_id breaks timestamp ties so the frame content
    is deterministic under any partitioning."""
    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    @F.pandas_udf(DoubleType())
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(median_udaf("value").over(w), 6).alias("rolling_median"),
    )


@register(
    "apply_in_arrow_group_stats",
    survey_ref="§2.12,§2.6",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(MAX(user_id) AS BIGINT) AS max_user
FROM events GROUP BY event_type
""",
)
def q_apply_in_arrow_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregation through ``applyInArrow`` (Spark 4's
    Arrow-native sibling of applyInPandas): the kernel receives each
    group as raw ``pyarrow.Table`` batches — no pandas block
    conversion on either side, the lowest-overhead grouped-Python seam
    for kernels that are themselves Arrow/numpy-native.

    Scale shape: applyInArrow ships the WHOLE group to one Python
    worker, so grouping a 5-value key directly would serialize the
    corpus onto 5 tasks (and OOM them at 100 TB). The kernel therefore
    runs per (event_type, user_id mod 64) SUB-group — 64-way parallel,
    bounded state — and a relational second-level rollup merges the
    partials (sums of sums, max of maxes): the map-side-combine
    pattern, hand-built at the Python seam. Integer cent sums keep the
    result summation-order-proof; the oracle is the plain relational
    aggregate, so kernel + rollup must agree with the engine's own
    groupBy exactly."""
    import pyarrow as pa

    def stats(table: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        cents = pc.cast(
            pc.floor(pc.add(pc.multiply(table.column("value"), pa.scalar(100.0)), pa.scalar(0.5))),
            pa.int64(),
        )
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": [table.num_rows],
                "sum_cents": [pc.sum(cents).as_py()],
                "max_user": [pc.max(table.column("user_id")).as_py()],
            }
        )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "user_id", (F.col("user_id") % 64).alias("shard")
    )
    partials = ev.groupBy("event_type", "shard").applyInArrow(
        stats, "event_type string, n bigint, sum_cents bigint, max_user bigint"
    )
    return partials.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        F.max("max_user").cast("bigint").alias("max_user"),
    )


@register(
    "cogroup_asof_merge",
    survey_ref="§2.12,§2.7",
    oracle="""
WITH lim AS (
  SELECT user_id, ts,
         CAST(MAX(FLOOR(value * 100 + 0.5)) AS BIGINT) AS limit_cents
  FROM events WHERE event_type = 'signup'
  GROUP BY user_id, ts
),
ev AS (
  SELECT user_id, event_id, ts,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'signup'
)
SELECT ev.user_id, ev.event_id, ev.cents, lim.limit_cents,
       CASE WHEN lim.limit_cents IS NOT NULL AND ev.cents > lim.limit_cents
            THEN 1 ELSE 0 END AS over_limit
FROM ev ASOF LEFT JOIN lim
  ON ev.user_id = lim.user_id AND ev.ts >= lim.ts
""",
)
def q_cogroup_asof_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas`` (SURVEY §2.12's third grouped-map
    form): the event stream and a per-user limit-change stream are
    COGROUPED on user_id and merged as-of inside pandas —
    ``pd.merge_asof`` per group, each user's latest limit at-or-before
    the event's time, nulls before the first change.  DuckDB's native
    ASOF LEFT JOIN is the oracle, so the Python cogroup path is held
    to the engine-native join semantics exactly (ties are impossible:
    the right side is pre-aggregated unique per (user, ts)).

    Scale shape: cogroup shuffles BOTH sides once on the group key and
    hands each group to one task as two aligned pandas frames — the
    same co-partitioned layout a JVM sort-merge as-of join would use;
    Arrow moves each group in columnar batches.  The engine-native
    alternative (``asof_last_click``) stays the default — this query
    exists because a custom Python merge (model-feature alignment,
    custom tolerance logic) needs the cogroup seam."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev_all = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    lim = (
        ev_all.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max(cents).alias("limit_cents"))
    )
    ev = ev_all.filter(F.col("event_type") != "signup").select(
        "user_id", "event_id", "ts", cents.alias("cents")
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left.sort_values("ts", kind="mergesort")
        right = right.drop(columns=["user_id"]).sort_values("ts", kind="mergesort")
        out = pd.merge_asof(left, right, on="ts", direction="backward")
        out["limit_cents"] = out["limit_cents"].astype("Int64")
        out["over_limit"] = (
            out["limit_cents"].notna() & (out["cents"] > out["limit_cents"])
        ).astype("int32")
        return out[["user_id", "event_id", "cents", "limit_cents", "over_limit"]]

    return (
        ev.groupBy("user_id")
        .cogroup(lim.groupBy("user_id"))
        .applyInPandas(
            merge,
            "user_id bigint, event_id bigint, cents bigint, "
            "limit_cents bigint, over_limit int",
        )
    )
