"""Similarity-search corpus over ``embeddings`` (north-star M5).

Cosine math is done in float64 after explicit casts from the stored
float32 — per-element products of float32 values are exact in float64
(24+24 significand bits < 53) and both engines left-fold the 64-element
sums in the same order, so scores are bit-identical before rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, spread_scan


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _sq_norm(col):
    return F.aggregate(_as_double(col), F.lit(0.0), lambda acc, x: acc + x * x)


def _dot(a, b):
    return F.aggregate(F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


@register(
    "embedding_norms",
    survey_ref="M5:similarity",
    oracle="""
SELECT vec_id, label,
       ROUND(SQRT(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
""",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding via higher-order array fold — stays inside
    whole-stage codegen, no UDF, no shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", "label", F.round(F.sqrt(_sq_norm(F.col("embedding"))), 4).alias("l2_norm"))


@register(
    "cosine_topk",
    survey_ref="M5:similarity",
    oracle="""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id, e.label,
         list_sum(list_transform(range(1, 65),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))) AS dot,
         SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
         SQRT(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, ROUND(dot / (na * nq), 6) AS cosine
FROM pairs
ORDER BY cosine DESC, vec_id
LIMIT 10
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a query vector: broadcast the
    1-row query, fold the dot product JVM-side, TakeOrderedAndProject
    the top-k — the exact-scoring baseline ANN re-ranks against."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    pairs = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    cosine = F.round(
        _dot(F.col("embedding"), F.col("qe"))
        / (F.sqrt(_sq_norm(F.col("embedding"))) * F.sqrt(_sq_norm(F.col("qe")))),
        6,
    )
    return (
        pairs.select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "centroid_per_label",
    survey_ref="M5:similarity",
    oracle="""
SELECT label, CAST(pos AS INTEGER) AS pos,
       ROUND(AVG(x), 6) AS centroid_val,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT label,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
) t GROUP BY label, pos
""",
)
def q_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid (the reduce step of IVF coarse quantization /
    k-means): posexplode + hash aggregate on (label, dim) — one shuffle
    whose key count is n_labels × dim regardless of row count."""
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(_as_double(F.col("embedding"))).alias("pos0", "x")
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(F.round(F.avg("x"), 6).alias("centroid_val"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "lsh_bucket_histogram",
    survey_ref="M5:similarity",
    oracle="""
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
) t GROUP BY bucket
""",
)
def q_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection (SimHash-style) LSH bucketing on the
    first 4 dims: the partition-by-bucket step that makes ANN scale —
    candidates only compare within a bucket. Bucket occupancy histogram
    is the oracle-checkable part; the probe/near-dup joins are below."""
    e = load_table(spark, sf_dir, "embeddings")
    bucket = sum(
        F.when(F.element_at(F.col("embedding"), i + 1) >= 0, 1 << i).otherwise(0) for i in range(4)
    )
    return e.select(bucket.alias("bucket")).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


def _bucket(col_name: str) -> "F.Column":
    """4-bit sign-projection bucket of an embedding column."""
    return sum(
        F.when(F.element_at(F.col(col_name), i + 1) >= 0, 1 << i).otherwise(0) for i in range(4)
    )


_BUCKET_SQL = """(CASE WHEN {e}[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN {e}[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN {e}[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN {e}[4] >= 0 THEN 8 ELSE 0 END)"""

_DOT_SQL = "list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
_NORM_SQL = "SQRT(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@register(
    "ann_lsh_probe_topk",
    survey_ref="M5:similarity",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qe, {_BUCKET_SQL.format(e="embedding")} AS qb
  FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.label, e.embedding, q.qe
  FROM embeddings e, q
  WHERE e.vec_id <> 0 AND {_BUCKET_SQL.format(e="e.embedding")} = q.qb
)
SELECT vec_id, label,
       ROUND({_DOT_SQL.format(a="embedding", b="qe")}
             / ({_NORM_SQL.format(a="embedding")} * {_NORM_SQL.format(a="qe")}), 6) AS cosine
FROM cand
ORDER BY cosine DESC, vec_id
LIMIT 5
""",
)
def q_ann_lsh_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN query: probe only the query vector's LSH bucket, exact
    cosine re-rank inside it. At scale the bucket id is the shuffle /
    storage-partition key, so a probe touches 1/2^bits of the corpus —
    this is the IVF-style scale path next to cosine_topk's exact scan."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), _bucket("embedding").alias("qb")
    )
    cand = e.filter(F.col("vec_id") != 0).join(
        F.broadcast(q), _bucket("embedding") == F.col("qb")
    )
    cosine = F.round(
        _dot(F.col("embedding"), F.col("qe"))
        / (F.sqrt(_sq_norm(F.col("embedding"))) * F.sqrt(_sq_norm(F.col("qe")))),
        6,
    )
    return (
        cand.select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


@register(
    "ann_multiprobe_lsh_topk",
    survey_ref="M5:similarity",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qe, {_BUCKET_SQL.format(e="embedding")} AS qb
  FROM embeddings WHERE vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.label, e.embedding, q.qe
  FROM embeddings e, q
  WHERE e.vec_id <> 0
    AND {_BUCKET_SQL.format(e="e.embedding")}
        IN (q.qb, xor(q.qb, 1), xor(q.qb, 2), xor(q.qb, 4), xor(q.qb, 8))
)
SELECT vec_id, label,
       ROUND({_DOT_SQL.format(a="embedding", b="qe")}
             / ({_NORM_SQL.format(a="embedding")} * {_NORM_SQL.format(a="qe")}), 6) AS cosine
FROM cand
ORDER BY cosine DESC, vec_id
LIMIT 5
""",
)
def q_ann_multiprobe_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB'07): probe the query's sign
    bucket AND every bucket at Hamming distance 1 (one flipped
    hyperplane), then exact-rerank — the standard recall/cost knob: a
    near neighbor that lands just across one hyperplane is recovered
    for 5/16 of the corpus scanned instead of 1/16 (single-probe) or
    16/16 (brute force). The probe set is built by exploding the
    XOR-flipped bucket ids against the broadcast query row, so the
    probe stays an equi-join on the bucket key — same partition-pruning
    story as the single-probe query, wider candidate set."""
    e = load_table(spark, sf_dir, "embeddings")
    qb = F.col("qb")
    probes = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qe"), _bucket("embedding").alias("qb"))
        .select(
            "qe",
            F.explode(
                F.array(qb, *[qb.bitwiseXOR(F.lit(1 << i)) for i in range(4)])
            ).alias("pb"),
        )
    )
    cand = e.filter(F.col("vec_id") != 0).join(
        F.broadcast(probes), _bucket("embedding") == F.col("pb")
    )
    cosine = F.round(
        _dot(F.col("embedding"), F.col("qe"))
        / (F.sqrt(_sq_norm(F.col("embedding"))) * F.sqrt(_sq_norm(F.col("qe")))),
        6,
    )
    return (
        cand.select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


@register(
    "filtered_vector_search",
    survey_ref="M5:similarity,§2.7",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
eligible AS (
  SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200
),
cand AS (
  SELECT e.vec_id, e.label, e.embedding, q.qe
  FROM embeddings e JOIN eligible d ON e.vec_id = d.doc_id, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, label,
       ROUND({_DOT_SQL.format(a="embedding", b="qe")}
             / ({_NORM_SQL.format(a="embedding")} * {_NORM_SQL.format(a="qe")}), 6) AS cosine
FROM cand
ORDER BY cosine DESC, vec_id
LIMIT 5
""",
)
def q_filtered_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the pre- vs post-filter problem every
    vector store faces: top-k over only the vectors whose DOCUMENT
    passes a metadata predicate (lang + length here). Post-filtering a
    top-k can come up short when the filter is selective; this plans
    the PRE-filter form — the metadata predicate pushes into the
    documents scan, the surviving ids semi-join-reduce the vector side
    BEFORE any scoring, and the exact cosine + TakeOrderedAndProject
    run on the reduced set. At scale the id join is the cheap step
    (both sides bucketed by id) and scoring cost tracks the filter's
    selectivity, not corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    eligible = d.filter((F.col("lang") == "en") & (F.col("n_chars") >= 200)).select(
        F.col("doc_id").alias("vec_id")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .join(eligible, "vec_id", "semi")
        .crossJoin(F.broadcast(q))
    )
    cosine = F.round(
        _dot(F.col("embedding"), F.col("qe"))
        / (F.sqrt(_sq_norm(F.col("embedding"))) * F.sqrt(_sq_norm(F.col("qe")))),
        6,
    )
    return (
        cand.select("vec_id", "label", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


@register(
    "embedding_near_dup",
    survey_ref="M5:dedup,M5:similarity",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_BUCKET_SQL.format(e="embedding")} AS bucket
  FROM embeddings
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       ROUND({_DOT_SQL.format(a="x.embedding", b="y.embedding")}
             / ({_NORM_SQL.format(a="x.embedding")} * {_NORM_SQL.format(a="y.embedding")}), 6) AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE ROUND({_DOT_SQL.format(a="x.embedding", b="y.embedding")}
            / ({_NORM_SQL.format(a="x.embedding")} * {_NORM_SQL.format(a="y.embedding")}), 6) >= 0.4
""",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket equi-join
    (never the raw cross product) + exact cosine ≥ threshold verify (0.4, calibrated to the synthetic fixture's similarity range) — the
    embedding analogue of minhash_lsh_neardup."""
    e = load_table(spark, sf_dir, "embeddings")
    b = e.select("vec_id", "embedding", _bucket("embedding").alias("bucket"))
    x = b.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket")
    y = b.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket")
    pair = x.join(y, ["bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    cosine = F.round(
        _dot(F.col("ea"), F.col("eb"))
        / (F.sqrt(_sq_norm(F.col("ea"))) * F.sqrt(_sq_norm(F.col("eb")))),
        6,
    )
    return (
        pair.select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


@register(
    "embedding_near_dup_scaled",
    survey_ref="M5:dedup,M5:similarity",
    oracle=f"""
WITH p AS (
  SELECT LEAST(16, GREATEST(4,
           LENGTH(BIN(GREATEST(CAST(CEIL(COUNT(*) / 64.0) AS BIGINT) - 1, 1))))) AS nbits
  FROM embeddings
),
b AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(range(1, p.nbits + 1),
                  i -> CASE WHEN embedding[i] >= 0
                            THEN CAST(2 ** (i - 1) AS BIGINT) ELSE 0 END)) AS bucket
  FROM embeddings, p
)
SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       ROUND({_DOT_SQL.format(a="x.embedding", b="y.embedding")}
             / ({_NORM_SQL.format(a="x.embedding")} * {_NORM_SQL.format(a="y.embedding")}), 6) AS cosine
FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE ROUND({_DOT_SQL.format(a="x.embedding", b="y.embedding")}
            / ({_NORM_SQL.format(a="x.embedding")} * {_NORM_SQL.format(a="y.embedding")}), 6) >= 0.4
""",
)
def q_embedding_near_dup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_near_dup` with the LSH bit count derived from the
    corpus size instead of fixed at 4: nbits = the smallest k with
    2^k ≥ ceil(n/64) (target ~64 vectors per bucket), clamped to
    [4, 16]. With a FIXED bucket count, within-bucket candidate pairs
    grow quadratically as the corpus grows (the sf1.0 sweep measured
    exactly that: the fixed-bucket twin is its slowest entry at 10×);
    scaling the bits keeps expected pairs ≈ n·target/2 — linear — which
    is how a 100 TB deployment actually tunes sign-LSH. Both engines
    derive nbits from COUNT(*) with integer-only arithmetic
    (ceil-divide then bit-length) so no libm log2 ulp can diverge; the
    one-value count is control-plane, like an iterative trainer's
    epoch counter. Candidate generation stays a bucket equi-join —
    never all-pairs — and recall clamps to the fixed-bucket twin's at
    driver fixture sizes (n ≤ 1024 → nbits = 4, bit-identical output)."""
    raw = load_table(spark, sf_dir, "embeddings")
    # count the RAW scan: the one-value control-plane count must not
    # pay spread_scan's full-payload round-robin exchange (r11 ADVICE)
    n = raw.count()
    e = spread_scan(raw)
    nbits = min(16, max(4, (max((n + 63) // 64 - 1, 1)).bit_length()))
    bucket = sum(
        F.when(F.element_at(F.col("embedding"), i + 1) >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(nbits)
    )
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    x = b.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket")
    y = b.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket")
    pair = x.join(y, ["bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    cosine = F.round(
        _dot(F.col("ea"), F.col("eb"))
        / (F.sqrt(_sq_norm(F.col("ea"))) * F.sqrt(_sq_norm(F.col("eb")))),
        6,
    )
    return (
        pair.select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


@register(
    "ann_int8_quantized_topk",
    survey_ref="M5:similarity",
    oracle="""
WITH s AS (
  SELECT vec_id, label, embedding,
         GREATEST(list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))), 1e-30) AS m
  FROM embeddings
),
qv AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 127.0 / m + 0.5)) AS q
  FROM s
),
qq AS (SELECT q AS qe FROM qv WHERE vec_id = 0),
pairs AS (
  SELECT v.vec_id, v.label,
         list_sum(list_transform(range(1, 65), i -> v.q[i] * qq.qe[i])) AS dot,
         SQRT(list_sum(list_transform(v.q, x -> x * x))) AS na,
         SQRT(list_sum(list_transform(qq.qe, x -> x * x))) AS nq
  FROM qv v, qq
  WHERE v.vec_id <> 0
)
SELECT vec_id, label, ROUND(dot / (na * nq), 6) AS cosine_q
FROM pairs
ORDER BY cosine_q DESC, vec_id
LIMIT 10
""",
)
def q_ann_int8_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) cosine top-k: per-vector symmetric
    quantization q_i = floor(127·x_i/max|x| + 0.5), integer dot
    products, exact re-rankable scores. This is the memory-bound scale
    path — at 100 TB the quantized corpus is 4× smaller than float32
    (and its integer dots SIMD-vectorize), so 4× more vectors fit per
    executor before the scan spills; products ≤ 127²·64 stay exact in
    doubles, making the score deterministic across engines. The
    quantization scale is materialized as a column BEFORE the
    per-element lambda (an inline array_max would re-reduce the array
    per element — the expression-recompute trap)."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    m = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    quantized = e.select(
        "vec_id", "label", "embedding", m.alias("m")
    ).select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 127.0 / F.col("m") + 0.5),
        ).alias("q"),
    )
    qq = quantized.filter(F.col("vec_id") == 0).select(F.col("q").alias("qe"))
    pairs = quantized.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qq))
    dot = F.aggregate(
        F.zip_with(F.col("q"), F.col("qe"), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return (
        pairs.select(
            "vec_id",
            "label",
            F.round(dot / (norm(F.col("q")) * norm(F.col("qe"))), 6).alias("cosine_q"),
        )
        .orderBy(F.desc("cosine_q"), F.asc("vec_id"))
        .limit(10)
    )


def _rerank_oracle() -> str:
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import inference
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.ml import _mlp_state

    mlp = inference.mlp_score_sql(
        _mlp_state(),
        ("cosine", "(qdot / 1032256.0)", "(CAST(label AS DOUBLE) / 4.0)", "((vec_id % 16) / 16.0)"),
    )
    return f"""
WITH s AS (
  SELECT vec_id, label, embedding,
         GREATEST(list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))), 1e-30) AS m
  FROM embeddings
),
qv AS (
  SELECT vec_id, label, embedding,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT)) AS q
  FROM s
),
qq AS (SELECT q AS qe, embedding AS qemb FROM qv WHERE vec_id = 0),
stage1 AS (
  SELECT v.vec_id, v.label, v.embedding, qq.qemb,
         CAST(list_sum(list_transform(range(1, 65), i -> v.q[i] * qq.qe[i])) AS BIGINT) AS qdot
  FROM qv v, qq
  WHERE v.vec_id <> 0
  ORDER BY qdot DESC, v.vec_id
  LIMIT 20
),
stage2 AS (
  SELECT vec_id, label, qdot,
         ROUND(list_sum(list_transform(range(1, 65),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(qemb[i] AS DOUBLE)))
           / (SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * SQRT(list_sum(list_transform(qemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
           AS cosine
  FROM stage1
)
SELECT vec_id, label, qdot, cosine,
       ROUND({mlp}, 6) AS rerank_score
FROM stage2
ORDER BY rerank_score DESC, vec_id
LIMIT 5
"""


@register(
    "rerank_two_stage",
    survey_ref="M5:similarity,M1,§2.12",
    oracle=_rerank_oracle(),
)
def q_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — THE serving shape of RAG / semantic search
    at scale: a cheap integer-quantized scorer retrieves a shortlist,
    an expensive model reranks only the survivors. Stage 1 ranks by
    the raw int8 dot product (pure BIGINT arithmetic — shortlist
    membership can never flip on float dust) and keeps top-20
    (TakeOrdered, no global sort). Stage 2 computes full-precision
    cosine on 20 rows and scores a persisted MLP artifact
    (``mlp_head_rerank.npz``, the cross-encoder seam) through the
    Arrow pandas_udf; final top-5 orders by the ROUNDED score with
    vec_id tie-break. The DuckDB oracle replays both stages, unrolling
    the same MLP weights to SQL — the full retrieve→rerank pipeline is
    hash-checked end-to-end. At 100 TB stage 1 runs over the quantized
    (4× smaller) corpus with partition-local TakeOrdered; stage 2's
    cost is O(k), independent of corpus size."""
    import os

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import inference
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.ml import _mlp_state
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH

    os.makedirs(SCRATCH, exist_ok=True)
    artifact = os.path.join(SCRATCH, "mlp_head_rerank.npz")
    inference.save_model_artifact(artifact, _mlp_state())

    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    m = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    qv = e.select("vec_id", "label", "embedding", m.alias("m")).select(
        "vec_id",
        "label",
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * 127.0 / F.col("m") + 0.5).cast("bigint"),
        ).alias("q"),
    )
    qq = qv.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("qe"), F.col("embedding").alias("qemb")
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q"), F.col("qe"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    stage1 = (
        qv.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qq))
        .select("vec_id", "label", "embedding", "qemb", qdot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_id"))
        .limit(20)
    )
    cosine = F.round(
        _dot(F.col("embedding"), F.col("qemb"))
        / (F.sqrt(_sq_norm(F.col("embedding"))) * F.sqrt(_sq_norm(F.col("qemb")))),
        6,
    )
    stage2 = stage1.select("vec_id", "label", "qdot", cosine.alias("cosine"))
    feats = F.array(
        F.col("cosine"),
        F.col("qdot") / F.lit(1032256.0),  # 127*127*64: exact rational rescale
        F.col("label").cast("double") / F.lit(4.0),
        (F.col("vec_id") % 16) / F.lit(16.0),
    )
    score = inference.make_mlp_scorer_udf(artifact)
    return (
        stage2.select(
            "vec_id", "label", "qdot", "cosine", F.round(score(feats), 6).alias("rerank_score")
        )
        .orderBy(F.desc("rerank_score"), F.asc("vec_id"))
        .limit(5)
    )


# ---------------------------------------------------- product quantization
_PQ_SUB = 8  # 8 subspaces × 8 dims = 64
_PQ_K = 4  # centroids per subspace


def _pq_cent(s: int, c: int, d: int) -> float:
    """Deterministic dyadic codebook value (k/4, |v| ≤ 1)."""
    return ((s * 31 + c * 17 + d * 7) % 9 - 4) / 4.0


@register(
    "pq_adc_topk",
    survey_ref="M5:similarity",
    oracle=f"""
WITH qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sub AS (
  SELECT e.vec_id, e.label, s.s, c.c,
         list_sum(list_transform(
           list_transform(range(8),
             d -> FLOOR(CAST(e.embedding[s.s * 8 + d + 1] AS DOUBLE) * 64) / 64
                  - ((s.s * 31 + c.c * 17 + d * 7) % 9 - 4) / 4.0),
           v -> v * v)) AS dist
  FROM embeddings e, range({_PQ_SUB}) AS s(s), range({_PQ_K}) AS c(c)
  WHERE e.vec_id <> 0
),
codes AS (
  SELECT vec_id, label, s,
         (MIN(struct_pack(d := dist, c := c))).c AS code
  FROM sub GROUP BY 1, 2, 3
),
qdist AS (
  SELECT s.s, c.c,
         list_sum(list_transform(
           list_transform(range(8),
             d -> FLOOR(CAST(q.qe[s.s * 8 + d + 1] AS DOUBLE) * 64) / 64
                  - ((s.s * 31 + c.c * 17 + d * 7) % 9 - 4) / 4.0),
           v -> v * v)) AS dist
  FROM qv q, range({_PQ_SUB}) AS s(s), range({_PQ_K}) AS c(c)
)
SELECT k.vec_id, k.label, ROUND(SUM(q.dist), 6) AS adc_dist
FROM codes k JOIN qdist q ON q.s = k.s AND q.c = k.code
GROUP BY 1, 2
ORDER BY adc_dist, vec_id
LIMIT 10
""",
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC) — THE
    memory-compression path of billion-vector search (IVF-PQ): each
    64-dim vector collapses to 8 two-bit codes (one per 8-dim
    subspace, nearest of 4 deterministic dyadic centroids), and query
    distance is a table lookup — Σ over subspaces of the PRECOMPUTED
    query→centroid distance for the stored code. 32× smaller than
    float32 storage; the scan reads codes, never raw vectors.
    Everything is exact arithmetic (inputs floor-quantized to 2⁻⁶,
    centroids k/4 — squared distances stay within float64's exact
    range), so code assignment and ADC ranking are bit-identical
    cross-engine; argmin tie-breaks on centroid id via struct min.
    At 100 TB the codebook is a broadcast constant and assignment is
    map-only; only the final top-k reduces."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))

    # All expressions below are built as SQL STRINGS (one F.expr/
    # selectExpr round-trip each) rather than composed Column objects:
    # the 8 subspaces x 4 centroids x (slice + zip_with + aggregate)
    # tree costs hundreds of Py4J calls the Column way — ~2 s of
    # driver-side build per invocation, and the r10 concurrency probe
    # showed that driver-side build SERIALIZES across concurrent
    # streams (GIL + Py4J), making this query the worst contention
    # case (9.4x). String-built expressions parse JVM-side: build
    # dropped 2.05 s -> 0.36 s warm, identical analyzed plan, exact
    # same result hash.
    def sub_dist_sql(s: int, c: int) -> str:
        # slice + zip_with + left-fold keeps the expression tree ~4×
        # smaller than unrolling 8 quantize/subtract/square terms (the
        # 32 sub-distances otherwise cost several seconds of Janino
        # codegen on first execution); every value is exact, so the
        # fold order is irrelevant to the result
        cents = ",".join(f"{_pq_cent(s, c, d)!r}D" for d in range(8))
        return (
            f"aggregate(zip_with(slice(embedding, {s * 8 + 1}, 8), array({cents}),"
            f" (x, m) -> floor(cast(x as double) * 64) / 64 - m),"
            f" 0.0D, (acc, t) -> acc + t * t)"
        )

    # per-row code per subspace: argmin over centroids (struct min
    # orders by dist then centroid id — deterministic tie-break)
    code_exprs = []
    for s in range(_PQ_SUB):
        structs = ",".join(
            f"struct({sub_dist_sql(s, c)} as d, {c} as c)" for c in range(_PQ_K)
        )
        code_exprs.append(f"array_min(array({structs})).c as code_{s}")
    coded = e.filter(F.col("vec_id") != 0).selectExpr("vec_id", "label", *code_exprs)

    # The query→centroid distance table is a PLAN-TIME CONSTANT: the
    # query vector is one bounded row (the same control-plane license
    # as scaler params), so compute the 8×4 table driver-side with the
    # bit-identical arithmetic (floor(x·64)/64 − centroid, then the
    # in-order left fold of squares — all exact IEEE doubles) and fold
    # it into the plan as literals. The previous shape re-evaluated 32
    # slice/zip_with/aggregate expressions PER FACT ROW after a
    # broadcast crossJoin — row-invariant work that doubled the
    # per-row expression count and was the r7→r8 bench regression
    # (VERDICT r8 nit). ADC is now truly a table LOOKUP per row.
    import math

    qe = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]

    def py_sub_dist(s: int, c: int) -> float:
        acc = 0.0
        for d in range(8):
            t = math.floor(float(qe[s * 8 + d]) * 64) / 64 - _pq_cent(s, c, d)
            acc += t * t
        return acc

    adc = " + ".join(
        f"element_at(array({','.join(f'{py_sub_dist(s, c)!r}D' for c in range(_PQ_K))}),"
        f" cast(code_{s} as int) + 1)"
        for s in range(_PQ_SUB)
    )
    return (
        coded.selectExpr("vec_id", "label", f"round({adc}, 6) as adc_dist")
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "semdedup_cluster_prune",
    survey_ref="M5:similarity,M5:dedup,§2.6",
    oracle="""
WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT e.vec_id, c.cid,
         CAST(ROUND(
           list_sum(list_transform(range(1, 65),
                    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
           / (SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * SQRT(list_sum(list_transform(c.ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           * 1000000) AS BIGINT) AS icos
  FROM embeddings e, c
  WHERE e.vec_id >= 8
),
assigned AS (
  SELECT vec_id, MAX((icos + 1000000) * 8 + (7 - cid)) AS code
  FROM scored GROUP BY vec_id
),
decoded AS (
  SELECT vec_id,
         7 - (code % 8) AS cid,
         (code // 8) - 1000000 AS icos
  FROM assigned
),
agg AS (
  SELECT cid,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(CASE WHEN icos >= 250000 THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
         MAX(CASE WHEN icos >= 250000 THEN icos * 10000000000 - vec_id END) AS m
  FROM decoded GROUP BY cid
)
SELECT cid, n_members, n_core,
       CAST(GREATEST(n_core - 1, 0) AS BIGINT) AS n_pruned,
       ROUND((n_members - GREATEST(n_core - 1, 0)) * 1.0 / n_members, 6) AS kept_frac,
       COALESCE(((m + 9999999999) // 10000000000) * 10000000000 - m, -1) AS rep_vec
FROM agg
ORDER BY cid
""",
)
def q_semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning report (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest of K=8
    fixed centroids (the first 8 vectors — deterministic stand-in for
    a k-means fit), call the members with centroid-cosine >= 0.25 the
    cluster's semantic-duplicate core, keep one representative (the
    highest-cosine, lowest-vec_id member) and prune the rest. Emits
    the per-cluster prune accounting a curation pipeline reviews
    before dropping data.

    Scale shape: centroids are a broadcast 8-row relation, so scoring
    is a map-only nested-loop pass over the fact (no shuffle); the
    per-vector argmax and the per-cluster rollup are the only two
    exchanges, both hash aggregates (vec- then 8-key). No windows, no
    all-pairs — the O(n^2) pairwise step of naive SemDeDup is replaced
    by the centroid-proxy exactly as the paper's cluster-level variant
    does. Determinism: cosine is a fixed-order 64-element fold,
    rounded to 1e-6 ticks and integer-encoded; argmax/tie-breaks are
    pure BIGINT arithmetic ((icos,cid) and (icos,vec_id) packed codes),
    so both engines agree bit-for-bit."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    c = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cos = _dot(F.col("embedding"), F.col("ce")) / (
        F.sqrt(_sq_norm(F.col("embedding"))) * F.sqrt(_sq_norm(F.col("ce")))
    )
    scored = (
        e.filter(F.col("vec_id") >= 8)
        .crossJoin(F.broadcast(c))
        .select(
            "vec_id",
            "cid",
            F.round(cos * 1000000).cast("long").alias("icos"),
        )
    )
    assigned = scored.groupBy("vec_id").agg(
        F.max((F.col("icos") + 1000000) * 8 + (7 - F.col("cid"))).alias("code")
    )
    decoded = assigned.select(
        "vec_id",
        (7 - F.col("code") % 8).alias("cid"),
        (F.expr("code DIV 8") - 1000000).alias("icos"),
    )
    core = F.col("icos") >= 250000
    agg = decoded.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.when(core, 1).otherwise(0)).alias("n_core"),
        F.max(F.when(core, F.col("icos") * F.lit(10000000000) - F.col("vec_id"))).alias("m"),
    )
    pruned = F.greatest(F.col("n_core") - 1, F.lit(0))
    return agg.select(
        "cid",
        "n_members",
        F.col("n_core").cast("long").alias("n_core"),
        pruned.cast("long").alias("n_pruned"),
        F.round((F.col("n_members") - pruned) * 1.0 / F.col("n_members"), 6).alias("kept_frac"),
        F.coalesce(
            F.expr("(m + 9999999999) DIV 10000000000") * F.lit(10000000000) - F.col("m"),
            F.lit(-1),
        ).alias("rep_vec"),
    ).orderBy("cid")


def _icos_sql(a: str, b: str, k: int = 64) -> str:
    """Integer-encoded (1e-6 tick) cosine over the first k dims."""
    dot = f"list_sum(list_transform(range(1, {k + 1}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    na = f"SQRT(list_sum(list_transform({a}[1:{k}], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"SQRT(list_sum(list_transform({b}[1:{k}], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"CAST(ROUND({dot} / ({na} * {nb}) * 1000000) AS BIGINT)"


def _icos_col(a, b, k: int = 64):
    ap = F.slice(a, 1, k)
    bp = F.slice(b, 1, k)
    return F.round(
        _dot(ap, bp) / (F.sqrt(_sq_norm(ap)) * F.sqrt(_sq_norm(bp))) * 1000000
    ).cast("long")


def _icos_spark_sql(a: str, b: str, k: int = 64) -> str:
    """Spark-SQL-string twin of ``_icos_col`` — identical expression
    tree (same in-order folds, same casts), parsed JVM-side so
    branch-heavy queries don't pay ~0.1 s of Py4J per branch (r11
    build audit); plan equality asserted in
    tests/test_sqlstring_forms.py."""
    ap, bp = f"slice({a}, 1, {k})", f"slice({b}, 1, {k})"

    def dbl(col: str) -> str:
        return f"transform({col}, x -> CAST(x AS DOUBLE))"

    dot = (
        f"aggregate(zip_with({dbl(ap)}, {dbl(bp)}, (x, y) -> x * y),"
        f" 0.0D, (acc, x) -> acc + x)"
    )
    na = f"SQRT(aggregate({dbl(ap)}, 0.0D, (acc, x) -> acc + x * x))"
    nb = f"SQRT(aggregate({dbl(bp)}, 0.0D, (acc, x) -> acc + x * x))"
    return f"CAST(ROUND({dot} / ({na} * {nb}) * 1000000) AS BIGINT)"


@register(
    "matryoshka_recall_eval",
    survey_ref="M5:similarity,§2.10",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
full_rank AS (
  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY {_icos_sql("e.embedding", "q.qe", 64)} DESC, e.vec_id LIMIT 10
),
t16 AS (
  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY {_icos_sql("e.embedding", "q.qe", 16)} DESC, e.vec_id LIMIT 10
),
t32 AS (
  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY {_icos_sql("e.embedding", "q.qe", 32)} DESC, e.vec_id LIMIT 10
)
SELECT dims, n_common, ROUND(n_common / 10.0, 6) AS recall_at_10
FROM (
  SELECT 16 AS dims,
         CAST((SELECT COUNT(*) FROM t16 JOIN full_rank USING (vec_id)) AS BIGINT) AS n_common
  UNION ALL
  SELECT 32 AS dims,
         CAST((SELECT COUNT(*) FROM t32 JOIN full_rank USING (vec_id)) AS BIGINT) AS n_common
)
ORDER BY dims
""",
)
def q_matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-embedding truncation evaluation (Kusupati et al.
    2022): rank the corpus against query vector 0 using only the
    first 16 / 32 dims, and report recall@10 against the full-64-dim
    ranking — the storage-vs-quality trade a vector-index deployment
    measures before truncating its embedding column.

    Scale shape: each ranking is a map-only broadcast-scored scan
    reduced by TakeOrderedAndProject to 10 rows (integer-encoded
    cosine, fixed-order fold, deterministic ties) — three bounded
    scans, then 10-row joins; no corpus-scale sort or shuffle. The
    prefix scoring reads the same column (no reprojection), so at
    100 TB the three passes share the parquet scan bytes."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    base = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))

    def topk(k: int) -> DataFrame:
        return (
            base.select("vec_id", _icos_col(F.col("embedding"), F.col("qe"), k).alias("icos"))
            .orderBy(F.desc("icos"), F.asc("vec_id"))
            .limit(10)
            .select("vec_id")
        )

    full_rank = topk(64)
    rows = []
    for dims in (16, 32):
        common = topk(dims).join(full_rank, "vec_id").agg(
            F.lit(dims).alias("dims"),
            F.count(F.lit(1)).alias("n_common"),
        )
        rows.append(common)
    out = rows[0].unionAll(rows[1])
    return out.select(
        "dims",
        "n_common",
        F.round(F.col("n_common") / 10.0, 6).alias("recall_at_10"),
    ).orderBy("dims")


@register(
    "ann_recall_at_k",
    survey_ref="M5:similarity,§2.10",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qe, {_BUCKET_SQL.format(e="embedding")} AS qb
  FROM embeddings WHERE vec_id = 0
),
exact AS (
  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY {_icos_sql("e.embedding", "q.qe", 64)} DESC, e.vec_id LIMIT 10
),
probe1 AS (
  SELECT e.vec_id FROM embeddings e, q
  WHERE e.vec_id <> 0 AND {_BUCKET_SQL.format(e="e.embedding")} = q.qb
  ORDER BY {_icos_sql("e.embedding", "q.qe", 64)} DESC, e.vec_id LIMIT 10
),
probe5 AS (
  SELECT e.vec_id FROM embeddings e, q
  WHERE e.vec_id <> 0 AND {_BUCKET_SQL.format(e="e.embedding")}
        IN (q.qb, xor(q.qb, 1), xor(q.qb, 2), xor(q.qb, 4), xor(q.qb, 8))
  ORDER BY {_icos_sql("e.embedding", "q.qe", 64)} DESC, e.vec_id LIMIT 10
)
SELECT method, n_common, ROUND(n_common / 10.0, 6) AS recall_at_10
FROM (
  SELECT 'probe1' AS method,
         CAST((SELECT COUNT(*) FROM probe1 JOIN exact USING (vec_id)) AS BIGINT) AS n_common
  UNION ALL
  SELECT 'probe5' AS method,
         CAST((SELECT COUNT(*) FROM probe5 JOIN exact USING (vec_id)) AS BIGINT) AS n_common
)
ORDER BY method
""",
)
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality evaluation: recall@10 of the single-probe and
    5-bucket multi-probe LSH searches against the exact brute-force
    top-10 — the acceptance metric every approximate index ships with
    (probe5 should dominate probe1; both trade recall for scan
    fraction).

    Scale shape: the exact leg is one TakeOrderedAndProject scan; the
    probe legs filter to 1/16 (resp. 5/16) of the corpus via the
    bucket predicate BEFORE scoring, exactly as their production
    counterparts (``ann_lsh_probe_topk`` / ``ann_multiprobe_lsh_topk``);
    the recall joins touch 10-row sets. Integer-encoded cosine keeps
    every comparison deterministic."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), _bucket("embedding").alias("qb")
    )
    base = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    scored = base.select(
        "vec_id",
        "qb",
        _bucket("embedding").alias("eb"),
        _icos_col(F.col("embedding"), F.col("qe"), 64).alias("icos"),
    )

    def topk(df: DataFrame) -> DataFrame:
        return df.orderBy(F.desc("icos"), F.asc("vec_id")).limit(10).select("vec_id")

    exact = topk(scored)
    probe1 = topk(scored.filter(F.col("eb") == F.col("qb")))
    flips = F.array(
        F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(1 << i)) for i in range(4)]
    )
    probe5 = topk(
        scored.withColumn("pf", flips).filter(F.array_contains(F.col("pf"), F.col("eb")))
    )
    rows = []
    for method, df in (("probe1", probe1), ("probe5", probe5)):
        rows.append(
            df.join(exact, "vec_id").agg(
                F.lit(method).alias("method"), F.count(F.lit(1)).alias("n_common")
            )
        )
    out = rows[0].unionAll(rows[1])
    return out.select(
        "method", "n_common", F.round(F.col("n_common") / 10.0, 6).alias("recall_at_10")
    ).orderBy("method")


@register(
    "ndcg_at_10",
    survey_ref="M5:similarity,§2.8",
    oracle=f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT e.vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY {_icos_sql("e.embedding", "q.qe", 64)} DESC, e.vec_id) AS r
  FROM embeddings e, q WHERE e.vec_id <> 0
  QUALIFY r <= 10
),
rel AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN tok IN ('scan', 'join', 'window') THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY doc_id
),
graded AS (
  SELECT sem.r, LEAST(COALESCE(rel.hits, 0), 20) AS g
  FROM sem LEFT JOIN rel USING (doc_id)
),
dcg AS (
  SELECT SUM(CAST(ROUND(((1 << g) - 1) * 1000000000.0 / LOG2(r + 1.0)) AS BIGINT)) AS idcg_n
  FROM graded
),
ideal_ranked AS (
  SELECT hits, ROW_NUMBER() OVER (ORDER BY hits DESC, doc_id) AS r
  FROM (SELECT * FROM rel ORDER BY hits DESC, doc_id LIMIT 10)
),
ideal AS (
  SELECT SUM(CAST(ROUND(((1 << LEAST(hits, 20)) - 1) * 1000000000.0
             / LOG2(r + 1.0)) AS BIGINT)) AS iideal_n
  FROM ideal_ranked
)
SELECT ROUND(dcg.idcg_n / 1000000000.0, 6) AS dcg_at_10,
       ROUND(ideal.iideal_n / 1000000000.0, 6) AS idcg_at_10,
       ROUND(dcg.idcg_n * 1.0 / ideal.iideal_n, 6) AS ndcg_at_10
FROM dcg, ideal
""",
)
def q_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the dense (cosine) ranking against graded lexical
    relevance — relevance of a document = number of occurrences of the
    fixed query terms {scan, join, window}, gain = 2^rel - 1 (standard
    exponential gain, clamped at 31 so the BIGINT shift is exact), DCG
    discounted by log2(rank+1), normalized by the ideal ordering's
    DCG. The third leg of the retrieval-eval family next to
    ``ann_recall_at_k`` and ``matryoshka_recall_eval``.

    Scale shape: the ranking leg is the broadcast-scored
    TakeOrderedAndProject top-10; the relevance leg is one
    query-filtered token aggregate, then a 10-row join. The DCG sums
    run over exactly 10 rows in rank order (both engines accumulate in
    the same order), every per-rank term is integer-encoded (nano-gain fixed point) before summation, so accumulation order never shows."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), _icos_col(F.col("embedding"), F.col("qe"), 64).alias("icos"))
        .orderBy(F.desc("icos"), F.asc("doc_id"))
        .limit(10)
        .withColumn("r", F.row_number().over(Window.orderBy(F.desc("icos"), F.asc("doc_id"))))
        .select("doc_id", "r")
    )
    rel = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("tok").isin("scan", "join", "window"), 1).otherwise(0)).alias(
                "hits"
            )
        )
    )
    graded = sem.join(rel, "doc_id", "left").select(
        "r", F.least(F.coalesce(F.col("hits"), F.lit(0)), F.lit(20)).alias("g")
    )
    # Per-row DCG terms are integer-encoded (nano-gain units) BEFORE the
    # SUM, so the 10-term accumulation is exact BIGINT in any order —
    # a 10-row float SUM would still be partition-order-dependent.
    gain = F.expr("shiftleft(1L, CAST(g AS INT))") - 1
    dcg = graded.agg(
        F.sum(F.round(gain * 1000000000.0 / F.log2(F.col("r") + 1.0)).cast("long")).alias(
            "idcg_n"
        )
    )
    ideal_rows = rel.orderBy(F.desc("hits"), F.asc("doc_id")).limit(10)
    wi = Window.orderBy(F.desc("hits"), F.asc("doc_id"))
    ideal = (
        ideal_rows.withColumn("r", F.row_number().over(wi))
        .select(
            F.round(
                (F.expr("shiftleft(1L, CAST(LEAST(hits, 20) AS INT))") - 1)
                * 1000000000.0
                / F.log2(F.col("r") + 1.0)
            )
            .cast("long")
            .alias("term")
        )
        .agg(F.sum("term").alias("iideal_n"))
    )
    return dcg.crossJoin(ideal).select(
        F.round(F.col("idcg_n") / 1000000000.0, 6).alias("dcg_at_10"),
        F.round(F.col("iideal_n") / 1000000000.0, 6).alias("idcg_at_10"),
        F.round(F.col("idcg_n") * 1.0 / F.col("iideal_n"), 6).alias("ndcg_at_10"),
    )


@register(
    "colbert_maxsim_retrieval",
    survey_ref="M5:similarity,§2.6,§2.7",
    oracle=f"""
WITH toks AS (
  SELECT vec_id, vec_id // 50 AS doc, embedding FROM embeddings
),
qtoks AS (SELECT vec_id AS qid, embedding AS qe FROM toks WHERE doc = 0),
pairs AS (
  SELECT t.doc, q.qid,
         MAX({_icos_sql("t.embedding", "q.qe", 64)}) AS max_icos
  FROM toks t, qtoks q
  WHERE t.doc <> 0
  GROUP BY t.doc, q.qid
)
SELECT doc,
       CAST(SUM(max_icos) AS BIGINT) AS maxsim_micro,
       ROUND(SUM(max_icos) / (COUNT(*) * 1000000.0), 6) AS maxsim_avg
FROM pairs
GROUP BY doc
ORDER BY maxsim_micro DESC, doc
LIMIT 5
""",
)
def q_colbert_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim, Khattab & Zaharia 2020)
    multi-vector retrieval: treat each run of 50 embedding rows as one
    document's token vectors, take document 0 as the query; a
    document's score is Σ over query tokens of the MAX cosine against
    any of its own tokens — the fine-grained scoring that beats single-
    vector cosine when relevance hinges on one matching passage.

    Scale shape: the query's token matrix is a broadcast 50-row
    relation, so scoring is a map-side nested-loop pass over the
    corpus; the MaxSim reduction is two hash aggregates — (doc,
    query-token) MAX then doc SUM — both on exact integer-encoded
    cosines, so no float-order dependence; TakeOrderedAndProject
    emits the top-5. At 100 TB the per-(doc,qtok) partial MAX is
    map-side combinable, so the exchange carries at most
    |docs|·|query tokens| rows."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    toks = e.select("vec_id", F.expr("vec_id DIV 50").alias("doc"), "embedding")
    qtoks = toks.filter(F.col("doc") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    pairs = (
        toks.filter(F.col("doc") != 0)
        .crossJoin(F.broadcast(qtoks))
        .groupBy("doc", "qid")
        .agg(F.max(_icos_col(F.col("embedding"), F.col("qe"), 64)).alias("max_icos"))
    )
    return (
        pairs.groupBy("doc")
        .agg(
            F.sum("max_icos").alias("maxsim_micro"),
            F.round(F.sum("max_icos") / (F.count(F.lit(1)) * 1000000.0), 6).alias("maxsim_avg"),
        )
        .orderBy(F.desc("maxsim_micro"), F.asc("doc"))
        .limit(5)
    )


@register(
    "colbert_two_stage",
    survey_ref="M5:similarity,§2.6,§2.7",
    oracle=f"""
WITH toks AS (
  SELECT vec_id, vec_id // 50 AS doc, embedding FROM embeddings
),
qtoks AS (SELECT vec_id AS qid, embedding AS qe FROM toks WHERE doc = 0),
qcent AS (
  SELECT i.i AS pos,
         SUM(CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qs
  FROM toks, (SELECT UNNEST(range(1, 65)) AS i) i
  WHERE doc = 0
  GROUP BY i.i
),
qarr AS (SELECT list(qs ORDER BY pos) AS qc FROM qcent),
cand AS (
  SELECT t.doc,
         CAST(SUM(list_sum(list_transform(range(1, 65),
           i -> CAST(FLOOR(CAST(t.embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                * qarr.qc[i]))) AS BIGINT) AS cdot
  FROM toks t, qarr
  WHERE t.doc <> 0
  GROUP BY t.doc
  ORDER BY cdot DESC, t.doc
  LIMIT 12
),
pairs AS (
  SELECT t.doc, q.qid,
         MAX({_icos_sql("t.embedding", "q.qe", 64)}) AS max_icos
  FROM toks t JOIN cand c USING (doc), qtoks q
  GROUP BY t.doc, q.qid
)
SELECT doc,
       CAST(SUM(max_icos) AS BIGINT) AS maxsim_micro,
       ROUND(SUM(max_icos) / (COUNT(*) * 1000000.0), 6) AS maxsim_avg
FROM pairs
GROUP BY doc
ORDER BY maxsim_micro DESC, doc
LIMIT 5
""",
)
def q_colbert_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage late interaction — the PRODUCTION shape of ColBERT
    retrieval (r7 VERDICT task 3): ``colbert_maxsim_retrieval``
    MaxSim-scores the whole corpus (|docs|·|query tokens|·|doc tokens|
    cosines — the bench's most expensive query); here a cheap
    single-vector candidate stage prunes to 12 docs first and MaxSim
    re-ranks only the survivors, same top-5 as brute force on the
    fixture (asserted in ``tests/test_plans.py``).

    Stage 1 (candidate generation): the QUERY's centroid is the
    per-dimension SUM of its 50 token embeddings integer-encoded at
    1e-6 ticks BEFORE summing — exact BIGINT, order-independent,
    identical in both engines — broadcast as one 64-element array.
    Each corpus TOKEN then dots against it row-locally (dot(qc, Σ t) =
    Σ dot(qc, t), so the document centroid never materializes — no
    64× posexplode of the corpus) and one map-combinable doc aggregate
    + TakeOrdered(12, doc tie-break) emits the shortlist. Overflow:
    component ≤1e6, query-centroid component ≤5e7, per-token dot
    ≤64·1e6·5e7 = 3.2e15 < 2^63; a float centroid would be
    partition-order dependent.

    Stage 2: the MaxSim scorer runs only on tokens that survive the
    broadcast semi-join with the candidate list — the plan shows the
    prune BEFORE the query-token nested loop.

    Scale shape: stage 1 is one linear map pass + one map-combinable
    doc aggregate over the corpus (the pass an IVF coarse quantizer
    costs); stage 2's cost is O(k·|candidates|·|query tokens|),
    independent of corpus size. Measured 0.59× brute force warm at the
    10× fixture where the corpus is still tiny (20k tokens); the work
    ratio is |candidates|/|docs|, so the gap widens linearly with
    corpus size. At 100 TB the shortlist stage is itself amenable to
    the materialized-IVF treatment (``ivf_partitioned_index_probe``)."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    toks = e.select("vec_id", F.expr("vec_id DIV 50").alias("doc"), "embedding")
    qtoks = toks.filter(F.col("doc") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    enc = lambda c: F.transform(  # noqa: E731 — local expression builder
        c, lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast("bigint")
    )
    qarr = (
        toks.filter(F.col("doc") == 0)
        .select(F.posexplode(enc(F.col("embedding"))).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("qs"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "qs"))), lambda s: s.qs
            ).alias("qc")
        )
    )
    tok_dot = F.aggregate(
        F.zip_with(enc(F.col("embedding")), F.col("qc"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    cand = (
        toks.filter(F.col("doc") != 0)
        .crossJoin(F.broadcast(qarr))
        .select("doc", tok_dot.alias("td"))
        .groupBy("doc")
        .agg(F.sum("td").alias("cdot"))
        .orderBy(F.desc("cdot"), F.asc("doc"))
        .limit(12)
    )
    pairs = (
        toks.join(F.broadcast(cand.select("doc")), "doc")
        .crossJoin(F.broadcast(qtoks))
        .groupBy("doc", "qid")
        .agg(F.max(_icos_col(F.col("embedding"), F.col("qe"), 64)).alias("max_icos"))
    )
    return (
        pairs.groupBy("doc")
        .agg(
            F.sum("max_icos").alias("maxsim_micro"),
            F.round(F.sum("max_icos") / (F.count(F.lit(1)) * 1000000.0), 6).alias("maxsim_avg"),
        )
        .orderBy(F.desc("maxsim_micro"), F.asc("doc"))
        .limit(5)
    )


@register(
    "hard_negative_mining",
    survey_ref="M5:similarity,§2.9",
    oracle=f"""
WITH queries AS (
  SELECT vec_id AS qid, label AS qlabel, embedding AS qe
  FROM embeddings WHERE vec_id < 5
),
ranked AS (
  SELECT q.qid, e.vec_id, e.label,
         {_icos_sql("e.embedding", "q.qe", 64)} AS icos,
         ROW_NUMBER() OVER (PARTITION BY q.qid
             ORDER BY {_icos_sql("e.embedding", "q.qe", 64)} DESC, e.vec_id) AS rn
  FROM embeddings e, queries q
  WHERE e.vec_id >= 5 AND e.label <> q.qlabel
)
SELECT qid, vec_id, label, CAST(rn AS BIGINT) AS rank,
       ROUND(icos / 1000000.0, 6) AS cosine
FROM ranked WHERE rn <= 3
ORDER BY qid, rank
""",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the retrieval-
    training data op): for each of 5 anchor embeddings, the 3 most
    similar vectors with a DIFFERENT label — the near-misses that make
    the best negatives (random negatives are too easy; these sit right
    at the decision boundary).

    Scale shape: anchors are a broadcast 5-row relation, so scoring is
    map-only; each anchor's top-3 comes from its own
    TakeOrderedAndProject branch (5 bounded reductions unioned), never
    a window partitioned by anchor over the full corpus (5 partitions
    x corpus rows is the few-key-window shape the plan audit bans).
    Integer-encoded cosine keeps ranking deterministic."""
    e = load_table(spark, sf_dir, "embeddings")
    anchors = [
        (r["vec_id"], r["label"])
        for r in e.filter(F.col("vec_id") < 5).select("vec_id", "label").collect()
    ]
    corpus_side = e.filter(F.col("vec_id") >= 5)
    branches = []
    for qid, qlabel in sorted(anchors):
        q = (
            e.filter(F.col("vec_id") == qid)
            .select(F.col("embedding").alias("qe"))
        )
        # per-branch score as a SQL string: 5 branches × the Column
        # cosine tree cost ~0.6 s of Py4J build (r11 audit); the
        # string parses JVM-side, plan-equal by test
        scored = (
            corpus_side.filter(F.col("label") != qlabel)
            .crossJoin(F.broadcast(q))
            .selectExpr(
                f"CAST({qid} AS BIGINT) AS qid",
                "vec_id",
                "label",
                f"{_icos_spark_sql('embedding', 'qe', 64)} AS icos",
            )
            .orderBy(F.desc("icos"), F.asc("vec_id"))
            .limit(3)
            .withColumn(
                "rank",
                F.row_number().over(Window.orderBy(F.desc("icos"), F.asc("vec_id"))),
            )
        )
        branches.append(scored)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    return out.select(
        "qid",
        "vec_id",
        "label",
        F.col("rank").cast("long").alias("rank"),
        F.round(F.col("icos") / 1000000.0, 6).alias("cosine"),
    ).orderBy("qid", "rank")


@register(
    "kcenter_coreset_selection",
    survey_ref="M5:similarity,§2.9",
    oracle="""
WITH c1(v) AS (SELECT CAST(0 AS BIGINT)),
m2 AS (
  SELECT e.vec_id, MAX(CAST(ROUND(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (SQRT(list_sum(list_transform(e.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * SQRT(list_sum(list_transform(c.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1000000) AS BIGINT)) AS mx
  FROM embeddings e, embeddings c
  WHERE c.vec_id IN (SELECT v FROM c1)
    AND e.vec_id NOT IN (SELECT v FROM c1)
  GROUP BY e.vec_id
),
p2(v) AS (SELECT vec_id FROM m2 ORDER BY mx ASC, vec_id ASC LIMIT 1),
c2(v) AS (SELECT v FROM c1 UNION ALL SELECT v FROM p2),
m3 AS (
  SELECT e.vec_id, MAX(CAST(ROUND(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (SQRT(list_sum(list_transform(e.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * SQRT(list_sum(list_transform(c.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1000000) AS BIGINT)) AS mx
  FROM embeddings e, embeddings c
  WHERE c.vec_id IN (SELECT v FROM c2)
    AND e.vec_id NOT IN (SELECT v FROM c2)
  GROUP BY e.vec_id
),
p3(v) AS (SELECT vec_id FROM m3 ORDER BY mx ASC, vec_id ASC LIMIT 1),
c3(v) AS (SELECT v FROM c2 UNION ALL SELECT v FROM p3),
m4 AS (
  SELECT e.vec_id, MAX(CAST(ROUND(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (SQRT(list_sum(list_transform(e.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * SQRT(list_sum(list_transform(c.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1000000) AS BIGINT)) AS mx
  FROM embeddings e, embeddings c
  WHERE c.vec_id IN (SELECT v FROM c3)
    AND e.vec_id NOT IN (SELECT v FROM c3)
  GROUP BY e.vec_id
),
p4(v) AS (SELECT vec_id FROM m4 ORDER BY mx ASC, vec_id ASC LIMIT 1),
c4(v) AS (SELECT v FROM c3 UNION ALL SELECT v FROM p4),
m5 AS (
  SELECT e.vec_id, MAX(CAST(ROUND(list_sum(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) / (SQRT(list_sum(list_transform(e.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * SQRT(list_sum(list_transform(c.embedding[1:64], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) * 1000000) AS BIGINT)) AS mx
  FROM embeddings e, embeddings c
  WHERE c.vec_id IN (SELECT v FROM c4)
    AND e.vec_id NOT IN (SELECT v FROM c4)
  GROUP BY e.vec_id
),
p5(v) AS (SELECT vec_id FROM m5 ORDER BY mx ASC, vec_id ASC LIMIT 1),
c5(v) AS (SELECT v FROM c4 UNION ALL SELECT v FROM p5)
SELECT step, vec_id FROM (
  SELECT 1 AS step, CAST(0 AS BIGINT) AS vec_id
  UNION ALL SELECT 2, v FROM p2
  UNION ALL SELECT 3, v FROM p3
  UNION ALL SELECT 4, v FROM p4
  UNION ALL SELECT 5, v FROM p5
)
ORDER BY step
""",
)
def q_kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal —
    the Sener & Savarese 2018 active-learning / data-pruning
    selector): starting from vector 0, repeatedly add the point whose
    MAXIMUM cosine to any already-chosen center is SMALLEST (i.e. the
    point farthest from the current coreset), k=5. The diversity-
    maximizing complement of ``semdedup_cluster_prune`` (which removes
    redundancy; this SELECTS the spanning skeleton).

    Scale shape: the chosen set is driver-held control plane (k ids,
    same class as the k-means centroid loop); each of the k-1 rounds
    is one broadcast-scored corpus pass reduced by a (min over a
    <=k-column row-local MAX) TakeOrdered-1 — no window over the fact,
    no pairwise matrix. Integer-encoded cosine makes the greedy
    sequence deterministic, hence SQL-oracle-checkable (the oracle
    replays it as a recursive CTE)."""
    e = spread_scan(load_table(spark, sf_dir, "embeddings"))
    chosen = [0]
    rows = [(1, 0)]
    for step in range(2, 6):
        centers = e.filter(F.col("vec_id").isin(chosen)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
        )
        # per-step score as a SQL string (r11 build audit: the Column
        # cosine rebuilt per step cost ~0.5 s of Py4J across the loop)
        far = (
            e.filter(~F.col("vec_id").isin(chosen))
            .crossJoin(F.broadcast(centers))
            .selectExpr(
                "vec_id", f"{_icos_spark_sql('embedding', 'ce', 64)} AS icos"
            )
            .groupBy("vec_id")
            .agg(F.max("icos").alias("max_icos"))
            .orderBy(F.asc("max_icos"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append(far["vec_id"])
        rows.append((step, far["vec_id"]))
    return spark.createDataFrame(rows, "step int, vec_id long")


@register(
    "embedding_drift_report",
    survey_ref="M5:similarity,§2.5,§2.6",
    oracle="""
WITH comps AS (
  SELECT CASE WHEN 2 * vec_id <= (SELECT MIN(vec_id) + MAX(vec_id) FROM embeddings)
              THEN 'ref' ELSE 'cur' END AS cohort,
         i AS dim,
         CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM embeddings, unnest(range(0, 64)) AS u(i)
),
stats AS (
  SELECT dim,
         CAST(SUM(CASE WHEN cohort = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN cohort = 'ref' THEN v ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN cohort = 'ref' THEN v * v ELSE 0 END) AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN cohort = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN cohort = 'cur' THEN v ELSE 0 END) AS BIGINT) AS s2,
         CAST(SUM(CASE WHEN cohort = 'cur' THEN v * v ELSE 0 END) AS BIGINT) AS q2
  FROM comps GROUP BY dim
),
ints AS (
  SELECT dim,
         s2 * n1 - s1 * n2 AS num,
         n1 * n2 AS den,
         q1 * n1 - s1 * s1 AS a1,
         n1 * n1 * (n1 - 1) AS d1,
         q2 * n2 - s2 * s2 AS a2,
         n2 * n2 * (n2 - 1) AS d2
  FROM stats
)
SELECT CAST(dim AS INTEGER) AS dim,
       CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) + 0.5) AS BIGINT)
         AS mean_shift_micro,
       CAST(FLOOR(ABS(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
             / SQRT(CAST(a1 AS DOUBLE) / CAST(d1 AS DOUBLE)
                  + CAST(a2 AS DOUBLE) / CAST(d2 AS DOUBLE)) * 1000000 + 0.5)
            AS BIGINT) AS z_micro
FROM ints
ORDER BY z_micro DESC, dim
LIMIT 10
""",
)
def q_embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: split the corpus into a
    reference and a current cohort (the two halves of the vec_id range,
    split at its midpoint, standing in for last-week/this-week; a
    literal split id left one cohort empty on a smaller table), compute
    the per-dimension two-sample z-score of the mean from exact
    sufficient statistics, and report the 10
    most drifted dimensions — the alarm a retrieval deployment watches
    for encoder or upstream-data regressions.

    Scale shape: one posexplode to (dim, fixed-point component) —
    64x the rows but keyed by 64 dims, so the sufficient-statistics
    aggregate is map-side combinable into 64 rows; all downstream
    float math is row-local on exact BIGINTs (the ab_test_welch
    discipline applied per dimension)."""
    e = load_table(spark, sf_dir, "embeddings")
    span = e.agg((F.min("vec_id") + F.max("vec_id")).alias("span"))
    comps = e.crossJoin(F.broadcast(span)).select(
        F.when(2 * F.col("vec_id") <= F.col("span"), "ref").otherwise("cur").alias("cohort"),
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "cohort",
        "dim",
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("v"),
    )
    is_ref = F.col("cohort") == "ref"
    stats = comps.groupBy("dim").agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(is_ref, F.col("v")).otherwise(0)).alias("s1"),
        F.sum(F.when(is_ref, F.col("v") * F.col("v")).otherwise(0)).alias("q1"),
        F.sum(F.when(~is_ref, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(~is_ref, F.col("v")).otherwise(0)).alias("s2"),
        F.sum(F.when(~is_ref, F.col("v") * F.col("v")).otherwise(0)).alias("q2"),
    )
    # Cross-multiplied EXACT-integer sufficient statistics, converted
    # to double exactly once per term: mixed int/float expressions like
    # s1*1.0*s1 are reassociated differently by the two engines'
    # constant folding (measured 1-ulp z divergence), so every float op
    # here takes explicitly CAST BIGINT inputs; FLOOR(x+0.5) replaces
    # decimal ROUND (whose .5-tick semantics also differ).
    ints = stats.select(
        "dim",
        (F.col("s2") * F.col("n1") - F.col("s1") * F.col("n2")).alias("num"),
        (F.col("n1") * F.col("n2")).alias("den"),
        (F.col("q1") * F.col("n1") - F.col("s1") * F.col("s1")).alias("a1"),
        (F.col("n1") * F.col("n1") * (F.col("n1") - 1)).alias("d1"),
        (F.col("q2") * F.col("n2") - F.col("s2") * F.col("s2")).alias("a2"),
        (F.col("n2") * F.col("n2") * (F.col("n2") - 1)).alias("d2"),
    )
    dnum = F.col("num").cast("double") / F.col("den").cast("double")
    z = F.abs(dnum) / F.sqrt(
        F.col("a1").cast("double") / F.col("d1").cast("double")
        + F.col("a2").cast("double") / F.col("d2").cast("double")
    )
    return (
        ints.select(
            F.col("dim").cast("int").alias("dim"),
            F.floor(dnum + 0.5).cast("long").alias("mean_shift_micro"),
            F.floor(z * 1000000 + 0.5).cast("long").alias("z_micro"),
        )
        .orderBy(F.desc("z_micro"), F.asc("dim"))
        .limit(10)
    )
