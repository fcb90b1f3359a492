"""Streaming building blocks over the ``events`` fixture.

Each operator is a standard Structured Streaming plan:
``readStream`` (file source) → transformation → ``writeStream`` with a
watermark where state must be bounded. Tests and the oracle corpus run
them with ``Trigger.AvailableNow`` into a memory sink, which replays
the full fixture through the *incremental* engine — the result must
equal the batch computation, and that equality is exactly what the
DuckDB oracle checks.

State-boundedness notes (the 100 TB concern):
  * tumbling/sliding counts — state per (window, key), dropped at
    watermark expiry;
  * session windows — merged-on-arrival state per (user, open session);
  * streaming dedup — state per key inside the watermark horizon
    (``dropDuplicatesWithinWatermark``), NOT unbounded exact dedup;
  * incremental histogram (``operators/survival.py::histogram`` on a
    stream) — state is nbins×n_keys counters (update mode), the
    streaming reading of A5.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import file_schema, normalize_events_ts


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events fixture with batch-identical ``ts``.

    Streaming file sources need an explicit schema (no inference at plan
    time). Rather than hard-coding one encoding of ``ts`` — which
    silently corrupts event time the day the upstream writer changes
    (nanos-as-long vs plain micros) — the stream schema is read from the
    parquet footer exactly as batch sees it, and ``ts`` is normalized by
    the same ``normalize_events_ts`` seam the batch catalog uses. A
    footer read is a planning-time metadata fetch, not a data scan.
    ``tests/test_sources.py::test_stream_ts_equals_batch_ts`` pins the
    stream==batch equality.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # normalize_events_ts's timestamp_ntz -> timestamp cast is only
    # lossless under a UTC session zone; pin it here exactly as
    # catalog.load_table does, so a driver-owned session that streams
    # WITHOUT first touching the batch catalog cannot re-base event time.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The streaming file source wants a directory. Two fixture shapes
    # exist: the driver's one-FILE-per-table layout (stream the parent
    # dir, glob-filtered to the events file — pathGlobFilter matches
    # leaf file names) and Spark-written DIRECTORY tables like the 10x
    # scale fixture (stream the table directory itself; the glob filter
    # would match no part file and silently yield 0 rows — the bug the
    # 10x sweep caught across all 13 streaming queries, SCALE.md
    # round-5 record).
    path = os.path.join(sf_dir, "events.parquet")
    schema = file_schema(spark, path)  # memoized footer read (r12)
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(raw)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the documents fixture (same two fixture-shape
    handling as ``read_events_stream``; no timestamp normalization —
    documents carry no event time)."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = file_schema(spark, path)  # memoized footer read (r12)
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def tumbling_counts(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Tumbling-window count per event_type with a 1-hour watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_counts(events: DataFrame, duration: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding-window count: each event lands in duration/slide windows."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge into
    one session (state = open sessions per user, closed at watermark)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


# Per-sink-name microbatch progress of the most recent run_to_memory
# drain (recentProgress JSON dicts: stateOperators[].numRowsTotal,
# batchDuration, numInputRows ...). Scale probes read this to certify
# state-store boundedness at 10× keys (r7 VERDICT task 4); correctness
# paths never consult it.
LAST_PROGRESS: dict[str, list] = {}

# Retired sink tables per base name, dropped lazily once more than
# _SINK_KEEP have accumulated — see run_to_memory.
_PREV_SINKS: dict[str, list[str]] = {}
_SINK_KEEP = 8
_SINK_LOCK = threading.Lock()

# Serializes the [set confs -> start() -> restore confs] window so a
# concurrently-starting stream can never snapshot another invocation's
# scoped confs (see run_to_memory docstring).
_CONF_SCOPE_LOCK = threading.Lock()


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> str:
    """Drain the stream through Trigger.AvailableNow into an in-memory
    table and stop — the batch-replay harness for tests and the oracle
    corpus. Returns the ACTUAL sink table name: ``name`` plus a
    per-invocation unique suffix, so concurrent invocations of the
    same query (a multi-tenant driver, the 4-way contention probe)
    never collide on the memory sink — read the result via
    ``spark.table(<returned name>)``, never the base name (VERDICT r10
    task 4: the fixed name was an engine-surface defect masked as a
    harness limitation). The last ``_SINK_KEEP`` sinks per base name
    are retained so concurrently-running invocations can still read
    theirs; older ones are dropped here to bound session memory.
    ``LAST_PROGRESS`` stays keyed by the base name (most-recent-drain
    semantics, what the scale probes read).

    ``state_partitions`` temporarily pins spark.sql.shuffle.partitions
    for the query's lifetime: a stateful query's state-partition count
    is frozen at first start, and every state partition pays a
    store-open/commit cost per microbatch — at fixture scale 32
    partitions × 2 join state stores is pure overhead (~25s), while a
    real cluster run sizes it to state volume instead.

    Conf scoping (r12, caught by the RocksDB 4-way contention probe):
    ``StreamExecution`` clones the session SYNCHRONOUSLY inside
    ``start()``, snapshotting every SQL conf for the query's lifetime
    — so the session confs are restored IMMEDIATELY after ``start()``
    returns, not after the drain, and the set→start→restore window is
    serialized by a lock. The r11 code restored in a finally after
    ``awaitTermination``, which let a concurrently-STARTING stream in
    another thread inherit this query's confs for its whole run (a
    left-outer join inheriting the inner join's
    noDataMicroBatches=false emits no outer nulls — an actual wrong
    answer, observed once in the probe before this fix)."""
    spark = stream_df.sparkSession
    sink = f"{name}_{uuid.uuid4().hex[:8]}"
    with _SINK_LOCK:
        prev_sinks = _PREV_SINKS.setdefault(name, [])
        prev_sinks.append(sink)
        stale = prev_sinks[:-_SINK_KEEP]
        del prev_sinks[:-_SINK_KEEP]
    for s in stale:
        try:
            spark.catalog.dropTempView(s)
        except Exception:
            pass  # already gone / different session
    with _CONF_SCOPE_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        prev_extra = {}
        for k, v in (extra_confs or {}).items():
            try:
                prev_extra[k] = spark.conf.get(k)
            except Exception:
                prev_extra[k] = None
            spark.conf.set(k, v)
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(sink)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            # session clone is taken inside start(): safe to restore now
            if state_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            for k, v in prev_extra.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    q.awaitTermination()
    try:
        LAST_PROGRESS[name] = list(q.recentProgress)
    except Exception:
        LAST_PROGRESS[name] = []
    q.stop()
    return sink


def view_purchase_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream–stream inner join: views matched to same-user purchases
    within ``horizon``. Both sides carry watermarks and the join
    condition bounds event-time distance, so each side's buffered
    state expires once the other side's watermark passes the horizon —
    the state-boundedness contract stream–stream joins require."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
    )


def drain_foreach_batch_to_parquet(
    events: DataFrame, sink_path: str, checkpoint_path: str
) -> None:
    """foreachBatch sink: the production pattern for sinks Structured
    Streaming has no native writer for (JDBC upserts, MERGEs, multi-
    table fan-out). Each micro-batch arrives as a *batch* DataFrame the
    callback writes transactionally; the checkpoint records the batch id
    so a restarted query re-delivers only uncommitted batches
    (at-least-once; the callback's write must be idempotent per
    batch_id for exactly-once)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_path)

    q = (
        events.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()


def daily_ohlc(events: DataFrame) -> DataFrame:
    """Streaming daily OHLC bars per event_type: open/close via
    ``min_by``/``max_by`` on the (ts, event_id) struct key — both are
    incremental aggregates (state = one candidate row per bar), so the
    candlestick maintains itself per micro-batch with no sort, and the
    (ts, event_id) key is globally unique, making the pick
    deterministic under any batch interleaving. The 1-day tumbling
    window in the UTC session zone makes bar boundaries identical to
    the batch ``CAST(ts AS DATE)`` grouping."""
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def view_purchase_left_join(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream–stream LEFT OUTER join: every view row is answered —
    either with a same-user purchase within ``horizon``, or with a
    null-padded row once the watermark PROVES no match can still
    arrive.  Matches emit on arrival; the outer null for an unmatched
    view emits only when the global watermark (min across both sides'
    watermark operators) passes ``v_ts + horizon`` — strictly, as
    pinned by experiment: a view whose horizon lands exactly ON the
    final watermark is withheld.  State on each side expires at the
    same boundary, which is the state-boundedness contract that makes
    outer stream joins runnable forever."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        # Watermark delay must track the join horizon: a shorter delay
        # would expire view state before a legal match could arrive and
        # emit premature outer nulls (ADVICE r4: hardcoded '1 hour'
        # silently broke any wider horizon).
        .withWatermark("v_ts", horizon)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", horizon)
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
    )
