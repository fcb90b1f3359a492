"""Streaming corpus (SURVEY §2.11): each query drains the events
fixture through the *incremental* Structured Streaming engine
(Trigger.AvailableNow → memory sink) and returns the final result —
which must equal the batch computation, checked by the DuckDB oracle.
This is the replay-equivalence test streaming engines are graded on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.text import (
    SUBSTR_GRAM_CTE,
    gram_project,
)
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register
from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core


@register(
    "stream_tumbling_counts",
    survey_ref="§2.11",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def q_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate, drained incrementally;
    complete mode so every closed window is emitted."""
    ev = core.read_events_stream(spark, sf_dir)
    sink_tbl = core.run_to_memory(core.tumbling_counts(ev), "stream_tumbling_counts_sink", state_partitions=8)
    return spark.table(sink_tbl)


@register(
    "stream_sliding_counts",
    survey_ref="§2.11",
    oracle="""
WITH starts AS (
  SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                 time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS window_start
  FROM events
)
SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n
FROM starts GROUP BY 1
""",
)
def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h window, 1h slide): every event lands in two
    windows; the oracle enumerates both starts per event."""
    ev = core.read_events_stream(spark, sf_dir)
    sink_tbl = core.run_to_memory(core.sliding_counts(ev), "stream_sliding_counts_sink", state_partitions=8)
    return spark.table(sink_tbl)


@register(
    "stream_value_histogram",
    survey_ref="§2.11,A5",
    oracle="""
SELECT CAST(LEAST(CAST(FLOOR(value / 10.0) AS BIGINT), 39) AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS bin_count
FROM events GROUP BY 1
""",
)
def q_stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-bin histogram — the streaming reading of the
    flagship's A5 stage: state bounded by nbins, replay-equivalent to
    the batch histogram."""
    ev = core.read_events_stream(spark, sf_dir)
    sink_tbl = core.run_to_memory(core.value_histogram(ev), "stream_value_histogram_sink", state_partitions=8)
    return spark.table(sink_tbl)


@register(
    "stream_session_windows",
    survey_ref="§2.11",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
  FROM ordered
)
SELECT user_id, MIN(ts) AS session_start, CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id, session_id
""",
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap merge) per user; the
    oracle re-derives the same sessions with a batch lag/cumsum — the
    classic gap-based sessionization equivalence."""
    ev = core.read_events_stream(spark, sf_dir)
    sink_tbl = core.run_to_memory(core.session_counts(ev), "stream_session_windows_sink", state_partitions=8)
    return spark.table(sink_tbl)


@register(
    "stream_stateful_user_stats",
    survey_ref="§2.11,§2.12",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(MAX(value), 6) AS max_value
FROM events GROUP BY user_id
""",
)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, max) with explicit GroupState, emitted per batch.
    The final emission per user must equal the batch aggregate —
    checked by taking the max-count row per user from the sink."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import stateful

    ev = core.read_events_stream(spark, sf_dir)
    sink_tbl = core.run_to_memory(
        stateful.running_user_stats(ev),
        "stream_stateful_sink",
        output_mode="update",
        state_partitions=8,
    )
    sink = spark.table(sink_tbl)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("max_value", 6).alias("max_value"))
    )


@register(
    "stream_stateful_user_stats_tws",
    survey_ref="§2.11,§2.12",
    oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(MAX(value), 6) AS max_value
FROM events GROUP BY user_id
""",
)
def q_stream_stateful_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``transformWithStateInPandas`` twin of
    ``stream_stateful_user_stats`` (closes VERDICT r4 task #4): same
    per-user running (count, max), but through Spark 4's typed-state
    successor API with the RocksDB state store — runnable here because
    the compat shim (``compat/pbshim.py``) aliases a vendored
    pure-Python protobuf into the state-protocol client on runtimes
    without the real package. Where no protobuf runtime exists at all,
    falls back to the ``applyInPandasWithState`` sibling — semantically
    identical by construction (the equivalence both the oracle and
    ``test_transform_with_state_matches_batch`` pin)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import stateful

    ev = core.read_events_stream(spark, sf_dir)
    if stateful.transform_with_state_available():
        sink_tbl = core.run_to_memory(
            stateful.running_user_stats_tws(ev),
            "stream_stateful_tws_sink",
            output_mode="update",
            state_partitions=8,
            extra_confs={
                "spark.sql.streaming.stateStore.providerClass": (
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider"
                )
            },
        )
    else:  # no protobuf runtime anywhere: semantics-equal sibling
        sink_tbl = core.run_to_memory(
            stateful.running_user_stats(ev),
            "stream_stateful_tws_sink",
            output_mode="update",
            state_partitions=8,
        )
    sink = spark.table(sink_tbl)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", F.round("max_value", 6).alias("max_value"))
    )


@register(
    "stream_static_join",
    survey_ref="§2.11,§2.7",
    oracle="""
SELECT user_id % 3 AS tier,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: the event stream joins a static user-tier
    dimension (broadcast per micro-batch), then aggregates per tier.
    The oracle recomputes the tier inline — same relation, batch path.
    The dimension is derived from the batch table's own user domain
    (a hard-coded range silently DROPPED users beyond it when the
    fixture grew — caught by the sf0.1 sweep; an inner stream–static
    join is also a filter, so the dim must cover the key universe)."""
    ev = core.read_events_stream(spark, sf_dir)
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select("user_id", (F.col("user_id") % 3).alias("tier"))
    )
    joined = ev.join(F.broadcast(users), "user_id")
    agg = joined.groupBy("tier", "event_type").agg(F.count(F.lit(1)).alias("n"))
    sink_tbl = core.run_to_memory(agg, "stream_static_join_sink", state_partitions=8)
    return spark.table(sink_tbl)


@register(
    "stream_dedup_keys",
    survey_ref="§2.11,§2.10",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_unique
FROM (SELECT DISTINCT user_id, event_type FROM events) t
""",
)
def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type): the sink
    holds first-seen rows per key; the checked quantity is the distinct
    key count (first-seen *values* depend on arrival order).

    State is bounded by the watermark horizon
    (``dropDuplicatesWithinWatermark``), not unbounded exact dedup —
    the core.py state-boundedness contract. The 35-day delay exceeds
    the fixture's 30-day event span, so the finite replay evicts
    nothing and the count equals batch DISTINCT; a production deploy
    tunes the delay to its dedup horizon and pays state proportional
    to keys-per-horizon, not keys-ever-seen."""
    ev = core.read_events_stream(spark, sf_dir)
    dedup = ev.withWatermark("ts", "35 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    # r12: no-data micro-batch skipped — dedup emits each first-seen
    # row ON ARRIVAL; the terminal no-data batch only evicts expired
    # state and can never add or remove a sink row. Equality with the
    # no-data-batch run is pinned in tests/test_streaming_semantics.py.
    sink_tbl = core.run_to_memory(
        dedup,
        "stream_dedup_keys_sink",
        output_mode="append",
        state_partitions=8,
        extra_confs={"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )
    return spark.table(sink_tbl).agg(F.count(F.lit(1)).alias("n_unique"))


@register(
    "stream_stream_join",
    survey_ref="§2.11,§2.7",
    oracle="""
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join (views → same-user purchases within
    1h) with watermarks on both sides bounding join state — drained
    via AvailableNow and checked against the batch self-join, the
    replay-equivalence contract."""
    ev = core.read_events_stream(spark, sf_dir)
    joined = core.view_purchase_join(ev)
    # r12: skip the terminal no-data micro-batch. An INNER stream-stream
    # join emits every match on arrival; the no-data batch only evicts
    # expired state (one more full state commit: ~0.7 s at fixture
    # scale, measured allUpdates+commitTimeMs). Output verified
    # row-identical with/without at sf0.01 and sf0.1
    # (tests/test_streaming_semantics.py::test_inner_join_no_data_batch_skip_identical).
    # The LEFT OUTER twin keeps no-data batches ON — its outer nulls
    # exist only because that batch advances the watermark.
    sink_tbl = core.run_to_memory(
        joined,
        "stream_stream_join_sink",
        output_mode="append",
        state_partitions=4,
        extra_confs={"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
    )
    return spark.table(sink_tbl)


@register(
    "stream_foreach_batch_sink",
    survey_ref="§2.11,S4",
    oracle="""
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_value
FROM events GROUP BY event_type
""",
)
def q_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch → parquet sink round-trip: the stream drains
    through a per-micro-batch callback into a parquet directory (with a
    streaming checkpoint tracking delivered batch ids), then the sink
    is read back batch-side and aggregated — the written bytes, not the
    in-flight stream, are what the oracle must match."""
    import os
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH, scratch_tag

    sf_tag = scratch_tag(sf_dir)
    sink_path = os.path.join(SCRATCH, f"feb_sink_{sf_tag}")
    ckpt_path = os.path.join(SCRATCH, f"feb_ckpt_{sf_tag}")
    for p in (sink_path, ckpt_path):
        shutil.rmtree(p, ignore_errors=True)
    ev = core.read_events_stream(spark, sf_dir)
    core.drain_foreach_batch_to_parquet(ev, sink_path, ckpt_path)
    back = spark.read.parquet(sink_path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")) / 100.0, 2
        ).alias("sum_value"),
    )


@register(
    "stream_survival_curve",
    survey_ref="§2.11,A5,A6,A9",
    oracle="""
WITH shower AS (
  SELECT event_id,
         CAST(event_id % 2 AS INTEGER) AS label,
         14.0 + (event_id * 131 % 2500) / 1000.0 AS lg_e,
         CAST(event_id * 17 % 45 AS DOUBLE) AS ze,
         (event_id * 37 % 1000) / 1000.0 AS p
  FROM events
),
band AS (
  SELECT label, p FROM shower
  WHERE ze >= 0 AND ze < 30 AND lg_e >= 15 AND lg_e < 16
),
binned AS (
  SELECT label,
         CAST(LEAST(CAST(FLOOR(p / 0.01) AS BIGINT), 99) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS bin_count
  FROM band GROUP BY 1, 2
)
SELECT label, bin, bin_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS BIGINT) AS cum_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS class_total,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS DOUBLE)
         / CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS surviving_frac
FROM binned
""",
)
def q_stream_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship, incrementally (SURVEY §7 M4): the per-class score
    histogram is maintained by the streaming engine (state = 2 labels ×
    100 bins, bounded forever), and the survival curve — cumulative
    window + per-class normalize — is recomputed batch-side from those
    200 rows after each drain. At 100 TB this is the production shape:
    the unbounded event stream never re-scans; the curve refresh costs
    O(nbins), not O(events). Must equal the batch survival_curve —
    same oracle."""
    from pyspark.sql import Window

    ev = core.read_events_stream(spark, sf_dir)
    eid = F.col("event_id")
    shower = ev.select(
        (eid % 2).cast("int").alias("label"),
        (F.lit(14.0) + (eid * 131 % 2500) / F.lit(1000.0)).alias("lg_e"),
        (eid * 17 % 45).cast("double").alias("ze"),
        ((eid * 37 % 1000) / F.lit(1000.0)).alias("p"),
    )
    band = shower.filter(
        (F.col("ze") >= 0) & (F.col("ze") < 30) & (F.col("lg_e") >= 15) & (F.col("lg_e") < 16)
    )
    binned = band.groupBy(
        "label",
        F.least(F.floor(F.col("p") / 0.01), F.lit(99)).cast("int").alias("bin"),
    ).agg(F.count(F.lit(1)).alias("bin_count"))
    sink_tbl = core.run_to_memory(binned, "stream_survival_sink", state_partitions=8)
    hist = spark.table(sink_tbl)
    w_cum = (
        Window.partitionBy("label").orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("label")
    return hist.select(
        "label",
        "bin",
        "bin_count",
        F.sum("bin_count").over(w_cum).alias("cum_count"),
        F.sum("bin_count").over(w_tot).alias("class_total"),
        (F.sum("bin_count").over(w_cum).cast("double") / F.sum("bin_count").over(w_tot)).alias(
            "surviving_frac"
        ),
    )


@register(
    "stream_chained_window_rollup",
    survey_ref="§2.11,§2.6",
    oracle="""
WITH mx AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events),
hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
daily AS (
  SELECT time_bucket(INTERVAL '1 day', h) AS day_start, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(MAX(n) AS BIGINT) AS peak_hourly,
         CAST(SUM(n) AS BIGINT) AS total
  FROM hourly GROUP BY 1, 2
)
SELECT day_start, event_type, n_hours, peak_hourly, total
FROM daily, mx
WHERE day_start + INTERVAL 1 DAY <= mx.wm
""",
)
def q_stream_chained_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful aggregations in one streaming query (the
    Spark 3.5+/4 multi-stateful pipeline): a watermarked hourly
    tumbling count feeds a SECOND windowed aggregation — grouped on
    ``window(window_time(w), '1 day')``, the supported chaining form,
    no re-watermark — that rolls the hourly series up to daily
    hours/peak/total. This is the pre-aggregation cascade of a metrics
    pipeline: day-grain state only ever sees hour-grain rows. Append
    mode finalizes a day window only once the watermark
    (max event time − 1 h delay) passes its end, so the tail day of
    the fixture is withheld — the oracle encodes exactly that emission
    rule, pinning the semantics instead of papering over them. Counts
    are pure integers: the incremental replay must equal the batch
    rollup bit-exactly on every emitted day."""
    ev = core.read_events_stream(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("w"), "1 day").alias("d"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.max("n").alias("peak_hourly"),
            F.sum("n").alias("total"),
        )
        .select(
            F.col("d.start").alias("day_start"),
            "event_type",
            "n_hours",
            F.col("peak_hourly").cast("bigint").alias("peak_hourly"),
            F.col("total").cast("bigint").alias("total"),
        )
    )
    sink_tbl = core.run_to_memory(
        daily, "stream_chained_rollup_sink", output_mode="append", state_partitions=8
    )
    return spark.table(sink_tbl)


@register(
    "stream_ohlc_candlestick",
    survey_ref="§2.11,§2.6",
    oracle="""
WITH t AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT day, event_type,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS volume
FROM t GROUP BY 1, 2
""",
)
def q_stream_ohlc_candlestick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candlestick — the incremental form of
    ``ohlc_candlestick``: min_by/max_by on the unique (ts, event_id)
    struct give open/close with O(1) state per bar instead of the
    batch row_number sort, so a month of bars is maintained live as
    ticks arrive. Replay-equivalence: the drained stream must equal
    the batch window computation (same oracle shape)."""
    ev = core.read_events_stream(spark, sf_dir)
    sink_tbl = core.run_to_memory(core.daily_ohlc(ev), "stream_ohlc_sink", state_partitions=8)
    return spark.table(sink_tbl)


# ---------------------------------------------------------------------------
# Watermark late-data protocol, held to an exact SQL twin.

_LATE_BATCHES = 3
_LATE_DELAY = "1 hour"


def _late_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """A 3-file arrival-ordered replay copy of ``events``: file k holds
    time-tertile k, except that the 10% of rows with
    ``event_id % 10 == 0`` arrive TWO files late — stragglers that land
    after their windows have already been finalized (one file late
    would still find the window open, because eviction lags the
    watermark by one batch — see the query docstring).  File mtimes are
    pinned ascending so the streaming file source replays them in a
    deterministic order; ``maxFilesPerTrigger = 1`` then yields exactly
    one microbatch per file.  The fixture's stamp holds those mtimes,
    so a copy that lost them (``cp`` without ``-p``, a ``touch``) is
    rebuilt rather than replayed in another order.

    The tertile/late assignment is pure integer arithmetic over
    ``unix_millis(ts)`` and ``event_id`` so the DuckDB oracle can
    recompute the batch schedule bit-for-bit."""
    import os
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import (
        SCRATCH,
        derived_fixture,
        load_table,
        scratch_tag,
    )

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        mn, mx = ev.agg(
            F.min(F.unix_millis("ts")), F.max(F.unix_millis("ts"))
        ).collect()[0]
        bb = F.least(
            F.expr(f"(unix_millis(ts) - {mn}) * 3 DIV {mx - mn + 1}"),
            F.lit(_LATE_BATCHES - 1),
        )
        b = F.least(
            F.when(F.col("event_id") % 10 == 0, bb + 2).otherwise(bb),
            F.lit(_LATE_BATCHES - 1),
        )
        tagged = ev.withColumn("__b", b)
        os.makedirs(tmp)
        for k in range(_LATE_BATCHES):
            part_dir = os.path.join(tmp, f"_tmp{k}")
            tagged.filter(F.col("__b") == k).drop("__b").coalesce(1).write.parquet(part_dir)
            part = next(p for p in os.listdir(part_dir) if p.endswith(".parquet"))
            dst = os.path.join(tmp, f"b{k}.parquet")
            os.rename(os.path.join(part_dir, part), dst)
            shutil.rmtree(part_dir)
            os.utime(dst, (1000 * (k + 1), 1000 * (k + 1)))

    tag = scratch_tag(sf_dir)
    return derived_fixture(
        os.path.join(SCRATCH, f"late_replay2_{tag}"),
        [os.path.join(sf_dir, "events.parquet")],
        version=1,
        build=build,
    )


@register(
    "stream_late_data_accounting",
    survey_ref="§2.11",
    oracle="""
WITH p AS (
  SELECT event_id, event_type, ts, epoch_ms(ts) AS ms FROM events
),
mm AS (SELECT MIN(ms) AS mn, MAX(ms) AS mx FROM p),
tagged AS (
  SELECT event_type, ts,
         LEAST(CASE WHEN event_id % 10 = 0 THEN bb + 2 ELSE bb END, 2) AS b
  FROM (
    SELECT event_id, event_type, ts,
           LEAST(((ms - mn) * 3) // (mx - mn + 1), 2) AS bb
    FROM p, mm
  )
),
maxs AS (SELECT b, MAX(ts) AS mts FROM tagged GROUP BY b),
-- the watermark in effect during batch b (max event time over batches
-- < b, minus delay); windows with end <= that were EVICTED at the end
-- of batch b-1, so a batch-b row for such a window is dropped.
evict_horizon AS (
  SELECT t.b,
         (SELECT MAX(m.mts) FROM maxs m WHERE m.b < t.b - 1)
           - INTERVAL 1 HOUR AS closed_before
  FROM (SELECT DISTINCT b FROM tagged) t
),
kept AS (
  SELECT tg.event_type, time_bucket(INTERVAL '1 hour', tg.ts) AS window_start
  FROM tagged tg JOIN evict_horizon e ON e.b = tg.b
  WHERE e.closed_before IS NULL
     OR time_bucket(INTERVAL '1 hour', tg.ts) + INTERVAL 1 HOUR > e.closed_before
)
SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM kept
GROUP BY window_start, event_type
HAVING window_start + INTERVAL 1 HOUR <=
       (SELECT MAX(mts) - INTERVAL 1 HOUR FROM maxs)
""",
)
def q_stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark protocol, held to an exact relational
    twin: the events fixture is replayed as 3 arrival-ordered files
    (one microbatch each, 10% of rows arriving two batches late), a
    1-h watermark guards a tumbling (window × event_type) count, and
    the memory sink receives only FINALIZED windows.

    The oracle reproduces the engine's protocol exactly as pinned by
    experiment on this engine version (the naive "filter late input
    against the current watermark" model is WRONG and this oracle
    fails under it): the watermark in effect during batch k is
    max(event time over batches < k) − delay; input rows always merge
    into still-open windows — even rows below the current watermark;
    windows are EVICTED and emitted at the END of the batch whose
    in-effect watermark reaches their end (end ≤ wm, inclusive); only
    a row arriving for an already-evicted window is dropped, so the
    drop horizon for batch k is wm_{k-1}, one batch behind the
    watermark.  The terminal no-data microbatch advances the watermark
    to global-max − delay and flushes what it reaches; windows still
    open after that are withheld — the oracle's HAVING clause.  The
    conservation property (emitted + dropped + unflushed = input) is
    asserted from the engine's own numRowsDroppedByWatermark telemetry
    in ``tests/test_streaming_semantics.py``.

    Scale: state is one counter per open (window, type) — bounded by
    the watermark horizon; stragglers beyond it are rejected before
    the shuffle ships them anywhere."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import (
        file_schema,
    )

    replay = _late_replay_dir(spark, sf_dir)
    schema = file_schema(spark, replay)  # memoized footer read (r12)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "b*.parquet")
        .parquet(replay)
    )
    agg = (
        stream.withWatermark("ts", _LATE_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    sink_tbl = core.run_to_memory(
        agg,
        "stream_late_sink",
        output_mode="append",
        state_partitions=8,
    )
    return spark.table(sink_tbl)


@register(
    "stream_stream_left_outer_join",
    survey_ref="§2.11,§2.7",
    oracle="""
WITH v AS (
  SELECT user_id, event_id AS view_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
),
wmf AS (
  SELECT LEAST((SELECT MAX(v_ts) FROM v), (SELECT MAX(p_ts) FROM p))
         - INTERVAL 1 HOUR AS wm
)
SELECT v.user_id, v.view_id, p.purchase_id
FROM v JOIN p
  ON p.user_id = v.user_id
 AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
UNION ALL
SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS purchase_id
FROM v, wmf
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = v.user_id
          AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
      )
  AND v.v_ts + INTERVAL 1 HOUR < wmf.wm
""",
)
def q_stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream LEFT OUTER join with watermark-proven null
    emission, held to an exact relational twin: inner matches equal
    the batch theta-join; an unmatched view emits its null-padded row
    only once the GLOBAL watermark (min over both sides' operators,
    here least(max view ts, max purchase ts) − 1 h after the terminal
    no-data batch) strictly passes the view's match horizon — views
    whose horizon is still inside the watermark at termination are
    withheld, exactly like the open windows of
    ``stream_late_data_accounting``.  The oracle's NOT-EXISTS branch
    encodes that boundary; replay-equivalence would fail if the
    engine emitted eager, retracted, or duplicate outer rows."""
    ev = core.read_events_stream(spark, sf_dir)
    joined = core.view_purchase_left_join(ev)
    sink_tbl = core.run_to_memory(
        joined,
        "stream_stream_loj_sink",
        output_mode="append",
        state_partitions=4,
    )
    return spark.table(sink_tbl)


@register(
    "stream_foreach_batch_upsert",
    survey_ref="§2.11,§2.7,S4",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_id, ts,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT r.user_id,
       r.event_id AS last_event_id,
       r.cents AS last_cents,
       t.n_events
FROM ranked r
JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id) t USING (user_id)
WHERE r.rn = 1
""",
)
def q_stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT materialization via ``foreachBatch`` — the
    keyed-sink pattern every CDC pipeline runs: each microbatch of the
    3-file replay MERGEs into a versioned parquet snapshot (latest row
    per user by (ts, event_id), plus an accumulated per-user event
    count), read-merge-write with the new version published by
    directory swap so a crash mid-batch leaves the previous snapshot
    intact.  After the drain, the final snapshot must equal the batch
    latest-per-key + count over ALL events — the monoid property
    (merge of per-batch upserts ≡ global aggregate) that makes
    incremental materialization correct, same algebra as
    ``incremental_agg_maintenance`` but driven by the streaming
    engine.  On a lakehouse the read-merge-write becomes
    ``MERGE INTO`` (Delta/Iceberg); the versioned-swap protocol is
    identical."""
    import os
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH, scratch_tag

    replay = _late_replay_dir(spark, sf_dir)
    tag = scratch_tag(sf_dir)
    root = os.path.join(SCRATCH, f"upsert_sink_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    cur = os.path.join(root, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        delta = batch_df.select(
            "user_id",
            "event_id",
            "ts",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
            F.lit(1).cast("bigint").alias("n_events"),
        )
        if os.path.exists(cur):
            prev = s.read.parquet(cur).select(
                "user_id",
                F.col("last_event_id").alias("event_id"),
                F.col("last_ts").alias("ts"),
                F.col("last_cents").alias("cents"),
                "n_events",
            )
            delta = prev.unionByName(delta)
        merged = delta.groupBy("user_id").agg(
            F.max_by("event_id", F.struct(F.col("ts"), F.col("event_id"))).alias(
                "last_event_id"
            ),
            F.max(F.struct(F.col("ts"), F.col("event_id"))).getField("ts").alias(
                "last_ts"
            ),
            F.max_by("cents", F.struct(F.col("ts"), F.col("event_id"))).alias(
                "last_cents"
            ),
            F.sum("n_events").alias("n_events"),
        )
        nxt = os.path.join(root, f"v{batch_id}")
        merged.coalesce(4).write.mode("overwrite").parquet(nxt)
        tmp_old = cur + ".old"
        if os.path.exists(cur):
            os.rename(cur, tmp_old)
        os.rename(nxt, cur)
        shutil.rmtree(tmp_old, ignore_errors=True)

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import (
        file_schema,
    )

    schema = file_schema(spark, replay)  # memoized footer read (r12)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "b*.parquet")
        .parquet(replay)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .option(
            "checkpointLocation", os.path.join(root, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return spark.read.parquet(cur).select(
        "user_id", "last_event_id", "last_cents", "n_events"
    )


@register(
    "stream_hll_registers",
    survey_ref="§2.11,A3",
    oracle="""
WITH h AS (
  SELECT CASE WHEN ((user_id % 2147483648) * 2654435761 + 999331) % 4294967296 = 0
              THEN 1
              ELSE ((user_id % 2147483648) * 2654435761 + 999331) % 4294967296 END AS h
  FROM events
)
SELECT h % 64 AS bucket,
       CAST(MAX(CASE WHEN h // 64 = 0 THEN 27
                     ELSE 27 - LENGTH(bin(CAST(h // 64 AS INTEGER))) END) AS INTEGER) AS reg
FROM h GROUP BY h % 64 ORDER BY bucket
""",
)
def q_stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL sketch maintained INCREMENTALLY: the same 64-register
    distinct-count state as ``hll_distinct_estimate``, built by a
    streaming ``groupBy(bucket).max(rho)`` — max is the canonical
    mergeable streaming aggregate (monotone, idempotent, commutative),
    so the register table after draining the stream is byte-identical
    to the batch build, which is exactly the merge property that lets
    a 100 TB pipeline keep one tiny sketch per shard/micro-batch and
    OR them together at read time.  Complete-mode memory sink, 64 rows
    of state total."""
    ev = core.read_events_stream(spark, sf_dir)
    hraw = ((F.col("user_id") % 2147483648) * 2654435761 + 999331) % 4294967296
    h = F.when(hraw == 0, 1).otherwise(hraw)
    w = (h / 64).cast("long")
    rho = F.when(w == 0, 27).otherwise(27 - F.length(F.bin(w))).cast("int")
    regs = (
        ev.select((h % 64).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )
    sink_tbl = core.run_to_memory(regs, "stream_hll_registers_sink", state_partitions=8)
    return spark.table(sink_tbl).orderBy("bucket")


@register(
    "stream_cdc_chunk_dedup",
    survey_ref="§2.11,M5:dedup",
    oracle="""
WITH hashed AS (
  SELECT doc_id, text, LENGTH(text) AS n,
         list_filter(range(8, LENGTH(text)),
           i -> ((CAST(ascii(substring(text, i - 7, 1)) AS BIGINT) * 13163680
                + CAST(ascii(substring(text, i - 6, 1)) AS BIGINT) * 805498697
                + CAST(ascii(substring(text, i - 5, 1)) AS BIGINT) * 154885210
                + CAST(ascii(substring(text, i - 4, 1)) AS BIGINT) * 362470373
                + CAST(ascii(substring(text, i - 3, 1)) AS BIGINT) * 16974593
                + CAST(ascii(substring(text, i - 2, 1)) AS BIGINT) * 66049
                + CAST(ascii(substring(text, i - 1, 1)) AS BIGINT) * 257
                + CAST(ascii(substring(text, i, 1)) AS BIGINT)) % 1000000007) % 64 = 0)
           AS cuts
  FROM documents
),
bounds AS (
  SELECT doc_id, text,
         list_concat(list_concat([CAST(0 AS BIGINT)], cuts), [CAST(n AS BIGINT)]) AS b
  FROM hashed
),
chunks AS (
  SELECT substring(text, CAST(b[j] + 1 AS INTEGER), CAST(b[j + 1] - b[j] AS INTEGER)) AS chunk
  FROM bounds, unnest(range(1, len(b))) AS u(j)
  WHERE b[j + 1] > b[j]
),
per_chunk AS (
  SELECT chunk, CAST(COUNT(*) AS BIGINT) AS cnt FROM chunks GROUP BY chunk
)
SELECT CAST(SUM(cnt) AS BIGINT) AS total_chunks,
       CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
       CAST(SUM((cnt - 1) * LENGTH(chunk)) AS BIGINT) AS dup_bytes
FROM per_chunk
""",
)
def q_stream_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING content-defined-chunking dedup: documents arrive as a
    stream, the stateless Arrow chunking kernel (``cdc_chunk_stream``,
    shared with the batch query) cuts them in-flight, and the engine
    maintains the per-chunk count incrementally (complete-mode
    aggregate — the chunk table IS the dedup index a storage layer
    keeps warm); the final accounting rolls up the result table
    batch-side after the drain. Replay-equivalent to
    ``cdc_chunk_dedup``'s semantics by the DuckDB oracle.

    Scale: streaming state is one row per DISTINCT chunk (content-
    bounded, like the dedup index itself); the chunking projection is
    stateless, so the only stateful operator is the keyed count."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.text import (
        cdc_chunk_stream,
    )

    docs = core.read_documents_stream(spark, sf_dir)
    per_chunk = cdc_chunk_stream(docs).groupBy("chunk").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sink_tbl = core.run_to_memory(per_chunk, "stream_cdc_chunk_sink", state_partitions=8)
    sink = spark.table(sink_tbl)
    return sink.agg(
        F.sum("cnt").alias("total_chunks"),
        F.count(F.lit(1)).alias("distinct_chunks"),
        F.sum((F.col("cnt") - 1) * F.length("chunk")).alias("dup_bytes"),
    )


@register(
    "stream_psi_monitor",
    survey_ref="§2.11,A5",
    oracle="""
WITH mid AS (
  SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2 AS m
  FROM events
),
ref AS (
  SELECT CAST(LEAST(CAST(FLOOR(value / 10.0) AS BIGINT), 39) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS r
  FROM events, mid WHERE epoch_us(ts) < mid.m GROUP BY 1
),
cur AS (
  SELECT CAST(LEAST(CAST(FLOOR(value / 10.0) AS BIGINT), 39) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events, mid WHERE epoch_us(ts) >= mid.m GROUP BY 1
),
joined AS (
  SELECT COALESCE(ref.bin, cur.bin) AS bin,
         COALESCE(r, 0) AS r, COALESCE(c, 0) AS c
  FROM ref FULL OUTER JOIN cur ON ref.bin = cur.bin
),
tot AS (SELECT SUM(r) AS tr, SUM(c) AS tc FROM joined),
terms AS (
  SELECT CAST(ROUND(((c + 1) * 1.0 / (tot.tc + 40) - (r + 1) * 1.0 / (tot.tr + 40))
               * LN(((c + 1) * 1.0 / (tot.tc + 40)) / ((r + 1) * 1.0 / (tot.tr + 40)))
               * 1000000000) AS BIGINT) AS ipsi
  FROM joined, tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       ROUND(SUM(ipsi) / 1000000000.0, 6) AS psi
FROM terms
""",
)
def q_stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor: the reference histogram is a static
    batch relation (first half of the window); the current cohort's
    histogram is maintained INCREMENTALLY by the streaming engine
    (complete-mode 40-bin aggregate over the second half); PSI is
    computed batch-side over the drained result joined to the
    reference — the monitoring deployment shape where last week's
    distribution is a broadcast table and this week's accumulates in
    stream state. Batch twin: ``psi_population_stability``.

    Scale: stream state is 40 rows (bin-bounded, like
    ``stream_value_histogram``); the PSI terms are integer-encoded per
    bin before the 40-row SUM."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import (
        load_table,
    )

    ev_batch = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    mid_row = ev_batch.agg(
        (F.min(us) + F.expr("(max(unix_micros(ts)) - min(unix_micros(ts))) DIV 2")).alias("m")
    ).first()
    m = int(mid_row["m"])
    bin_col = F.least(F.floor(F.col("value") / 10.0).cast("long"), F.lit(39)).cast("int")
    ref = (
        ev_batch.filter(us < F.lit(m))
        .groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("r"))
    )
    ev_stream = core.read_events_stream(spark, sf_dir)
    cur_stream = (
        ev_stream.filter(F.unix_micros("ts") >= F.lit(m))
        .groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sink_tbl = core.run_to_memory(cur_stream, "stream_psi_cur_sink", state_partitions=8)
    cur = spark.table(sink_tbl)
    joined = ref.join(cur, "bin", "full_outer").select(
        F.coalesce(F.col("bin"), F.col("bin")).alias("bin"),
        F.coalesce(F.col("r"), F.lit(0)).alias("r"),
        F.coalesce(F.col("c"), F.lit(0)).alias("c"),
    )
    tot = joined.agg(F.sum("r").alias("tr"), F.sum("c").alias("tc"))
    p = (F.col("c") + 1) * 1.0 / (F.col("tc") + 40)
    q = (F.col("r") + 1) * 1.0 / (F.col("tr") + 40)
    terms = joined.crossJoin(F.broadcast(tot)).select(
        F.round((p - q) * F.log(p / q) * 1000000000).cast("long").alias("ipsi")
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.round(F.sum("ipsi") / 1000000000.0, 6).alias("psi"),
    )


@register(
    "stream_calibration_ece",
    survey_ref="§2.11,A5,A7",
    oracle="""
WITH scored AS (
  SELECT GREATEST(LEAST(CAST(FLOOR(value * 2500 + 0.5) AS BIGINT), 1000000), 0) AS conf_micro,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
per_bin AS (
  SELECT LEAST(conf_micro // 100000, 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(conf_micro) AS BIGINT) AS conf_sum
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(ABS(1000000 * n_pos - conf_sum)) AS BIGINT) AS gsum
  FROM per_bin
)
SELECT bin, n, n_pos,
       ROUND(conf_sum / (n * 1000000.0), 6) AS conf_avg,
       ROUND(n_pos * 1.0 / n, 6) AS acc,
       ROUND(tot.gsum / (tot.nn * 1000000.0), 6) AS ece
FROM per_bin, tot
ORDER BY bin
""",
)
def q_stream_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming calibration monitor — the production deployment of
    ``calibration_reliability_bins``: the per-confidence-decile
    integer sufficient statistics (n, positives, Σ confidence-micro)
    are maintained by the streaming engine in COMPLETE output mode
    (state = 10 bins, bounded forever, exactly the flagship-histogram
    shape of ``stream_survival_curve``), and the reliability diagram +
    ECE are recomputed batch-side from those 10 rows after each
    drain — a model-quality alarm that costs O(bins), not O(events),
    per refresh. Complete mode is load-bearing here: the memory sink
    is replaced wholesale per microbatch, so the batch-side rollup
    sees exactly one row per bin. Update mode would APPEND one row per
    (bin, microbatch) to the memory sink and the rollup would
    double-count — do not "align" this with update-mode deployments
    without switching the sink to a keyed upsert. Must equal the batch
    computation — same integer encoding, same oracle shape."""
    ev = core.read_events_stream(spark, sf_dir)
    scored = ev.select(
        F.greatest(
            F.least(F.floor(F.col("value") * 2500 + 0.5).cast("bigint"), F.lit(1000000)),
            F.lit(0),
        ).alias("conf_micro"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_bin = scored.groupBy(
        F.least(F.expr("conf_micro DIV 100000"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum("conf_micro").alias("conf_sum"),
    )
    # complete mode is REQUIRED (see docstring): the memory sink must be
    # replaced wholesale per microbatch so the rollup sees one row/bin.
    sink_tbl = core.run_to_memory(
        per_bin, "stream_calibration_sink", output_mode="complete", state_partitions=8
    )
    hist = spark.table(sink_tbl)
    tot = hist.agg(
        F.sum("n").alias("nn"),
        F.sum(F.abs(F.lit(1000000) * F.col("n_pos") - F.col("conf_sum"))).alias("gsum"),
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(F.col("conf_sum") / (F.col("n") * 1000000.0), 6).alias("conf_avg"),
            F.round(F.col("n_pos") * 1.0 / F.col("n"), 6).alias("acc"),
            F.round(F.col("gsum") / (F.col("nn") * 1000000.0), 6).alias("ece"),
        )
        .orderBy("bin")
    )


@register(
    "stream_substring_dup_rate",
    survey_ref="§2.11,M5:dedup",
    oracle=f"""
WITH {SUBSTR_GRAM_CTE},
per AS (
  SELECT gram, COUNT(*) AS cnt FROM grams GROUP BY 1
)
SELECT CAST(SUM(cnt) AS BIGINT) AS total_positions,
       CAST(COUNT(*) AS BIGINT) AS distinct_grams,
       CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
         AS dup_positions,
       ROUND(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 / SUM(cnt), 6)
         AS dup_rate
FROM per
""",
)
def q_stream_substring_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING substring-duplication monitor: documents arrive as a
    stream, the stateless L-gram projection (gram_project, shared with
    the batch substring-dedup family) explodes them in-flight, and the
    engine maintains the per-gram occurrence count incrementally
    (complete-mode aggregate — the gram table IS the duplication index
    the batch family keys its one big exchange on). The final
    accounting — duplicated-position rate at threshold L — rolls up
    the result table batch-side after the drain, replay-equivalent to
    the batch corpus numbers by the DuckDB oracle.

    Scale: streaming state is one row per DISTINCT gram (content-
    bounded, the same growth law the 10x state probe measured for CDC
    chunks: state = answer set exactly); the projection is stateless,
    so the only stateful operator is the keyed count.

    Sink note: the in-memory sink here is a FIXTURE-SCALE harness
    stand-in — it materializes the gram table on the driver, which is
    fine at test scale but NOT the production shape. At 100 TB the
    complete-mode aggregate writes to a distributed sink (Delta/
    parquet via foreachBatch, or a key-value store), and the 4-row
    dup-rate rollup below runs as a batch query over that sink; the
    executor-side state store already holds the gram counts
    incrementally either way, so only the drain target changes."""
    docs = core.read_documents_stream(spark, sf_dir)
    per_gram = gram_project(docs).groupBy("gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sink_tbl = core.run_to_memory(per_gram, "stream_substring_gram_sink", state_partitions=8)
    sink = spark.table(sink_tbl)
    dup = F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)
    return sink.agg(
        F.sum("cnt").cast("long").alias("total_positions"),
        F.count(F.lit(1)).cast("long").alias("distinct_grams"),
        F.sum(dup).cast("long").alias("dup_positions"),
        F.round(F.sum(dup) * 1.0 / F.sum("cnt"), 6).alias("dup_rate"),
    )


@register(
    "statestore_reader_audit",
    survey_ref="§2.11,§2.4",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       'stateStoreSave' AS operator_name,
       'default' AS store_name
FROM events GROUP BY 1
""",
)
def q_statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store DATA SOURCE (Spark 4 ``format("statestore")`` /
    ``format("state-metadata")``): after draining a keyed streaming
    aggregate through a durable checkpoint, read the operator's
    PERSISTED STATE back as a DataFrame and audit it against the
    semantic answer — the ops surface for debugging a 100 TB stateful
    job (is state skewed? which key leaks? what does the store hold
    after a failover?) without replaying the stream. The state rows
    (key.event_type, value.count) must equal the batch aggregate
    exactly — that equality IS the exactly-once state contract, and
    the DuckDB oracle checks it from the raw fixture. Metadata
    (operator name, store name) rides along from ``state-metadata``,
    pinned as literals in the oracle. The checkpoint lives in a scratch
    dir only long enough to be read back: both result frames are
    lineage-cut (localCheckpoint) before the scratch dir is removed,
    so the returned plan holds no filesystem dependency. State
    partitions are pinned to 4 for the drain (fixture-scale store-open
    cost, the run_to_memory sizing rule); the reader emits one row per
    key per partition, so the projection drops partition_id."""
    import shutil
    import tempfile
    import uuid as _uuid

    ev = core.read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ck = tempfile.mkdtemp(prefix="ss_audit_ck_")
    sink = f"statestore_audit_{_uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        # StreamExecution clones the session inside start(): restore
        # immediately so the pin cannot leak to concurrent threads
        # (same scoping rule as run_to_memory, r12).
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.awaitTermination()
    q.stop()
    state = (
        spark.read.format("statestore")
        .load(ck)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    meta = (
        spark.read.format("state-metadata")
        .load(ck)
        .select(
            F.col("operatorName").alias("operator_name"),
            F.col("stateStoreName").alias("store_name"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(ck, ignore_errors=True)
    try:
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    return state.crossJoin(F.broadcast(meta))
