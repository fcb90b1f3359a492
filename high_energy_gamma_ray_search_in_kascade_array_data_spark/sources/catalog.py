"""Parquet table catalog over the driver's star-schema fixtures.

Replaces the reference's keyed NPZ/NPY dense-array scans
(``create_train_valid_test_datasets.py:116-117``,
``train_classification.py:171-177``) with schema-carrying columnar
scans: ``spark.read.parquet`` gives predicate pushdown + column
pruning for free, which the reference performed by hand
(``train_classification.py:209-216``).
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to one canonical dtype — TimestampType (session
    TZ is UTC, so NTZ→LTZ is lossless) — whatever encoding the upstream
    parquet carries:

      * ``timestamp``      — already canonical, untouched;
      * ``timestamp_ntz``  — parquet TIMESTAMP(isAdjustedToUTC=false);
      * ``bigint``         — parquet TIMESTAMP(NANOS) surfaced as a
        nano-epoch long via ``spark.sql.legacy.parquet.nanosAsLong``.

    The reference's ETL reads whatever encoding the upstream files have
    (``create_train_valid_test_datasets.py:116-117`` just ``np.load``s);
    this is the one seam where the Spark engine does the same, so every
    downstream query stays dtype-blind.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Spread a STARVED scan across cores — repartition only when the
    frame has fewer partitions than ``defaultParallelism``. The driver
    fixtures are single parquet files (= one scan task), so per-row
    compute downstream (explodes, decode kernels) would otherwise run
    single-threaded; a production deployment's inputs are already
    multi-split with splits >> cores, where this is a structural no-op
    — the conditional is what keeps the pattern from ever exchanging
    a 100 TB corpus (r10; measured both ways at the 1000x BPE probe:
    starved 25.4 s, spread 9.4 s, and the exchange itself is cheap at
    the scales where the branch fires).

    Streaming frames pass through untouched: micro-batch parallelism
    is the source's concern (maxFilesPerTrigger / partitions), and
    ``df.rdd`` would raise AnalysisException at plan time on a
    streaming DataFrame."""
    if df.isStreaming:
        return df
    dp = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        return df.repartition(dp)
    return df


def stat_key(path: str):
    """(mtime_ns, size, one-level entry stats) of ``path``, or None
    (= never cache) when the path is missing, remote, or too big to
    stat cheaply. Any rewrite, append or replace of the file(s)
    changes the key — the staleness rule of every memo and derived
    fixture in the package."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    entries: tuple = ()
    if os.path.isdir(path):
        try:
            es = sorted(os.scandir(path), key=lambda e: e.name)
        except OSError:
            return None
        if len(es) > 256:
            return None  # big real table: listing cost rivals the read
        entries = tuple((e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in es)
    return (st.st_mtime_ns, st.st_size, entries)


# Derived fixtures (media files, partitioned layouts, replay copies)
# live here, beside the checkout, one entry per fixture and SF tag.
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")

_DERIVED_LOCK = threading.Lock()


def derived_fixture(path: str, sources, version: int, build) -> str:
    """Return ``path``, a fixture derived from the files ``sources``.

    It is reused while the sidecar ``<path>.stamp`` still equals
    (version, each source's realpath and stat key, the fixture's own
    stat key). Otherwise ``build(tmp)`` writes a fresh copy into
    ``<path>.build``, that copy replaces ``path`` by rename, and only
    then is the stamp written: a build that raises publishes nothing.
    A source with no stat key is rebuilt on every call, as the read
    memo never caches it; a fixture too big to list is stamped by
    version and sources alone. One lock serializes concurrent drivers
    sharing a fixture."""
    stamp_path = path + ".stamp"
    with _DERIVED_LOCK:
        src = tuple((os.path.realpath(s), stat_key(s)) for s in sources)

        def stamp() -> str:
            return repr((version, src, stat_key(path)))

        try:
            with open(stamp_path) as f:
                old = f.read()
        except OSError:
            old = None
        if old == stamp() and os.path.exists(path) and all(sk is not None for _, sk in src):
            return path
        tmp, prev = path + ".build", path + ".old"
        for d in (tmp, prev):
            shutil.rmtree(d, ignore_errors=True)
        try:
            build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if os.path.exists(path):
            os.rename(path, prev)
        os.rename(tmp, path)
        shutil.rmtree(prev, ignore_errors=True)
        with open(stamp_path + ".tmp", "w") as f:
            f.write(stamp())
        os.replace(stamp_path + ".tmp", stamp_path)
        return path


# Read memo: (session id, path, stat key, build) -> (session, value).
# A build audit measured ~0.1 s of driver-side Py4J + footer
# planning per resolved scan — a fixed cost every query pays per
# table, serialized across concurrent streams. A resolved DataFrame
# or footer schema is immutable, so it is reused until the stat key
# changes. Session-keyed because resolution is conf-sensitive
# (``nanosAsLong`` turns TIMESTAMP(NANOS) into bigint per session);
# holding the session in the value pins id(spark) against reuse.
_READ_MEMO: dict = {}
_READ_MEMO_MAX = 512


def _cached_read(spark: SparkSession, path: str, build):
    """``build(spark, path)``, memoized per (session, path, stat key)."""
    sk = stat_key(path)
    if sk is None:
        return build(spark, path)
    key = (id(spark), path, sk, build)
    hit = _READ_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    out = build(spark, path)
    if len(_READ_MEMO) >= _READ_MEMO_MAX:
        _READ_MEMO.clear()
    _READ_MEMO[key] = (spark, out)
    return out


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    return normalize_events_ts(spark.read.parquet(path))


def _footer_schema(spark: SparkSession, path: str):
    return spark.read.parquet(path).schema


def file_schema(spark: SparkSession, path: str):
    """Footer schema of ``path`` exactly as ``spark.read.parquet``
    resolves it — the explicit schema a streaming file source needs."""
    return _cached_read(spark, path, _footer_schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (schema comes from parquet);
    ``events.ts`` is normalized to a canonical timestamp regardless of
    the fixture's physical encoding (see ``normalize_events_ts``)."""
    # Dynamic SQL confs — set here (not only in our session factory)
    # so a driver-owned SparkSession gets them too. UTC session time
    # is load-bearing: the NTZ→LTZ ts normalization below, every
    # hour()/date_trunc() rendering, and the DuckDB oracle comparison
    # all assume it; a JVM-default timezone would silently re-base
    # event time. nanosAsLong is a no-op for non-NANOS encodings.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _cached_read(spark, path, _read_events if name == "events" else _read_parquet)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so the SQL surface
    (``spark.sql``) sees the same catalog the DataFrame API does."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
