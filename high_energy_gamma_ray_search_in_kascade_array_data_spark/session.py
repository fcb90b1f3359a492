"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same config block is what we would ship to a 1000-executor
cluster — AQE on (runtime coalescing + skew-join handling), Arrow on
(every pandas_udf crossing is batched), UTC session timezone (parquet
timestamps compare bit-for-bit against the DuckDB oracle).

The driver JVM starts on a dynamic class-data-sharing archive
(JEP 350) of the classes a Spark session loads, which roughly halves
its start-up. The archive is a derived fixture of the checkout,
``.scratch/jvm_cds/spark.jsa``: the first launch after a miss dumps
it from a short training session in a child process. A missing,
stale or unusable archive falls back to a plain launch.
"""

from __future__ import annotations

import contextlib
import glob
import logging
import os
import shutil
import signal
import subprocess
import sys
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH, derived_fixture

log = logging.getLogger(__name__)

PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The archive, and the empty conf dir that every archive launch puts on
# the classpath in place of $SPARK_HOME/conf: CDS refuses a non-empty
# directory on the classpath, and maps the archive only when the
# classpath is the one it was dumped with, so the dir has one fixed path.
CDS_DIR = os.path.join(SCRATCH, "jvm_cds")
CDS_CONF_DIR = os.path.join(SCRATCH, "jvm_cds_conf")
CDS_VERSION = 1
# -Xshare:auto maps the archive when it validates and otherwise runs
# without it; its warnings would go to stdout.
_CDS_QUIET = "-Xshare:auto -Xlog:cds=off -Xlog:cds+dynamic=off"
# The dump takes 30-45 s on 4 cores; a hung one must not hang the caller.
_DUMP_TIMEOUT_S = 300


def driver_memory() -> str:
    """The default driver heap: half the host's RAM, at most 31g, so
    the JVM keeps compressed oops, which the archive needs."""
    gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30
    return f"{max(1, min(31, gib // 2))}g"


def get_spark(
    app_name: str = "kascade_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    return _start(app_name, shuffle_partitions, extra_confs, _cds_options())


def _start(
    app_name: str,
    shuffle_partitions: int | None,
    extra_confs: dict[str, str] | None,
    cds: tuple[str, str] | None,
) -> SparkSession:
    """The session; ``cds`` is (java options, conf dir) of an archive
    launch, or None for a plain one."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    # Python workers inherit the JVM's environment; putting the compat
    # worker_site dir on PYTHONPATH *before* the JVM launches lets its
    # sitecustomize install the protobuf shim inside every worker —
    # which is where transformWithStateInPandas' state-protocol client
    # runs. No-op when the real protobuf package exists (the shim
    # checks first) or when the session already started. The mutation
    # is scoped: the prior PYTHONPATH is restored after getOrCreate so
    # the worker_site dir (and its sitecustomize) does not leak into
    # non-Spark subprocesses spawned later from this driver (ADVICE
    # r5); the JVM captured the env at launch, which is all workers see.
    # The package's parent directory rides along the same way, so the
    # workers can unpickle the package's functions (pandas_udf bodies)
    # even when the driver was started from a cwd outside the checkout.
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.compat import pbshim

    prior_pp = os.environ.get("PYTHONPATH")
    pp = prior_pp.split(os.pathsep) if prior_pp else []
    missing = [d for d in (pbshim.worker_site_dir(), PKG_PARENT) if d not in pp]
    env = {"PYTHONPATH": os.pathsep.join(missing + pp)}
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(min(n, 32))))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sizing: ~cores locally; on a real cluster this would be
        # sized so post-shuffle partitions are 100-200MB (AQE coalesces down)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16 MB: every genuine dim at test scales still auto-broadcasts,
        # but multi-million-row fact slices no longer do — the r6 30×
        # probe caught 64 MB letting a 4.5M-row orders build side
        # broadcast (single-threaded hash-relation build, super-linear
        # wall). AQE still upgrades shuffle joins to broadcast at
        # runtime from exact sizes when the small side proves small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver's events fixture stores ts as TIMESTAMP(NANOS),
        # which vanilla Spark refuses — read as long, convert in catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4 wraps every DataFrame and F.* call to record its
        # Python call site: a stack walk and about five Py4J round trips
        # each, a large share of a query's driver build. Errors keep
        # their class, message and DataFrame fragment and lose only the
        # caller's file:line. PySpark reads the flag once per process,
        # from the first active session; extra_confs can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if cds is not None:
        # defaultJavaOptions, not extraJavaOptions: callers pass their
        # own extraJavaOptions, and the launcher adds both
        builder = builder.config("spark.driver.defaultJavaOptions", cds[0])
        env["SPARK_CONF_DIR"] = cds[1]
    # launch-time-only confs (event log, memory overrides) callers such
    # as the skew probe need; no-ops when the session already exists
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    with _scoped_env(env):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextlib.contextmanager
def _scoped_env(env: dict[str, str]):
    """Set ``env`` in ``os.environ`` for the block, then restore the
    prior values: the JVM captures the environment at launch, and later
    subprocesses of this driver should not see the launch's values."""
    prior = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _cds_options() -> tuple[str, str] | None:
    """The JVM options and conf dir that start the driver on the
    archive, dumping it first on a stamp miss; None launches exactly as
    without it."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no JVM launch ahead: it runs already, or someone else started it
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    try:
        conf_files = os.listdir(conf_dir)
    except OSError:
        conf_files = []
    if any(not f.endswith(".template") for f in conf_files):
        return None  # a user's spark-defaults.conf or log4j2.properties stays in force
    core = glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    archive = os.path.join(CDS_DIR, "spark.jsa")
    if len(core) != 1 or not java or not os.path.exists(java) or any(c in archive for c in " \t\n\"'\\"):
        return None  # no stamp sources, or a path the launcher would split at blanks and quotes
    try:
        os.makedirs(CDS_CONF_DIR, exist_ok=True)
        derived_fixture(CDS_DIR, [core[0], java, CDS_CONF_DIR], CDS_VERSION, _dump_archive)
    except OSError as e:
        log.warning("launching Spark without a class-data-sharing archive: %s", e)
        return None
    if not os.path.isfile(archive):
        return None  # the dump from these sources failed, and said so once
    return f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", CDS_CONF_DIR


def _dump_archive(out_dir: str) -> None:
    """Dump the archive into ``out_dir/spark.jsa`` from a child process
    that runs ``_train``. A failed dump logs one warning and leaves
    ``out_dir`` without an archive: published and stamped like an
    archive, it keeps later launches from these sources plain instead
    of paying for the same failed dump again."""
    os.makedirs(out_dir)
    jsa = os.path.join(out_dir, "spark.jsa")
    args = f"{jsa!r}, {CDS_CONF_DIR!r}"
    script = f"import sys; sys.path.insert(0, {PKG_PARENT!r}); from {__name__} import _train; _train({args})"
    # its own session, so that a timeout kills the child's JVM too
    # before that JVM can write a partial archive
    with subprocess.Popen(
        [sys.executable, "-c", script],
        stdin=subprocess.DEVNULL,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    ) as child:
        try:
            err = child.communicate(timeout=_DUMP_TIMEOUT_S)[1]
        except subprocess.TimeoutExpired:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(child.pid, signal.SIGKILL)
            child.communicate()
            err = f"timed out after {_DUMP_TIMEOUT_S} s"
    if child.returncode != 0 or not os.path.isfile(jsa) or os.path.getsize(jsa) == 0:
        with contextlib.suppress(FileNotFoundError):
            os.remove(jsa)
        log.warning(
            "launching Spark without a class-data-sharing archive: dump exited %s: %s", child.returncode, err[-800:]
        )


def _train(jsa: str, conf_dir: str) -> None:
    """A session on ``conf_dir`` that loads the classes a typical run
    needs, then exits its JVM normally so that
    ``-XX:ArchiveClassesAtExit`` writes ``jsa``.
    The job is generic (no benchmark query): worker start, parquet
    write and read, shuffle, window, broadcast join, an Arrow pandas
    UDF, a ``noop`` write and an Arrow collect."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = _start("jvm_cds_dump", None, None, (f"-XX:ArchiveClassesAtExit={jsa} {_CDS_QUIET}", conf_dir))
    dp = spark.sparkContext.defaultParallelism
    spark.range(0, dp, 1, dp).mapInPandas(lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    twice = F.pandas_udf(lambda x: x * 2.0, "double")  # no type hints: a scalar pandas UDF
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t.parquet")
        spark.range(0, 20000, 1, dp).select(
            "id",
            (F.col("id") % 7).alias("k"),
            F.rand(1).alias("x"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.concat(F.lit("e"), F.col("id").cast("string")).alias("s"),
        ).write.parquet(path)
        t = spark.read.parquet(path)
        dim = spark.range(7).select(F.col("id").alias("k"), F.col("id").cast("string").alias("name"))
        w = Window.partitionBy("k").orderBy("x")
        out = (
            t.join(F.broadcast(dim), "k")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("y", twice("x"))
            .groupBy("name")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("y"), F.max("ts").alias("ts"))
        )
        out.write.format("noop").mode("overwrite").save()
        out.toPandas()
        t.createOrReplaceTempView("t")
        spark.sql("SELECT k, COUNT(DISTINCT s) AS n FROM t GROUP BY k ORDER BY k").collect()
    gateway = SparkContext._gateway
    jvm = spark._jvm
    spark.stop()
    # a normal JVM exit, not PySpark's kill at interpreter exit, is what
    # writes the archive; the call never returns
    with contextlib.suppress(Exception):
        jvm.System.exit(0)
    code = gateway.proc.wait(timeout=_DUMP_TIMEOUT_S)
    if code != 0:  # a JVM that failed while writing may leave a partial archive
        raise SystemExit(f"JVM exited {code} while dumping {jsa}")
