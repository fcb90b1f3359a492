"""The session factory's launch: the driver JVM starts on the
checkout's class-data-sharing archive, built once by
``derived_fixture``, and every case where the archive cannot be used
still gives a working, oracle-exact session with nothing from the JVM
on stdout.

Each case needs a JVM launch of its own, so each runs in a child
process; the archive cases point ``session.CDS_DIR`` and
``session.CDS_CONF_DIR`` at a temporary directory first."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from high_energy_gamma_ray_search_in_kascade_array_data_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "high_energy_gamma_ray_search_in_kascade_array_data_spark"
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def launch(prelude: str = "", extra_confs: dict | None = None, env: dict | None = None) -> dict:
    """Run ``get_spark`` in a child process after ``prelude``, then
    ``etl_prepare_datasets`` against its DuckDB oracle. Returns the
    child's report; its stdout must hold that report and nothing else."""
    script = textwrap.dedent(
        f"""
        import json, os, sys
        sys.path.insert(0, {ROOT!r})
        from {PKG} import session
        dumps = []
        _dump = session._dump_archive
        def counted_dump(out_dir):
            dumps.append(out_dir)
            _dump(out_dir)
        session._dump_archive = counted_dump
        """
    ) + textwrap.dedent(prelude) + textwrap.dedent(
        f"""
        from pyspark import SparkContext
        from pyspark.errors import utils as origin
        from pyspark.sql import functions as F
        from {PKG}.registry import corpus
        from tests.oracle_utils import compare_frames, duckdb_con, exact_hash_problems
        spark = session.get_spark("test_session", shuffle_partitions=2, extra_confs={extra_confs!r})
        with open(f"/proc/{{SparkContext._gateway.proc.pid}}/maps") as f:
            mapped = sorted({{ln.split()[-1] for ln in f if ln.rstrip().endswith(".jsa")}})
        q = corpus()["etl_prepare_datasets"]
        # each captured call site is one PySparkCurrentOrigin set/clear pair
        captures = []
        _capture = origin._capture_call_site
        def counted_capture(*args):
            captures.append(args)
            return _capture(*args)
        origin._capture_call_site = counted_capture
        df = q.fn(spark, {SF_DIR!r})
        origin._capture_call_site = _capture
        got = df.toPandas()
        try:
            spark.range(1).select(F.col("id") / F.lit(0)).collect()
            error = ""
        except Exception as e:
            error = f"{{type(e).__name__}}: {{e}}"
        con = duckdb_con({SF_DIR!r})
        want = con.execute(q.oracle).fetchdf()
        con.close()
        report = {{
            "mapped": mapped,
            "dumps": len(dumps),
            "problems": compare_frames(got, want) + exact_hash_problems(got, want),
            "rows": len(got),
            "probe_property": spark._jvm.System.getProperty("graft.probe"),
            "user_conf": spark.conf.get("spark.graft.userconf", None),
            "spark_conf_dir": os.environ.get("SPARK_CONF_DIR"),
            "origin_captures": len(captures),
            "error": error,
        }}
        spark.stop()
        print(json.dumps(report))
        """
    )
    child_env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    child_env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="2g")
    child_env.update(env or {})
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=child_env, capture_output=True, text=True, timeout=600
    )
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-3000:]}"
    lines = r.stdout.splitlines()
    assert len(lines) == 1, f"more than the report on stdout:\n{r.stdout[-3000:]}"
    report = json.loads(lines[0])
    assert not report["problems"] and report["rows"] > 0, report
    report["stderr"] = r.stderr
    return report


@pytest.fixture(scope="module")
def default_launch():
    """One launch with the checkout's own archive and a caller's
    ``spark.driver.extraJavaOptions``."""
    return launch(extra_confs={"spark.driver.extraJavaOptions": "-Dgraft.probe=caller"})


def test_get_spark_maps_the_archive(default_launch):
    assert os.path.join(session.CDS_DIR, "spark.jsa") in default_launch["mapped"], default_launch["mapped"]
    assert default_launch["spark_conf_dir"] is None  # the launch's conf dir is not left behind


def test_callers_extra_java_options_reach_the_jvm(default_launch):
    assert default_launch["probe_property"] == "caller"


def test_dataframe_calls_capture_no_call_site(default_launch):
    """PySpark's DataFrame debugging is off: building the chain's
    ``etl_prepare_datasets`` captures no Python call site, so it makes
    no ``PySparkCurrentOrigin`` round trips. A query error still names
    its class and the DataFrame operation that raised it."""
    assert default_launch["origin_captures"] == 0
    error = default_launch["error"]
    assert error.startswith("ArithmeticException: [DIVIDE_BY_ZERO]"), error[:500]
    assert '== DataFrame ==\n"divide" was called from' in error, error[:500]


@pytest.fixture(scope="module")
def cds_home(tmp_path_factory):
    """An archive home of its own: built by a first launch that finds
    no archive, then reused, damaged and staled by the tests below, in
    file order."""
    home = tmp_path_factory.mktemp("cds")
    prelude = f"""
    session.CDS_DIR = {str(home / "jvm_cds")!r}
    session.CDS_CONF_DIR = {str(home / "jvm_cds_conf")!r}
    """
    return home, prelude, launch(prelude)


def test_missing_archive_is_built_and_mapped(cds_home):
    home, _, first = cds_home
    assert first["dumps"] == 1
    assert str(home / "jvm_cds" / "spark.jsa") in first["mapped"], first["mapped"]


def test_second_process_reuses_the_archive(cds_home):
    home, prelude, _ = cds_home
    stamp = home / "jvm_cds.stamp"
    before = (stamp.stat().st_mtime_ns, (home / "jvm_cds" / "spark.jsa").stat().st_ino)
    again = launch(prelude)
    assert again["dumps"] == 0
    assert (stamp.stat().st_mtime_ns, (home / "jvm_cds" / "spark.jsa").stat().st_ino) == before
    assert str(home / "jvm_cds" / "spark.jsa") in again["mapped"]


def test_truncated_archive_is_rebuilt(cds_home):
    """The JVM maps a truncated archive and dies of SIGBUS, so the
    stamp, which holds the archive's size, must catch it first."""
    home, prelude, _ = cds_home
    jsa = home / "jvm_cds" / "spark.jsa"
    os.chmod(jsa, 0o644)
    with open(jsa, "r+b") as f:
        f.truncate(jsa.stat().st_size // 2)
    rebuilt = launch(prelude)
    assert rebuilt["dumps"] == 1
    assert str(jsa) in rebuilt["mapped"]


def test_stale_archive_whose_rebuild_fails_launches_plainly(cds_home):
    """A stamp source touched makes the archive stale. When its rebuild
    fails (here: times out), one warning is logged and the JVM starts
    without an archive; the failure is stamped, so the next launch from
    the same sources starts plainly without dumping again."""
    home, prelude, _ = cds_home
    conf_dir = home / "jvm_cds_conf"
    st = conf_dir.stat()
    os.utime(conf_dir, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    plain = launch(prelude + "session._DUMP_TIMEOUT_S = 2\n")
    assert plain["dumps"] == 1
    assert not any(p.startswith(str(home)) for p in plain["mapped"]), plain["mapped"]
    assert plain["stderr"].count("without a class-data-sharing archive: dump exited") == 1, plain["stderr"][-3000:]
    assert not (home / "jvm_cds" / "spark.jsa").exists()
    again = launch(prelude)
    assert again["dumps"] == 0
    assert not any(p.startswith(str(home)) for p in again["mapped"]), again["mapped"]
    assert "class-data-sharing" not in again["stderr"]


def test_user_conf_dir_keeps_the_plain_launch(tmp_path):
    """A conf dir with a real spark-defaults.conf is launched as
    before: its settings apply, no archive is built or mapped, and the
    caller's SPARK_CONF_DIR is left as it was. A caller who turns
    DataFrame debugging back on gets the call sites captured."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.userconf  kept\n")
    r = launch(extra_confs={"spark.python.sql.dataFrameDebugging.enabled": "true"}, env={"SPARK_CONF_DIR": str(conf)})
    assert r["origin_captures"] > 0
    assert r["user_conf"] == "kept"
    assert r["dumps"] == 0
    assert os.path.join(session.CDS_DIR, "spark.jsa") not in r["mapped"]
    assert r["spark_conf_dir"] == str(conf)


def test_derived_fixture_builds_once_across_processes(tmp_path):
    """Two processes that miss the same fixture at once run its build
    once: the second waits on the first's lock, then finds the stamp."""
    path = tmp_path / "fixture"
    log = tmp_path / "builds.log"
    source = tmp_path / "source"
    source.write_text("s")
    script = textwrap.dedent(
        f"""
        import os, sys, time
        sys.path.insert(0, {ROOT!r})
        from {PKG}.sources.catalog import derived_fixture
        def build(tmp):
            with open({str(log)!r}, "a") as f:
                f.write(f"{{os.getpid()}}\\n")
            time.sleep(3.0)
            os.makedirs(tmp)
            with open(os.path.join(tmp, "data"), "w") as f:
                f.write("x")
        print(derived_fixture({str(path)!r}, [{str(source)!r}], 1, build))
        """
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert [o.strip() for o, _ in outs] == [str(path)] * 2
    assert len(log.read_text().splitlines()) == 1
    assert (path / "data").read_text() == "x"
