"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kascade_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
- the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it is a JSON record of the run (input
manifest, conf snapshot, tail percentile and sample counts, failures);
the same record is written under ``.perfbench/results/``.

Everything the run writes goes under ``.perfbench/`` in the checkout:
generated inputs, Spark local and temp dirs, the event log and results.
The package writes its own derived fixtures under ``.scratch/``.
"""

from __future__ import annotations

import time

T_ENTRY = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PKG = "high_energy_gamma_ray_search_in_kascade_array_data_spark"

sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

# Session set-ups measured per run; setup_s is their median.
SETUP_SAMPLES = 2
# Samples that must lie beyond the percentile reported as query_s_tail.
TAIL_BEYOND = 10


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Point every writer at the checkout and fix the core count before
    any JVM starts; the JVM and Python workers inherit this env."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for p in (os.path.join(ROOT, "tests"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def session_confs(event_log_dir: str | None) -> dict[str, str]:
    # the JVM's temp files go to the checkout; -UsePerfData stops the
    # JVM's hsperfdata file, which ignores java.io.tmpdir
    tmp = os.path.join(WORK, "tmp")
    confs = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if event_log_dir is not None:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return confs


def prime_workers(spark) -> None:
    """Start one Python worker per core with a trivial Arrow job."""
    dp = spark.sparkContext.defaultParallelism
    spark.range(0, dp, 1, dp).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def start_session(event_log_dir: str | None = None, tracer=None):
    """Session up, corpus imported, worker pool primed.  Returns
    ``(spark, corpus, seconds)`` timed from this call."""

    def span(name):
        return tracer.span(name) if tracer is not None else contextlib.nullcontext()

    t0 = time.time()
    from high_energy_gamma_ray_search_in_kascade_array_data_spark import registry
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.session import get_spark

    with span("session.get_spark"):
        spark = get_spark("perfbench", extra_confs=session_confs(event_log_dir))
    with span("registry.corpus"):
        reg = registry.corpus()
    with span("session.prime"):
        prime_workers(spark)
    return spark, reg, time.time() - t0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper
    (state Z) has ended."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2 : raw.rindex(b")") + 3] != b"Z"


def stop_session(spark, graceful: bool = True) -> None:
    """Stop Spark, then the JVM it launched and the JVM's Python
    workers, and wait until every one of them has ended.  Without
    ``graceful`` the JVM and workers are killed instead."""
    from pyspark import SparkContext

    tree = procstat.ProcessTree()
    pids = [p for p in tree._tree() if p != tree.root]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if graceful:
        spark.stop()
        gateway.shutdown()
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    else:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if proc is not None:
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)


def setup_probe() -> int:
    """One set-up sample: process start until the pool is primed."""
    prepare_env()
    spark, _, _ = start_session()
    secs = time.time() - procstat.process_start_time()
    stop_session(spark, graceful=False)
    print(json.dumps({"setup_s": secs}))
    return 0


def run_self(args: list[str]) -> dict:
    """Run this script in a child process; return its last JSON line."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=170,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"child {args} exited {out.returncode}")
    return json.loads(lines[-1])


def inputs_for(workload, seed: int) -> tuple[str, dict]:
    """Generate (or reuse, when already generated for this seed and
    spec) the workload's input directory; return it and its manifest."""
    import gen  # numpy and pyarrow: kept out of the set-up probes' imports

    d = os.path.join(WORK, "inputs", f"{workload.name}-s{seed}")
    mpath = os.path.join(d, "manifest.json")
    spec = dataclasses.asdict(workload.inputs)
    if os.path.exists(mpath):
        with open(mpath) as fh:
            m = json.load(fh)
        if m.get("seed") == seed and m.get("spec") == spec:
            return d, m
    tables = gen.generate(d, seed, workload.inputs)
    m = {"seed": seed, "spec": spec, "tables": tables}
    with open(mpath + ".tmp", "w") as fh:
        json.dump(m, fh, indent=1)
    os.replace(mpath + ".tmp", mpath)
    return d, m


def run_loop(spark, reg, workload, seed: int, seconds: float, in_dir: str, tree, tracer=None):
    """The closed loop: ``workloads.n_rounds`` whole rounds, about
    ``seconds`` long on the reference host.

    Returns (samples, result frame per successful run id, rounds, wall
    seconds).  A sample is one query run: fn() plus a full ``noop``
    write of its result."""
    samples = []
    frames = {}
    seen: set[str] = set()
    sched = workloads.rounds(workload, seed)
    sc = spark.sparkContext
    n_rounds = workloads.n_rounds(workload, seconds)
    t_loop = time.perf_counter()
    for _ in range(n_rounds):
        for name in next(sched):
            rid = len(samples)
            s = {"rid": rid, "query": name, "first": name not in seen}
            seen.add(name)
            cpu0 = tree.snapshot()
            s["t0"] = time.time()
            t0 = time.perf_counter()
            try:
                if tracer is not None:
                    tracer.qid = rid
                    sc.setJobGroup(f"perfbench:{rid}", name)
                    with tracer.span("query"):
                        with tracer.span("queries.build"):
                            df = reg[name].fn(spark, in_dir)
                        with tracer.span("catalyst"):
                            s["catalyst"] = spans.catalyst_phases(df)
                        with tracer.span("action"):
                            df.write.format("noop").mode("overwrite").save()
                else:
                    df = reg[name].fn(spark, in_dir)
                    df.write.format("noop").mode("overwrite").save()
                s["ok"] = True
                frames[rid] = df
            except Exception:  # noqa: BLE001 - a failing query is a measured outcome
                s["ok"] = False
                s["error"] = traceback.format_exc(limit=3)
            s["wall"] = time.perf_counter() - t0
            s["t1"] = time.time()
            cpu1 = tree.snapshot()
            s["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
            if tracer is not None:
                tracer.qid = None
                s["persisted_bytes"] = spans.persisted_bytes(spark)
            samples.append(s)
    return samples, frames, n_rounds, time.perf_counter() - t_loop


def check_results(spark, reg, samples, frames: dict, in_dir: str) -> dict[int, list[str]]:
    """Oracle check of every query run, outside the timed loop:
    {run id: problems}, empty when the run's result matches.

    A run that raised has its error as its problem.  Each other run's
    result frame - the plan its own fn() call built, with whatever
    cache state that call met - is run again with ``toPandas()`` and
    compared with the query's oracle on the same inputs."""
    from oracle_utils import compare_frames, duckdb_con

    spark.sparkContext.setJobGroup("check", "oracle check")
    con = duckdb_con(in_dir)
    expected = {}
    problems = {}
    try:
        for s in samples:
            rid, name = s["rid"], s["query"]
            if not s["ok"]:
                problems[rid] = [f"raised: {s['error'].strip().splitlines()[-1]}"]
                continue
            try:
                got = frames[rid].toPandas()
                oracle = reg[name].oracle
                if oracle is None:
                    problems[rid] = []
                    continue
                if name not in expected:
                    expected[name] = con.execute(oracle).fetchdf()
                problems[rid] = compare_frames(got, expected[name])
            except Exception as e:  # noqa: BLE001 - an unreadable result is a failure
                problems[rid] = [f"check raised: {type(e).__name__}: {e}"[:500]]
    finally:
        con.close()
    return problems


def problem_record(samples, problems) -> dict:
    return {f"{s['query']}#{s['rid']}": problems[s["rid"]] for s in samples if problems.get(s["rid"])}


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) at the highest whole percentile that leaves
    at least TAIL_BEYOND samples above it, interpolated between the two
    nearest samples (the maximum, as percentile 100, when there are too
    few samples)."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return max(values), 100
    pct = 100 * (n - TAIL_BEYOND) // n
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct


def conf_snapshot(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "cores": spark.sparkContext.defaultParallelism,
        "master": conf.get("spark.master"),
        "driver_memory": conf.get("spark.driver.memory", ""),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
    }


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def mix_p50(samples) -> float:
    """Each query's median wall time over ``samples``, then the
    geometric mean over the queries.  The median of all samples pooled
    would sit on whichever query is in the middle of the mix, and jump
    from one query's times to another's when they shift a little."""
    walls: dict[str, list[float]] = {}
    for s in samples:
        walls.setdefault(s["query"], []).append(s["wall"])
    return statistics.geometric_mean(statistics.median(w) for w in walls.values())


def failures(samples, problems) -> int:
    """Runs that raised or whose result did not match the oracle."""
    return sum(1 for s in samples if not s["ok"] or problems.get(s["rid"]))


def end_to_end(args, workload, seed: int) -> tuple[dict, dict]:
    tp = {"start": time.time()}
    setup = [run_self(["--setup-probe"])["setup_s"] for _ in range(SETUP_SAMPLES - 1)]
    tp["probes"] = time.time()
    # this process's own set-up: interpreter start, then the session
    # (the probes ran in between and are not part of it)
    interp_s = T_ENTRY - procstat.process_start_time()
    spark, reg, own_setup = start_session()
    setup.append(interp_s + own_setup)
    tp["setup"] = time.time()
    in_dir, manifest = inputs_for(workload, seed)
    tp["gen"] = time.time()
    tree = procstat.ProcessTree()
    samples, frames, n_rounds, wall = run_loop(spark, reg, workload, seed, args.seconds, in_dir, tree)
    tp["loop"] = time.time()
    problems = check_results(spark, reg, samples, frames, in_dir)
    tp["check"] = time.time()
    conf = conf_snapshot(spark)
    stop_session(spark)
    tp["stop"] = time.time()
    failed = failures(samples, problems)
    tail_s, tail_pct = tail([s["wall"] for s in samples])
    cold = [s for s in samples if s["first"]]
    # warm runs: every run but each query's first (all runs when there is one round)
    warm = [s for s in samples if not s["first"]] or samples
    metrics = {
        "setup_s": metric(statistics.median(setup), "s"),
        "queries_per_s": metric((len(samples) - failed) / wall, "1/s"),
        "query_s_p50": metric(mix_p50(warm), "s"),
        "cold_query_s_p50": metric(mix_p50(cold), "s"),
        "cpu_s_per_query": metric(sum(sum(s["cpu"].values()) for s in samples) / len(samples), "s"),
    }
    record = {
        "setup_samples_s": setup,
        "query_s_tail": tail_s,
        "phases_s": {k: tp[k] - tp[p] for p, k in zip(list(tp)[:-1], list(tp)[1:])},
        "tail_percentile": tail_pct,
        "samples": len(samples),
        "rounds": n_rounds,
        "loop_s": wall,
        "failed_frac": failed / len(samples),
        "sample_walls": [(s["query"], s["first"], round(s["wall"], 4), round(sum(s["cpu"].values()), 3)) for s in samples],
        "problems": problem_record(samples, problems),
        "manifest": manifest,
        "conf": conf,
    }
    return metrics, record | {"failed": failed, "attempted": len(samples)}


def untraced_loop(args, workload, seed: int) -> tuple[dict, dict]:
    """The untraced run the traced run is compared with: same inputs,
    same schedule, no check (the traced run checks)."""
    in_dir, _ = inputs_for(workload, seed)
    spark, reg, _ = start_session()
    tree = procstat.ProcessTree()
    samples, _, n_rounds, wall = run_loop(spark, reg, workload, seed, args.seconds, in_dir, tree)
    stop_session(spark)
    return {"round_s": metric(wall / n_rounds, "s")}, {"failed": 0, "attempted": len(samples)}


def traced(args, workload, seed: int) -> tuple[dict, dict]:
    in_dir, manifest = inputs_for(workload, seed)
    base = run_self(
        ["--workload", workload.name, "--seed", str(seed), "--seconds", str(args.seconds), "--untraced"]
    )
    log_dir = os.path.join(WORK, "eventlog", f"{workload.name}-s{seed}-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    tracer = spans.Tracer()
    spark, reg, _ = start_session(log_dir, tracer)
    tracer.install()
    tree = procstat.ProcessTree()
    tree.start_sampling()
    samples, frames, n_rounds, wall = run_loop(spark, reg, workload, seed, args.seconds, in_dir, tree, tracer)
    peak = tree.stop_sampling()
    tracer.uninstall()
    problems = check_results(spark, reg, samples, frames, in_dir)
    conf = conf_snapshot(spark)
    stop_session(spark)
    failed = failures(samples, problems)
    windows = sorted((s["rid"], s["t0"], s["t1"]) for s in samples)
    execs = eventlog.parse(eventlog.log_file(log_dir), windows)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{workload.name}-s{seed}-{os.getpid()}.jsonl"))
    metrics = layer_metrics(samples, n_rounds, wall, tracer, execs, base["metrics"]["round_s"]["value"])
    metrics["proc.peak_rss_mb"] = metric(peak / 2**20, "MB")
    tail_s, tail_pct = tail([s["wall"] for s in samples])
    metrics["query_s_tail"] = metric(tail_s, "s")
    record = {
        "rounds": n_rounds,
        "tail_percentile": tail_pct,
        "samples": len(samples),
        "untraced_rounds_s": base["metrics"]["round_s"]["value"],
        "loop_s": wall,
        "split_per_round_s": split(samples, n_rounds, wall, tracer, execs, conf["cores"]),
        "split_per_query_s": split_by_query(samples, n_rounds, tracer, execs),
        "problems": problem_record(samples, problems),
        "manifest": manifest,
        "conf": conf,
    }
    return metrics, record | {"failed": failed, "attempted": len(samples)}


def _span_s_by_run(tracer, name: str) -> dict[int, float]:
    out: dict[int, float] = {}
    for sp in tracer.spans:
        if sp.name == name and sp.qid is not None:
            out[sp.qid] = out.get(sp.qid, 0.0) + sp.t1 - sp.t0
    return out


def split(samples, n_rounds: int, wall: float, tracer, execs: dict, cores: int) -> dict:
    """Where a round's time goes: loop wall, fn() build, Catalyst
    phases, the noop action, executor task time (summed over tasks, and
    divided by the cores: the wall executors were busy if perfectly
    packed) and the streaming layer's run_to_memory."""
    per_round = 1.0 / n_rounds
    task_s = sum(e["task_s"] for e in execs.values()) * per_round
    return {
        "loop": wall * per_round,
        "build": sum(_span_s_by_run(tracer, "queries.build").values()) * per_round,
        "catalyst": sum(sum(s.get("catalyst", {}).values()) for s in samples) * per_round,
        "action": sum(_span_s_by_run(tracer, "action").values()) * per_round,
        "exec_task": task_s,
        "exec_task_per_core": task_s / cores,
        "stream_run_to_memory": sum(_span_s_by_run(tracer, "stream.run_to_memory").values()) * per_round,
    }


def split_by_query(samples, n_rounds: int, tracer, execs: dict) -> dict:
    """Per query, per round: wall, fn() build, action and executor task
    seconds."""
    build, action = _span_s_by_run(tracer, "queries.build"), _span_s_by_run(tracer, "action")
    out: dict[str, dict[str, float]] = {}
    for s in samples:
        q = out.setdefault(s["query"], dict.fromkeys(("wall", "build", "action", "exec_task"), 0.0))
        rid = s["rid"]
        for key, v in (
            ("wall", s["wall"]),
            ("build", build.get(rid, 0.0)),
            ("action", action.get(rid, 0.0)),
            ("exec_task", execs.get(rid, {}).get("task_s", 0.0)),
        ):
            q[key] += v / n_rounds
    return out


def layer_metrics(samples, n_rounds: int, wall: float, tracer, execs: dict, untraced_round_s: float) -> dict:
    secs, calls = spans.outermost_totals(tracer.spans)
    per_round = 1.0 / n_rounds

    def s_(name: str) -> float:
        return secs.get(name, 0.0) * per_round

    m = {
        "session.get_spark_s": metric(secs.get("session.get_spark", 0.0), "s"),
        "registry.corpus_s": metric(secs.get("registry.corpus", 0.0), "s"),
        "queries.build_s": metric(s_("queries.build"), "s"),
        "catalog.load_table.calls": metric(calls.get("catalog.load_table", 0) * per_round, "count"),
        "catalog.load_table_s": metric(s_("catalog.load_table"), "s"),
        "catalog.file_schema_s": metric(s_("catalog.file_schema"), "s"),
        "catalog.spread_scan_s": metric(s_("catalog.spread_scan"), "s"),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = metric(sum(s.get("catalyst", {}).get(phase, 0.0) for s in samples) * per_round, "s")
    units = {"stages": "count", "tasks": "count", "task_s": "s", "task_cpu_s": "s", "gc_s": "s", "python_udf_s": "s"}
    for key in eventlog.EXEC_KEYS:
        m[f"exec.{key}"] = metric(sum(e[key] for e in execs.values()) * per_round, units.get(key, "bytes"))
    m["exec.peak_exec_mem_bytes"] = metric(max((e["peak_exec_mem_bytes"] for e in execs.values()), default=0), "bytes")
    ratios = [e["task_s_max_over_median"] for e in execs.values() if "task_s_max_over_median" in e]
    m["exec.task_s_max_over_median"] = metric(statistics.median(ratios) if ratios else 1.0, "ratio")
    m["inference.load_artifact_s"] = metric(s_("inference.load_artifact"), "s")
    m["inference.save_artifact_s"] = metric(s_("inference.save_artifact"), "s")
    m["dedup.calls"] = metric(calls.get("layer:dedup", 0) * per_round, "count")
    m["dedup.s"] = metric(s_("layer:dedup"), "s")
    m["cache.persisted_bytes"] = metric(statistics.mean(s.get("persisted_bytes", 0) for s in samples), "bytes")
    for name in ("etl.prepare_datasets", "etl.analysis_pipeline", "survival.survival_curve", "survival.histogram"):
        m[f"{name}_s"] = metric(s_(name), "s")
    m["physics.s"] = metric(s_("layer:physics"), "s")
    m.update(stream_metrics(tracer, per_round, s_("stream.run_to_memory")))
    for role in procstat.ROLES:
        m[f"proc.{role}_cpu_s"] = metric(sum(s["cpu"][role] for s in samples) * per_round, "s")
    m["trace.overhead_s"] = metric(wall * per_round - untraced_round_s, "s")
    return m


def stream_metrics(tracer, per_round: float, run_to_memory_s: float) -> dict:
    batches = [p for _, prog in tracer.stream_progress for p in prog]

    def dur(key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in batches) / 1000.0 * per_round

    rows = sum(p.get("numInputRows", 0) for p in batches)
    state_rows = state_mem = 0
    for _, prog in tracer.stream_progress:
        if prog:
            ops = prog[-1].get("stateOperators", [])
            state_rows += sum(o.get("numRowsTotal", 0) for o in ops)
            state_mem += sum(o.get("memoryUsedBytes", 0) for o in ops)
    commit_ms = sum(o.get("commitTimeMs", 0) for p in batches for o in p.get("stateOperators", []))
    trig = [p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0 for p in batches]
    return {
        "stream.run_to_memory_s": metric(run_to_memory_s, "s"),
        "stream.batches": metric(len(batches) * per_round, "count"),
        "stream.input_rows": metric(rows * per_round, "rows"),
        "stream.add_batch_s": metric(dur("addBatch"), "s"),
        "stream.wal_commit_s": metric(dur("walCommit"), "s"),
        "stream.query_planning_s": metric(dur("queryPlanning"), "s"),
        "stream.latest_offset_s": metric(dur("latestOffset"), "s"),
        "stream.state_rows": metric(state_rows * per_round, "rows"),
        "stream.state_mem_bytes": metric(state_mem * per_round, "bytes"),
        "stream.state_commit_s": metric(commit_ms / 1000.0 * per_round, "s"),
        "stream_rows_per_s": metric(rows * per_round / run_to_memory_s if run_to_memory_s else 0.0, "rows/s"),
        "stream_batch_s_p50": metric(statistics.median(trig) if trig else 0.0, "s"),
    }


def missing_program() -> str | None:
    for rel in (os.path.join(PKG, "registry.py"), os.path.join("tests", "oracle_utils.py")):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return rel
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--untraced", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    missing = missing_program()
    if missing is not None:
        print(f"perfbench: {missing} not found; run from the root of a checkout of the package", file=sys.stderr)
        return 2
    if args.setup_probe:
        return setup_probe()
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    prepare_env()
    wl = workloads.WORKLOADS[args.workload]
    if args.untraced:
        metrics, record = untraced_loop(args, wl, args.seed)
    elif args.trace:
        metrics, record = traced(args, wl, args.seed)
    else:
        metrics, record = end_to_end(args, wl, args.seed)
    failed, attempted = record.pop("failed"), record.pop("attempted")
    record.update({"workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace})
    if not args.untraced:
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        name = f"{wl.name}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}.json"
        with open(os.path.join(WORK, "results", name), "w") as fh:
            json.dump(record | {"metrics": metrics}, fh, indent=1, default=str)
        print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
