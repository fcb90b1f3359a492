"""Stage and task metrics from a local, uncompressed Spark event log.

Jobs are attributed to a query run by job group (``setJobGroup`` with
``JOB_GROUP_PREFIX`` + run id) and, for jobs that carry another group -
a streaming query's micro-batches run under the stream's own run id -
by submission time inside the run's wall-clock window.  The benchmark
has one client thread, so query windows never overlap.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
from collections import defaultdict

JOB_GROUP_PREFIX = "perfbench:"

# SQL metric of the Python evaluation nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...) that times the UDF itself;
# their worker start and initialize metrics also count waiting.
PYTHON_RUN_METRIC = "time to run Python workers"

EXEC_KEYS = (
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "python_udf_s",
)


def log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def _metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in plan.get("children", []):
        _metric_types(child, out)


def parse(path: str, windows: list[tuple[int, float, float]]) -> dict[int, dict]:
    """Per query run id: summed stage/task metrics of its jobs.

    ``windows`` holds ``(run id, start, end)`` in ``time.time()``
    seconds, sorted by start.
    """
    starts = [w[1] for w in windows]
    stage_run: dict[int, int] = {}
    metric_type: dict[int, str] = {}
    per_run: dict[int, dict] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0) | {"peak_exec_mem_bytes": 0.0})
    stage_tasks: dict[tuple[int, int], list[float]] = defaultdict(list)
    stages_seen: set[tuple[int, int]] = set()

    def run_of(job: dict) -> int | None:
        group = job.get("Properties", {}).get("spark.jobGroup.id") or ""
        if group.startswith(JOB_GROUP_PREFIX):
            return int(group[len(JOB_GROUP_PREFIX) :])
        t = job["Submission Time"] / 1000.0
        i = bisect.bisect_right(starts, t) - 1
        if i >= 0 and windows[i][1] <= t <= windows[i][2]:
            return windows[i][0]
        return None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _metric_types(ev.get("sparkPlanInfo", {}), metric_type)
            elif kind == "SparkListenerJobStart":
                rid = run_of(ev)
                if rid is not None:
                    for sid in ev["Stage IDs"]:
                        stage_run[sid] = rid
            elif kind == "SparkListenerTaskEnd":
                rid = stage_run.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if rid is None or tm is None:
                    continue
                r = per_run[rid]
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                if key not in stages_seen:
                    stages_seen.add(key)
                    r["stages"] += 1
                run_s = tm["Executor Run Time"] / 1000.0
                stage_tasks[key].append(run_s)
                r["tasks"] += 1
                r["task_s"] += run_s
                r["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                r["gc_s"] += tm["JVM GC Time"] / 1000.0
                r["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                r["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                sr = tm["Shuffle Read Metrics"]
                r["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                r["spill_bytes"] += tm["Disk Bytes Spilled"]
                r["peak_exec_mem_bytes"] = max(r["peak_exec_mem_bytes"], tm["Peak Execution Memory"])
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PYTHON_RUN_METRIC:
                        # SQL "timing" metrics are milliseconds, "nsTiming" nanoseconds
                        scale = 1e9 if metric_type.get(acc["ID"]) == "nsTiming" else 1e3
                        r["python_udf_s"] += float(acc.get("Update", 0)) / scale
    # skew of each run's heaviest stage: slowest task over the median task
    heaviest: dict[int, tuple[float, float]] = {}
    for (sid, _), times in stage_tasks.items():
        rid = stage_run[sid]
        total = sum(times)
        med = statistics.median(times)
        ratio = max(times) / med if len(times) > 1 and med > 0 else 1.0
        if rid not in heaviest or total > heaviest[rid][0]:
            heaviest[rid] = (total, ratio)
    for rid, (_, ratio) in heaviest.items():
        per_run[rid]["task_s_max_over_median"] = ratio
    return dict(per_run)
