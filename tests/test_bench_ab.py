"""The A/B gate's verdict (scripts/bench_ab.py ``compare``) on synthetic
runs, with the metric names, directions and bounds of the real
BENCHMARK.json.  No Spark."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location("bench_ab", os.path.join(REPO, "scripts", "bench_ab.py"))
bench_ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_ab)

with open(os.path.join(REPO, "BENCHMARK.json")) as _fh:
    END_TO_END = json.load(_fh)["end_to_end"]
SPECS = {m["name"]: m for m in END_TO_END}
# base values of every end-to-end metric, spread by +-1 % over the pairs
BASE = {name: 10.0 for name in SPECS}
SPREAD = (0.99, 1.0, 1.01)


def run(values: dict[str, float], scale: float = 1.0, correct: bool = True) -> dict:
    return {
        "correct": correct,
        "attempted": 15,
        "failed": 0 if correct else 1,
        "metrics": {k: {"value": v * scale, "unit": "s"} for k, v in values.items()},
    }


def runs(values: dict[str, float]) -> list[dict]:
    return [run(values, s) for s in SPREAD]


def row(rows: list[dict], name: str) -> dict:
    return next(r for r in rows if r["metric"] == name)


def test_same_runs_pass():
    rows, problems = bench_ab.compare(runs(BASE), runs(BASE), END_TO_END)
    assert problems == []
    assert [r["metric"] for r in rows] == list(SPECS)
    assert not any(r["worse"] or r["unresolved"] for r in rows)


@pytest.mark.parametrize("name", [n for n, m in SPECS.items() if m["better"] == "lower"])
def test_lower_is_better_metric_30_percent_worse_fails(name):
    rows, problems = bench_ab.compare(runs(BASE), runs(BASE | {name: BASE[name] * 1.3}), END_TO_END)
    assert row(rows, name)["worse"]
    assert len(problems) == 1 and problems[0].startswith(name)


def test_queries_per_s_30_percent_lower_fails():
    assert SPECS["queries_per_s"]["better"] == "higher"
    rows, problems = bench_ab.compare(
        runs(BASE), runs(BASE | {"queries_per_s": BASE["queries_per_s"] * 0.7}), END_TO_END
    )
    assert row(rows, "queries_per_s")["worse"]
    assert row(rows, "queries_per_s")["wins"] == 0
    assert len(problems) == 1 and problems[0].startswith("queries_per_s")
    # 30 % higher is better, not worse
    rows, problems = bench_ab.compare(
        runs(BASE), runs(BASE | {"queries_per_s": BASE["queries_per_s"] * 1.3}), END_TO_END
    )
    assert problems == [] and row(rows, "queries_per_s")["wins"] == 3


@pytest.mark.parametrize("name", list(SPECS))
def test_metric_20_percent_worse_passes(name):
    worse = 1.2 if SPECS[name]["better"] == "lower" else 0.8
    rows, problems = bench_ab.compare(runs(BASE), runs(BASE | {name: BASE[name] * worse}), END_TO_END)
    assert problems == []
    assert not row(rows, name)["worse"]
    assert row(rows, name)["wins"] == 0


def test_one_extra_failed_change_run_fails():
    change = runs(BASE)
    change[1] = {"error": "exited 1"}
    rows, problems = bench_ab.compare(runs(BASE), change, END_TO_END)
    assert problems == ["1 change runs failed against 0 base runs"]
    assert all(r["pairs"] == 2 for r in rows)
    # as many failed runs on each side: not a regression
    base = runs(BASE)
    base[0] = {"error": "timed out"}
    assert bench_ab.compare(base, change, END_TO_END)[1] == []


def test_incorrect_change_run_fails():
    change = runs(BASE)
    change[2] = run(BASE, correct=False)
    assert bench_ab.compare(runs(BASE), change, END_TO_END)[1] == ["1 change runs incorrect"]


def test_base_iqr_wider_than_bound_is_unresolved():
    name = "query_s_p50"
    bound = SPECS[name]["bound"]
    wide = [BASE | {name: BASE[name] * s} for s in (0.7, 1.0, 1.3)]
    base = [run(v) for v in wide]
    rows, problems = bench_ab.compare(base, base, END_TO_END)
    r = row(rows, name)
    assert (r["base"][2] - r["base"][0]) / r["base"][1] > bound
    assert r["unresolved"] and not r["worse"]
    assert problems == []
    assert not any(x["unresolved"] for x in rows if x["metric"] != name)
    assert "| `query_s_p50` |" in bench_ab.table([("kascade_batch", rows)])
    assert "ok, unresolved" in bench_ab.table([("kascade_batch", rows)])


def test_default_ref_ignores_the_ledger(tmp_path):
    """A committed tree whose only change is a ``bench.py`` ledger record
    runs HEAD's code, so the A/B compares it with HEAD's parent."""

    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t", *args], cwd=tmp_path, check=True)

    git("init", "-q")
    (tmp_path / ".gitignore").write_text("out/\n")
    (tmp_path / "code.py").write_text("x = 1\n")
    (tmp_path / bench_ab.LEDGER).write_text('{"run": 1}\n')
    git("add", "-A")
    git("commit", "-qm", "one")
    (tmp_path / "code.py").write_text("x = 2\n")
    git("commit", "-qam", "two")
    assert bench_ab.default_ref(str(tmp_path)) == "HEAD~1"
    with open(tmp_path / bench_ab.LEDGER, "a") as fh:
        fh.write('{"run": 2}\n')
    (tmp_path / "out").mkdir()
    (tmp_path / "out" / "log").write_text("ignored\n")
    assert bench_ab.default_ref(str(tmp_path)) == "HEAD~1"
    head, work = bench_ab.code_trees(str(tmp_path))
    assert head == work
    (tmp_path / "new.py").write_text("y = 1\n")
    assert bench_ab.default_ref(str(tmp_path)) == "HEAD"
    (tmp_path / "new.py").unlink()
    (tmp_path / "code.py").write_text("x = 3\n")
    assert bench_ab.default_ref(str(tmp_path)) == "HEAD"
