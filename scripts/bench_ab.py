#!/usr/bin/env python
"""Interleaved A/B of the repo benchmark: a git ref against the working tree.

    python scripts/bench_ab.py [REF] [--pairs N]

REF defaults to HEAD when the working tree differs from it, otherwise
to HEAD's parent; ``BENCH_LEDGER.jsonl``, which every ``bench.py`` run
appends to, is left out of that comparison.  Both sides are built the
same way: ``git archive`` of REF (base) and of a tree written from the
working tree's tracked and untracked, not ignored files through a
temporary index (change), each into a fresh directory.  The two are
made together under ``.perfbench/ab/`` and removed afterwards.

For every workload in ``BENCHMARK.json`` the benchmark's ``command``
runs with ``--trace 0`` in N interleaved pairs (default 3): which side
runs first alternates, and pair i runs both sides at seed i + 1.  The
report gives, per workload and end-to-end metric, the base and change
medians with [Q1, Q3], the change in median and the pairs the change
won.  A metric whose base interquartile range is wider than its bound
is labelled ``unresolved``: the base alone moves that much.

Exit 1 when any change median is worse than the base median by more
than the metric's bound (in its ``better`` direction), when a change
run is incorrect, or when more change runs fail than base runs.
Metric names, directions and bounds are read from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB_DIR = os.path.join(REPO, ".perfbench", "ab")
# generous: a run is about a minute on 4 cores; a hung one counts as failed
RUN_TIMEOUT_S = 1200


LEDGER = "BENCH_LEDGER.jsonl"


def git(*args: str, repo: str = REPO, env: dict | None = None) -> str:
    return subprocess.run(["git", *args], cwd=repo, env=env, capture_output=True, text=True, check=True).stdout.strip()


def code_trees(repo: str = REPO) -> tuple[str, str]:
    """Tree ids of HEAD and of the working tree (tracked and untracked,
    not ignored files), both without the ledger.  Equal ids mean the
    working tree runs HEAD's code; the second id names that code even
    when it is not committed."""
    with tempfile.TemporaryDirectory() as tmp:
        env = {**os.environ, "GIT_INDEX_FILE": os.path.join(tmp, "index")}
        git("read-tree", "HEAD", repo=repo, env=env)
        git("update-index", "--force-remove", LEDGER, repo=repo, env=env)
        head = git("write-tree", repo=repo, env=env)
        git("add", "-A", "--", ".", f":!{LEDGER}", repo=repo, env=env)
        return head, git("write-tree", repo=repo, env=env)


def default_ref(repo: str = REPO) -> str:
    head, work = code_trees(repo)
    return "HEAD" if head != work else "HEAD~1"


def export_tree(tree_ish: str, dest: str) -> None:
    tar = subprocess.run(["git", "archive", tree_ish], cwd=REPO, capture_output=True, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def run_once(tree: str, command: list[str], workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``tree``: its last stdout JSON line, or
    ``{"error": ...}`` when it produced none."""
    args = [*command, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        out = subprocess.run(
            args, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S
        )
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return {"error": f"exited {out.returncode}"}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def compare(base: list[dict], change: list[dict], end_to_end: list[dict]) -> tuple[list[dict], list[str]]:
    """Verdict for one workload from its runs, pair i being
    ``(base[i], change[i])``; a run is a benchmark result line or
    ``{"error": ...}``.  Returns one row per end-to-end metric and the
    problems that fail the gate (empty: pass)."""
    problems = []
    failed = [sum("error" in r for r in runs) for runs in (base, change)]
    if failed[1] > failed[0]:
        problems.append(f"{failed[1]} change runs failed against {failed[0]} base runs")
    incorrect = sum(1 for r in change if "error" not in r and not r["correct"])
    if incorrect:
        problems.append(f"{incorrect} change runs incorrect")
    rows = []
    for spec in end_to_end:
        name, bound, sign = spec["name"], spec["bound"], 1 if spec["better"] == "lower" else -1
        pairs = [
            (b["metrics"][name]["value"], c["metrics"][name]["value"])
            for b, c in zip(base, change)
            if "error" not in b and "error" not in c
        ]
        if not pairs:
            problems.append(f"{name}: no pair with both runs")
            continue
        bq, cq = quartiles([b for b, _ in pairs]), quartiles([c for _, c in pairs])
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
        worse = sign * delta > bound
        row = {
            "metric": name,
            "base": bq,
            "change": cq,
            "delta": delta,
            "wins": sum(1 for b, c in pairs if sign * (c - b) < 0),
            "pairs": len(pairs),
            "worse": worse,
            "unresolved": bq[1] != 0 and (bq[2] - bq[0]) / bq[1] > bound,
        }
        if worse:
            problems.append(
                f"{name}: change median {delta:+.1%} against the base, bound {bound:.0%} ({spec['better']} is better)"
            )
        rows.append(row)
    return rows, problems


def table(results: list[tuple[str, list[dict]]]) -> str:
    def q(t):
        return f"{t[1]:.3f} [{t[0]:.3f}, {t[2]:.3f}]"

    out = [
        "| workload (pairs) | metric | base median [Q1, Q3] | change median [Q1, Q3] | Δ median "
        "| change better | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    for workload, rows in results:
        head = f"`{workload}` ({rows[0]['pairs']})" if rows else f"`{workload}`"
        for row in rows:
            verdict = ("WORSE" if row["worse"] else "ok") + (", unresolved" if row["unresolved"] else "")
            out.append(
                f"| {head} | `{row['metric']}` | {q(row['base'])} | {q(row['change'])} | {row['delta']:+.1%} "
                f"| {row['wins']}/{row['pairs']} | {verdict} |"
            )
            head = ""
    return "\n".join(out)


def run_pairs(trees: dict[str, str], bench: dict, workload: str, pairs: int) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i in range(pairs):
        for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
            t0 = time.time()
            r = run_once(trees[side], bench["command"], workload, i + 1, bench["run_seconds"])
            runs[side].append(r)
            state = r.get("error") or ("correct" if r["correct"] else f"incorrect ({r['failed']} failed)")
            print(f"  {workload} pair {i + 1} {side}: {state} in {time.time() - t0:.0f} s", file=sys.stderr)
    return runs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref", nargs="?", help="git ref to compare against (default: see above)")
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    ref = args.ref or default_ref()
    sha = git("rev-parse", "--verify", f"{ref}^{{commit}}")
    work = code_trees()[1]
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(AB_DIR, exist_ok=True)
    root = tempfile.mkdtemp(prefix="ab-", dir=AB_DIR)
    trees = {"base": os.path.join(root, "base"), "change": os.path.join(root, "change")}
    print(
        f"bench_ab: base {ref} ({sha[:12]}) against the working tree (tree {work[:12]}), {args.pairs} pairs",
        file=sys.stderr,
    )
    results, failing = [], False
    try:
        for t in trees.values():
            os.makedirs(t)
        export_tree(sha, trees["base"])
        export_tree(work, trees["change"])
        for wl in bench["workloads"]:
            runs = run_pairs(trees, bench, wl["name"], args.pairs)
            rows, problems = compare(runs["base"], runs["change"], bench["end_to_end"])
            results.append((wl["name"], rows))
            failing = failing or bool(problems)
            errors = [sum("error" in r for r in runs[side]) for side in ("base", "change")]
            wrong = [sum(1 for r in runs[side] if "error" not in r and not r["correct"]) for side in ("base", "change")]
            print(
                f"{wl['name']}: failed runs base {errors[0]} / change {errors[1]}; "
                f"incorrect runs base {wrong[0]} / change {wrong[1]}"
            )
            for p in problems:
                print(f"FAIL {wl['name']}: {p}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(table(results))
    return 1 if failing else 0


if __name__ == "__main__":
    raise SystemExit(main())
