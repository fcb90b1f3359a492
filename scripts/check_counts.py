#!/usr/bin/env python
"""Registry-count consistency gate (VERDICT r7 task 6).

The round-close docs (README.md, SCALE.md) cite a corpus query count;
twice now (r6 README, r7 SCALE close) a late commit grew the registry
after the doc was written, leaving a stale count for the judge to
flag. This script fails if any "N ... queries" citation that claims
to be the CURRENT corpus total disagrees with the live registry.

Heuristic: per document, the LAST line matching a citation pattern
(`**N oracle-paired queries**`, `registry's N queries`, ...) is the
current-state claim and must carry the registry count; earlier
matches are historical round-close sections and are exempt (SCALE.md
keeps every round's closing state).
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus  # noqa: E402

PATTERNS = [
    re.compile(r"\*\*(\d+) oracle-paired queries\*\*"),
    re.compile(r"registry's (\d+) queries"),
    re.compile(r"exposes \*\*(\d+) queries\*\*"),
    re.compile(r"corpus of (\d+) oracle-paired"),
]


def main() -> int:
    n = len(corpus())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bad = []
    for doc in ("README.md", "SCALE.md", "COVERAGE.md"):
        path = os.path.join(root, doc)
        if not os.path.exists(path):
            continue
        last = None  # (lineno, cited) of the final citation in this doc
        for lineno, line in enumerate(open(path, encoding="utf-8"), 1):
            for pat in PATTERNS:
                for m in pat.finditer(line):
                    last = (lineno, int(m.group(1)))
        if last is not None and last[1] != n:
            bad.append(f"{doc}:{last[0]}: cites {last[1]}, registry has {n}")
    if bad:
        print("COUNT MISMATCH (registry = %d):" % n)
        print("\n".join("  " + b for b in bad))
        return 1
    print(f"counts consistent: registry = {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
