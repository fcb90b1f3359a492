"""Every layer function that ``perfbench/spans.py`` traces exists in
the package.  The tracer skips a name it cannot find without a word,
so a refactor that moves or renames one would zero that layer's
figures unseen.  No Spark."""

from __future__ import annotations

import importlib

from perfbench.spans import LAYER_FUNCTIONS, PKG

# Deleted with the artifact cache it memoized; its entry is to go in
# the next benchmark change (ROADMAP item 3).
EXPECTED_MISSING = {("ml.inference", "load_artifact_cached")}


def test_layer_functions_resolve():
    missing = set()
    for modname, fname, _span in LAYER_FUNCTIONS:
        fn = getattr(importlib.import_module(f"{PKG}.{modname}"), fname, None)
        if not callable(fn):
            missing.add((modname, fname))
    assert missing == EXPECTED_MISSING
