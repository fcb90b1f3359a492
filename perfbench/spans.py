"""Spans and per-layer counters for the traced run.

Spans are kept in memory (``Tracer.spans``) and written once, when the
run ends.  Each span has a name, a start and an end, the span that
caused it (``parent``) and the query run it belongs to (``qid``).

Layer spans come from wrapping the package's public layer functions
(``LAYER_FUNCTIONS``).  A module that did ``from ..sources.catalog
import load_table`` holds its own reference to the function, so the
wrapper is bound into every loaded module of the package that holds
the original, not only into the module that defines it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

PKG = "high_energy_gamma_ray_search_in_kascade_array_data_spark"

# (module, function, span name).  The span name's first dotted part is
# its layer; a layer's time is the sum of its outermost spans.
LAYER_FUNCTIONS = [
    ("sources.catalog", "load_table", "catalog.load_table"),
    ("sources.catalog", "file_schema", "catalog.file_schema"),
    ("sources.catalog", "spread_scan", "catalog.spread_scan"),
    ("ml.inference", "load_model_artifact", "inference.load_artifact"),
    ("ml.inference", "load_artifact_cached", "inference.load_artifact"),
    ("ml.inference", "save_model_artifact", "inference.save_artifact"),
    ("operators.etl", "prepare_datasets", "etl.prepare_datasets"),
    ("operators.etl", "analysis_pipeline", "etl.analysis_pipeline"),
    ("operators.survival", "survival_curve", "survival.survival_curve"),
    ("operators.survival", "histogram", "survival.histogram"),
    ("streaming.core", "run_to_memory", "stream.run_to_memory"),
] + [
    ("operators.dedup", fn, f"dedup.{fn}")
    for fn in (
        "doc_tokens",
        "token_vocab",
        "doc_token_ids",
        "doc_token_ids_fast",
        "minhash_signatures",
        "token_sets",
        "signatures_from_sets",
        "lsh_bands",
        "lsh_candidate_pairs",
        "jaccard_verify",
        "minhash_near_duplicates",
        "minhash_near_duplicates_fast",
        "simhash_fingerprints",
        "connected_components",
        "connected_components_star",
    )
] + [
    ("functions.physics", fn, f"physics.{fn}")
    for fn in (
        "direction_cosines",
        "cartesian_to_spherical",
        "rotate_azimuth",
        "rotate_core",
        "rotate_grid_index",
        "log1p_edep",
        "standardize",
        "minmax_scale",
    )
]


@dataclass
class Span:
    id: int
    parent: int | None
    qid: int | None
    name: str
    t0: float
    t1: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.qid: int | None = None
        # stream progress per run_to_memory call: (qid, [progress dicts])
        self.stream_progress: list[tuple[int | None, list[dict]]] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), self._stack[-1].id if self._stack else None, self.qid, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == "stream.run_to_memory":
                tracer._record_progress(args, kwargs)
            return out

        wrapper.__wrapped_by_perfbench__ = True
        return wrapper

    def _record_progress(self, args, kwargs) -> None:
        from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core

        name = args[1] if len(args) > 1 else kwargs["name"]
        progress = [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in core.LAST_PROGRESS.get(name, [])]
        self.stream_progress.append((self.qid, progress))

    def install(self) -> None:
        """Wrap every ``LAYER_FUNCTIONS`` entry and rebind the wrapper in
        each loaded package module that references the original."""
        mods = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for modname, fname, span_name in LAYER_FUNCTIONS:
            home = sys.modules.get(f"{PKG}.{modname}")
            orig = getattr(home, fname, None) if home is not None else None
            if orig is None or getattr(orig, "__wrapped_by_perfbench__", False):
                continue
            wrapper = self._wrap(orig, span_name)
            for m in mods:
                if getattr(m, fname, None) is orig:
                    self._restore.append((m, fname, orig))
                    setattr(m, fname, wrapper)

    def uninstall(self) -> None:
        for m, fname, orig in reversed(self._restore):
            setattr(m, fname, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def outermost_totals(spans: list[Span]) -> tuple[dict[str, float], dict[str, int]]:
    """Per span name: (seconds, calls) counting only spans with no
    ancestor of the same name, plus per layer (first dotted part of the
    name) the seconds of spans with no ancestor in the same layer."""
    by_id = {s.id: s for s in spans}
    secs: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)

    def has_ancestor(s: Span, pred) -> bool:
        p = s.parent
        while p is not None:
            a = by_id[p]
            if pred(a):
                return True
            p = a.parent
        return False

    for s in spans:
        layer = s.name.split(".", 1)[0]
        if not has_ancestor(s, lambda a: a.name == s.name):
            secs[s.name] += s.t1 - s.t0
            calls[s.name] += 1
        if not has_ancestor(s, lambda a: a.name.split(".", 1)[0] == layer):
            secs[f"layer:{layer}"] += s.t1 - s.t0
            calls[f"layer:{layer}"] += 1
    return dict(secs), dict(calls)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s query
    execution, after forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            p = opt.get()
            out[name] = (p.endTimeMs() - p.startTimeMs()) / 1000.0
        else:
            out[name] = 0.0
    return out


def persisted_bytes(spark) -> int:
    """Bytes (memory + disk) held by persisted RDDs and frames now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))
