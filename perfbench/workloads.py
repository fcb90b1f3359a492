"""The benchmark's workloads: query mix, generated input and schedule.

A run is a closed loop with one client thread: the next query is sent
only when the previous one has returned.  The loop runs a fixed number
of whole rounds; a round is every query of the workload's mix once.
The first round runs the mix in its listed order against a cold
process, so each query's cold time does not depend on which query
happened to pay the JVM's warm-up; every later round runs it in an
order shuffled by the run's seed, which decides the cache state each
query meets.  The number of rounds is ``--seconds`` over the
workload's ``round_s``, roughly the length of an average round on
the reference host (4 cores), rounded; so a run does the same work on
every host and commit and its loop lasts about ``--seconds`` here.

Two workloads.  What each one stresses is measured, not assumed: the
traced run's ``split_per_round_s`` (see README.md for the figures at
the shipped sizes).

* ``kascade_batch`` - the paper's chain (ETL with rotation
  augmentation, stratified split, CNN inference, the analysis pipeline
  ending in the survival curve, banded AUC) over 150 000 seeded events
  in 8 files, three rounds.  About three quarters of its loop is the
  noop action, and it carries about twice the executor task time of
  ``corpus_interactive`` per round, with all of the Python-worker time.
* ``corpus_interactive`` - small tables: a 6-table join through the
  catalog, MinHash dedup with its cross-query cache, an iterative
  PageRank built in ``fn()``, a window top-k, and the survival curve
  replayed as a stream, whose micro-batches run inside ``fn()``; three
  rounds.  About three fifths of its loop is ``fn()``.  It still runs
  executor tasks (MinHash's first run, the stream's micro-batches, the
  join), so it is the control for driver-side work - plan building,
  the catalog, caches, the streaming floor - not an executor-free
  workload: a change to executor work moves both, ``kascade_batch``
  about twice as much.
"""

from __future__ import annotations

import random
from dataclasses import dataclass



@dataclass(frozen=True)
class InputSpec:
    """Sizes of one generated scale directory.

    ``sf`` scales the TPC-H tables exactly as the fixtures do
    (lineitem = 6 M x sf); ``events`` is given in rows and written as
    ``events_files`` part files (1 = a single-file table).
    """

    sf: float
    events: int
    events_files: int
    documents: int
    embeddings: int


@dataclass(frozen=True)
class Workload:
    name: str
    mix: tuple[str, ...]
    round_s: float
    inputs: InputSpec


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "kascade_batch",
            (
                "etl_prepare_datasets",
                "stratified_split",
                "cnn_artifact_inference",
                "analysis_pipeline_survival",
                "grouped_auc_by_band",
            ),
            7.0,
            InputSpec(sf=0.01, events=150_000, events_files=8, documents=1000, embeddings=1000),
        ),
        Workload(
            "corpus_interactive",
            (
                "q5_local_supplier_volume",
                "minhash_lsh_neardup",
                "pagerank_mass",
                "window_topk_per_group",
                "stream_survival_curve",
            ),
            7.0,
            InputSpec(sf=0.01, events=20_000, events_files=4, documents=300, embeddings=1000),
        ),
    )
}


def n_rounds(workload: Workload, seconds: float) -> int:
    return max(1, round(seconds / workload.round_s))


def rounds(workload: Workload, seed: int):
    """Endless sequence of rounds (lists of query names) for ``seed``."""
    rng = random.Random(f"{workload.name}:{seed}")
    yield list(workload.mix)
    while True:
        order = list(workload.mix)
        rng.shuffle(order)
        yield order
