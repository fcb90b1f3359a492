"""The oracle check flags a wrong or failed result in any run of a query."""

import pytest

import gen
import run
from workloads import InputSpec

QUERY = "window_topk_per_group"


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class _Spark:
    class sparkContext:  # noqa: N801 - mirrors SparkSession.sparkContext
        @staticmethod
        def setJobGroup(*_):
            pass


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("in") / "sf")
    gen.generate(d, 3, InputSpec(sf=0.001, events=2000, events_files=2, documents=100, embeddings=50))
    return d


@pytest.fixture(scope="module")
def reg():
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    return corpus()


@pytest.fixture(scope="module")
def expected(inputs, reg):
    from oracle_utils import duckdb_con

    con = duckdb_con(inputs)
    try:
        return con.execute(reg[QUERY].oracle).fetchdf()
    finally:
        con.close()


def _runs(*frames):
    """Samples and frames of successive runs of QUERY: a frame of None
    is a run that raised."""
    samples, kept = [], {}
    for rid, frame in enumerate(frames):
        if frame is None:
            samples.append({"rid": rid, "query": QUERY, "ok": False, "error": "Traceback...\nValueError: boom"})
        else:
            samples.append({"rid": rid, "query": QUERY, "ok": True})
            kept[rid] = frame
    return samples, kept


def test_matching_result_passes(inputs, reg, expected):
    samples, kept = _runs(_Frame(expected.copy()), _Frame(expected.copy()))
    problems = run.check_results(_Spark(), reg, samples, kept, inputs)
    assert problems == {0: [], 1: []}
    assert run.failures(samples, problems) == 0


def test_perturbed_result_is_flagged(inputs, reg, expected):
    wrong = expected.copy()
    col = next(c for c in wrong.columns if wrong[c].dtype.kind in "if")
    wrong.loc[wrong.index[0], col] = wrong[col].iloc[0] + 1
    samples, kept = _runs(_Frame(expected.copy()), _Frame(wrong), _Frame(expected.iloc[1:]))
    problems = run.check_results(_Spark(), reg, samples, kept, inputs)
    assert not problems[0]
    assert problems[1], "a changed value in a later (warm) run must be reported"
    assert problems[2], "a missing row must be reported"
    assert run.failures(samples, problems) == 2


def test_raised_query_counts_as_failed(inputs, reg, expected):
    samples, kept = _runs(None, _Frame(expected.copy()))
    problems = run.check_results(_Spark(), reg, samples, kept, inputs)
    assert problems == {0: ["raised: ValueError: boom"], 1: []}
    assert run.failures(samples, problems) == 1
