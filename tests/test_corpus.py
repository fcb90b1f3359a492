"""Oracle-differential tests: every registered corpus query must match
its DuckDB twin (rows + columns + values) — the local mirror of the
driver's CORRECTNESS gate."""

from __future__ import annotations

import os

import pytest

from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus
from tests.oracle_utils import compare_frames, duckdb_con, exact_hash_problems

_CORPUS = corpus()


@pytest.fixture(scope="session")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(_CORPUS))
def test_query_matches_oracle(name, spark, sf_dir, con):
    q = _CORPUS[name]
    sdf = q.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if q.oracle is None:
        # rows-only check (non-SQL-expressible operator)
        assert spark_pdf is not None
        return
    oracle_pdf = con.execute(q.oracle).fetchdf()
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, f"{name}: {problems}"
    # driver-grade gate: exact order-insensitive stringified values,
    # 1-ulp and signed-zero sensitive (mirrors the driver's value hash)
    hash_problems = exact_hash_problems(spark_pdf, oracle_pdf)
    assert not hash_problems, f"{name}: {hash_problems}"
    assert len(spark_pdf) > 0, f"{name}: empty result — weak test, widen the filter"


def test_prepare_datasets_rows_match_oracle(spark, sf_dir, con):
    """Row-level differential for entry point 3.1: every output row of
    ``etl.prepare_datasets`` against DuckDB, not just the per-(split, k)
    sums the registered query checks — a rotation swapped between two
    rows keeps those sums but fails here. Direction cosines are libm
    transcendentals, so both sides round them (registry rules); the
    other columns must match exactly, signed zeros included."""
    from pyspark.sql import functions as F

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import etl
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import (
        RND2_SQL,
        RND_SQL,
        SHOWER_CTE,
        rnd2_col,
        rnd_col,
        shower_frame,
    )

    exact = ["event_id", "split", "k", "az", "core_x", "core_y"]
    dirs = ["dir_x", "dir_y", "dir_z"]
    out = etl.prepare_datasets(
        shower_frame(spark, sf_dir), rnd=rnd_col(), aug_draw=rnd2_col(), augment_fraction=0.3
    )
    spark_pdf = out.select(*exact, *[F.round(d, 12).alias(d) for d in dirs]).toPandas()
    oracle_pdf = con.execute(
        f"""
WITH {SHOWER_CTE},
ranked AS (
  SELECT s.*, {RND2_SQL} AS rnd,
         percent_rank() OVER (PARTITION BY label ORDER BY {RND_SQL}, event_id) AS pr
  FROM shower s
),
assigned AS (
  SELECT *, CASE WHEN pr < 0.6 THEN 'train' WHEN pr < 0.8 THEN 'valid' ELSE 'test' END AS split
  FROM ranked
),
train AS (SELECT * FROM assigned WHERE split = 'train'),
aug AS (
  SELECT event_id, split, 0 AS k, az, core_x, core_y, ze FROM assigned
  UNION ALL
  SELECT event_id, split, 1, (az + 90) % 360, -core_x, core_y, ze FROM train WHERE (rnd + 0.1) % 1 < 0.3
  UNION ALL
  SELECT event_id, split, 2, (az + 180) % 360, -core_x, -core_y, ze FROM train WHERE (rnd + 0.2) % 1 < 0.3
  UNION ALL
  SELECT event_id, split, 3, (az + 270) % 360, core_x, -core_y, ze FROM train WHERE (rnd + 0.3) % 1 < 0.3
)
SELECT event_id, split, k, az, core_x, core_y,
       ROUND(SIN(RADIANS(ze)) * COS(RADIANS(az)), 12) AS dir_x,
       ROUND(SIN(RADIANS(ze)) * SIN(RADIANS(az)), 12) AS dir_y,
       ROUND(COS(RADIANS(ze)), 12) AS dir_z
FROM aug
"""
    ).fetchdf()
    assert set(spark_pdf["k"]) == {0, 1, 2, 3}
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, problems
    hash_problems = exact_hash_problems(spark_pdf[exact], oracle_pdf[exact])
    assert not hash_problems, hash_problems


# ---------------------------------------------------------------------------
# Hand-verified semantics for the exact substring-dedup family: the
# oracle gate proves Spark == DuckDB; this fixture proves both equal
# the PAPER's semantics (Lee et al. 2022, threshold L=8 tokens) on a
# corpus small enough to check by hand.
# ---------------------------------------------------------------------------


def _substring_fixture_dir(spark, tmp_path_factory) -> str:
    """4 hand-built docs: a 12-token span shared by A and B, a 10-token
    block repeated twice inside C, and a short no-dup doc D."""
    span = " ".join(f"s{i}" for i in range(1, 13))  # 12 shared tokens
    block = " ".join(f"x{i}" for i in range(1, 11))  # 10-token repeat
    doc_a = " ".join(f"a{i}" for i in range(1, 5)) + " " + span + " " + " ".join(
        f"b{i}" for i in range(1, 5)
    )  # span occupies positions 5..16 of 20
    doc_b = span + " " + " ".join(f"c{i}" for i in range(1, 9))  # positions 1..12 of 20
    doc_c = (
        " ".join(f"f{i}" for i in range(1, 4))
        + " " + block + " "
        + " ".join(f"g{i}" for i in range(1, 5))
        + " " + block + " "
        + " ".join(f"h{i}" for i in range(1, 4))
    )  # blocks at 4..13 and 18..27 of 30
    doc_d = "lone tokens only here"  # 4 tokens < L: never in gram table
    rows = [
        (0, doc_a), (1, doc_b), (2, doc_c), (3, doc_d),
    ]
    out = str(tmp_path_factory.mktemp("substr_fixture"))
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "documents.parquet"))
    return out


def test_substring_dedup_hand_semantics(spark, tmp_path_factory):
    d = _substring_fixture_dir(spark, tmp_path_factory)
    reg = corpus()

    stats = {
        r["doc_id"]: r
        for r in reg["substring_dedup_lcp"].fn(spark, d).collect()
    }
    # A and B: one maximal span of exactly the shared 12 tokens
    assert stats[0]["n_dup_spans"] == 1 and stats[0]["dup_tokens"] == 12
    assert stats[1]["n_dup_spans"] == 1 and stats[1]["longest_span"] == 12
    # C: the repeated 10-token block yields TWO spans (both occurrences),
    # not merged across the unique gap
    assert stats[2]["n_dup_spans"] == 2
    assert stats[2]["dup_tokens"] == 20 and stats[2]["longest_span"] == 10
    assert abs(stats[2]["dup_fraction"] - round(20 / 30, 6)) < 1e-9
    # D: too short for any gram — absent from the audit
    assert 3 not in stats

    # the fingerprint-keyed fast variant must agree row-for-row
    fast = {
        r["doc_id"]: r
        for r in reg["substring_dedup_lcp_fast"].fn(spark, d).collect()
    }
    assert {k: tuple(v) for k, v in stats.items()} == {
        k: tuple(v) for k, v in fast.items()
    }

    spans = reg["substring_dup_extract"].fn(spark, d).collect()
    # longest spans first: the two 12-token occurrences, then two 10s
    assert [r["span_len"] for r in spans] == [12, 12, 10, 10]
    span_text = " ".join(f"s{i}" for i in range(1, 13))
    assert spans[0]["span_text"] == span_text and spans[1]["span_text"] == span_text
    # A's occurrence sits at positions 5..16, B's at 1..12
    assert (spans[0]["doc_id"], spans[0]["span_start"]) == (0, 5)
    assert (spans[1]["doc_id"], spans[1]["span_start"]) == (1, 1)

    clean = {
        r["doc_id"]: r
        for r in reg["substring_dedup_clean"].fn(spark, d).collect()
    }
    # every doc comes back; removal excises exactly the spans
    assert clean[0]["n_removed"] == 12
    assert clean[0]["clean_text"] == " ".join(
        [f"a{i}" for i in range(1, 5)] + [f"b{i}" for i in range(1, 5)]
    )
    assert clean[1]["clean_text"] == " ".join(f"c{i}" for i in range(1, 9))
    assert clean[2]["n_removed"] == 20
    assert clean[2]["clean_text"] == " ".join(
        [f"f{i}" for i in range(1, 4)]
        + [f"g{i}" for i in range(1, 5)]
        + [f"h{i}" for i in range(1, 4)]
    )
    assert clean[3]["clean_text"] == "lone tokens only here"
    assert clean[3]["n_removed"] == 0

    # keep-first (the paper's policy): A's occurrence survives (lowest
    # doc_id), B's is excised; C keeps the FIRST block occurrence and
    # loses the second
    kf = {
        r["doc_id"]: r
        for r in reg["substring_dedup_keep_first"].fn(spark, d).collect()
    }
    assert kf[0]["n_removed"] == 0  # first occurrence kept intact
    assert span_text in kf[0]["clean_text"]
    assert kf[1]["n_removed"] == 12 and span_text not in kf[1]["clean_text"]
    assert kf[2]["n_removed"] == 10
    block = " ".join(f"x{i}" for i in range(1, 11))
    assert kf[2]["clean_text"].count(block) == 1
    assert kf[3]["n_removed"] == 0


def test_substring_dedup_overlapping_families(spark, tmp_path_factory):
    """Duplicate families with DIFFERENT maximal extents (the case
    where span-text clustering would under-remove): doc10 holds
    'w p1..p8'; doc11 repeats only 'p1..p8'; doc12 only 'w p1..p7'.
    doc10's merged region (9 tokens) occurs verbatim NOWHERE — it is
    removable ground, not one repeated string — and gram-level
    keep-first must still excise the later copies in doc11/doc12
    while leaving doc10 (all first occurrences) untouched."""
    p = " ".join(f"p{i}" for i in range(1, 9))  # 8 tokens
    rows = [
        (10, "w " + p),  # grams: 'w p1..p7'@1, 'p1..p8'@2
        (11, p),  # gram 'p1..p8'@1 — later copy (doc_id 11 > 10)
        (12, "w " + " ".join(f"p{i}" for i in range(1, 8))),  # 'w p1..p7'
    ]
    d = str(tmp_path_factory.mktemp("substr_overlap"))
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    reg = corpus()

    stats = {r["doc_id"]: r for r in reg["substring_dedup_lcp"].fn(spark, d).collect()}
    # doc10: dup starts 1 and 2 merge into ONE 9-token region
    assert stats[10]["n_dup_spans"] == 1 and stats[10]["dup_tokens"] == 9
    assert stats[11]["dup_tokens"] == 8 and stats[12]["dup_tokens"] == 8

    kf = {
        r["doc_id"]: r
        for r in reg["substring_dedup_keep_first"].fn(spark, d).collect()
    }
    assert kf[10]["n_removed"] == 0  # both grams are first occurrences
    assert kf[11]["n_removed"] == 8 and kf[11]["clean_text"] == ""
    assert kf[12]["n_removed"] == 8 and kf[12]["clean_text"] == ""

    # remove-ALL policy empties every copy, including doc10's region
    clean = {
        r["doc_id"]: r
        for r in reg["substring_dedup_clean"].fn(spark, d).collect()
    }
    assert clean[10]["n_removed"] == 9 and clean[10]["clean_text"] == ""


def test_substring_dedup_abutting_coverage_merges(spark, tmp_path_factory):
    """Coverage-contiguity rule (ADVICE r9): two duplicated L-token
    windows whose covered ranges abut EXACTLY (start gap == L, no
    duplicated gram spanning the junction) are ONE maximal contiguous
    duplicated region, not two. doc20 holds G1 (8 tokens, repeated in
    doc21) immediately followed by G2 (8 tokens, repeated in doc22);
    every junction-spanning gram of doc20 is corpus-unique, so the
    duplicated start positions are exactly {4, 12} with coverage
    4..11 and 12..19 — contiguous but non-overlapping."""
    g1 = " ".join(f"y{i}" for i in range(1, 9))
    g2 = " ".join(f"z{i}" for i in range(1, 9))
    rows = [
        (20, "e1 e2 e3 " + g1 + " " + g2 + " e4 e5 e6"),
        (21, "m1 m2 " + g1 + " m3 m4 m5 m6 m7"),
        (22, "k1 k2 " + g2 + " k3 k4 k5 k6 k7"),
    ]
    d = str(tmp_path_factory.mktemp("substr_abut"))
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    reg = corpus()

    stats = {r["doc_id"]: r for r in reg["substring_dedup_lcp"].fn(spark, d).collect()}
    # doc20: ONE merged 16-token region (4..19), not two 8s
    assert stats[20]["n_dup_spans"] == 1
    assert stats[20]["dup_tokens"] == 16 and stats[20]["longest_span"] == 16
    assert stats[21]["n_dup_spans"] == 1 and stats[21]["dup_tokens"] == 8
    assert stats[22]["n_dup_spans"] == 1 and stats[22]["dup_tokens"] == 8

    # the fast (fingerprint-keyed) variant agrees
    fast = {
        r["doc_id"]: r
        for r in reg["substring_dedup_lcp_fast"].fn(spark, d).collect()
    }
    assert {k: tuple(v) for k, v in stats.items()} == {
        k: tuple(v) for k, v in fast.items()
    }

    # excision still removes exactly the covered 16 tokens of doc20
    clean = {
        r["doc_id"]: r
        for r in reg["substring_dedup_clean"].fn(spark, d).collect()
    }
    assert clean[20]["n_removed"] == 16
    assert clean[20]["clean_text"] == "e1 e2 e3 e4 e5 e6"
