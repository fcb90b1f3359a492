"""Structural invariants for the wave-3..6 operators (BPE training,
privacy release, protocol twins, Spark-4 surfaces) — brute-force Python
recomputation at sf0.001, independent of the DuckDB oracle."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyspark.sql.functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

_Q = corpus()


def test_bpe_merges_match_reference_trainer(spark, sf_dir):
    """The learned merge table must equal a from-scratch Python BPE
    trainer over the same corpus (greedy most-frequent pair, lexical
    tie-break, left-to-right non-overlapping application)."""
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    words = [list(t) for r in docs for t in r["text"].split(" ") if len(t) >= 2]
    expect = []
    for _ in range(5):
        cnt = Counter()
        for w in words:
            for a, b in zip(w, w[1:]):
                cnt[(a, b)] += 1
        (a, b), freq = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((a, b, a + b, freq))
        merged = a + b
        for i, w in enumerate(words):
            out = []
            for s in w:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            words[i] = out
    got = sorted(
        (r["round"], r["sym_a"], r["sym_b"], r["merged"], r["freq"])
        for r in _Q["bpe_merge_training"].fn(spark, sf_dir).collect()
    )
    assert got == [(i + 1, *e) for i, e in enumerate(expect)]


def test_k_anonymity_release_partitions_the_corpus(spark, sf_dir):
    """Every released group must satisfy k≥8 at its granularity, the
    suppressed bucket must hold only sub-k day groups, and the row
    counts must partition the corpus exactly (nothing lost, nothing
    double-released)."""
    rows = _Q["k_anonymity_generalize"].fn(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    released = sum(r["n"] for r in rows)
    assert released == total
    for r in rows:
        if r["granularity"] in ("hour", "day"):
            assert r["n"] >= 8, r
            assert r["sum_cents"] is not None
        else:
            assert r["granularity"] == "suppressed"
            assert r["bucket"] == "*"
            assert r["sum_cents"] is None


def test_cogroup_asof_matches_bruteforce(spark, sf_dir):
    """Each event's limit must be the max-cents signup limit at the
    latest signup ts ≤ event ts for that user (None before any)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    ).collect()
    limits = defaultdict(dict)
    for r in ev:
        if r["event_type"] == "signup":
            c = math.floor(r["value"] * 100 + 0.5)
            k = limits[r["user_id"]]
            k[r["ts"]] = max(k.get(r["ts"], -(1 << 60)), c)
    got = {
        r["event_id"]: (r["limit_cents"], r["over_limit"])
        for r in _Q["cogroup_asof_merge"].fn(spark, sf_dir).collect()
    }
    n_checked = 0
    for r in ev:
        if r["event_type"] == "signup":
            continue
        ts_map = limits.get(r["user_id"], {})
        prior = [t for t in ts_map if t <= r["ts"]]
        want = ts_map[max(prior)] if prior else None
        lim, over = got[r["event_id"]]
        assert lim == want, (r["event_id"], lim, want)
        cents = math.floor(r["value"] * 100 + 0.5)
        assert over == int(want is not None and cents > want)
        n_checked += 1
    assert n_checked == len(got)


def test_recursive_depth_is_digit_count_and_path_sums_prefixes(spark, sf_dir):
    """In the decimal trie, depth(k) = #digits(k) for k>0 and the
    root-path cost is the sum over the decimal prefixes of k."""
    prices = {
        r["p_partkey"]: math.floor(r["p_retailprice"] * 100 + 0.5)
        for r in load_table(spark, sf_dir, "part").collect()
    }
    got = {
        r["p_partkey"]: (r["depth"], r["path_cents"])
        for r in _Q["recursive_cte_bom_depth"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(prices)
    for k, (depth, path) in got.items():
        chain = [k]
        while chain[-1] > 0:
            chain.append(chain[-1] // 10)
        assert depth == len(chain) - 1
        assert path == sum(prices[a] for a in chain)


def test_incremental_merge_equals_direct_aggregate(spark, sf_dir):
    """IVM result must equal a directly-computed single-pass aggregate
    (the monoid-merge property, checked engine-side not oracle-side)."""
    orders = load_table(spark, sf_dir, "orders")
    direct = {
        r["o_orderpriority"]: (r["n"], r["s"])
        for r in orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias("s"),
        )
        .collect()
    }
    got = {
        r["o_orderpriority"]: (r["n"], r["sum_cents"])
        for r in _Q["incremental_agg_maintenance"].fn(spark, sf_dir).collect()
    }
    assert got == direct


def test_scripting_threshold_is_first_fixpoint(spark, sf_dir):
    """The WHILE loop must stop at the FIRST ladder step with <1%
    exceedance — no off-by-one in either direction."""
    vals = [r["value"] for r in load_table(spark, sf_dir, "events").select("value").collect()]
    n = len(vals)
    thr = 0
    while sum(1 for v in vals if v >= thr) * 100 >= n:
        thr += 10
    row = _Q["sql_scripting_threshold_search"].fn(spark, sf_dir).collect()[0]
    assert row["threshold"] == thr
    assert row["n_above"] == sum(1 for v in vals if v >= thr)
    if thr > 0:
        assert sum(1 for v in vals if v >= thr - 10) * 100 >= n


def test_npz_writer_two_phase_commit_leaves_no_temps(spark, sf_dir):
    """After a successful write, the sink dir holds only published
    part-*.npz shards (no _tmp leftovers) and re-reading them yields
    exactly the written row count."""
    import glob
    import os

    _Q["npz_datasource_write_roundtrip"].fn(spark, sf_dir).collect()
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH

    tag = os.path.basename(sf_dir.rstrip("/"))
    out_dir = os.path.join(SCRATCH, f"npz_writer_{tag}")
    files = sorted(os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*")))
    assert files, "writer produced no shards"
    assert all(f.startswith("part-") and f.endswith(".npz") for f in files), files
    n_src = load_table(spark, sf_dir, "events").count()
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.npz_datasource import NpzDataSource

    spark.dataSource.register(NpzDataSource)
    back = (
        spark.read.format("npz")
        .option("path", os.path.join(out_dir, "part-*.npz"))
        .load()
    )
    assert back.count() == n_src
