"""Property-based invariants from the physics semantics (SURVEY §5.2):
checked on the deterministic shower/grid fixtures, independent of the
DuckDB oracle."""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from high_energy_gamma_ray_search_in_kascade_array_data_spark.functions import physics
from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import etl
from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.survival import survival_curve
from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import detector_grid, rnd_col, shower_frame


def test_four_rotations_compose_to_identity(spark, sf_dir):
    """rot90 applied 4× is the identity on grid coordinates (T1)."""
    grid = detector_grid(spark, sf_dir).select("event_id", "ix", "iy")
    ix, iy = F.col("ix"), F.col("iy")
    for _ in range(4):
        ix, iy = physics.rotate_grid_index(ix, iy, 1)
    rotated = grid.select("event_id", ix.alias("rx"), iy.alias("ry"))
    mismatch = rotated.join(grid, "event_id").filter(
        (F.col("rx") != F.col("ix")) | (F.col("ry") != F.col("iy"))
    )
    assert mismatch.count() == 0


def test_azimuth_wraps_to_range(spark, sf_dir):
    """Azimuth stays in [0, 360) after any rotation (F4)."""
    df = shower_frame(spark, sf_dir)
    for k in range(1, 4):
        az = physics.rotate_azimuth(F.col("az"), k)
        out = df.select(az.alias("az_rot")).filter((F.col("az_rot") < 0) | (F.col("az_rot") >= 360))
        assert out.count() == 0, f"k={k}"


def test_direction_cosines_unit_norm(spark, sf_dir):
    """Direction cosines have unit norm (F2)."""
    df = shower_frame(spark, sf_dir)
    dx, dy, dz = physics.direction_cosines(F.col("ze"), F.col("az"))
    bad = df.select((dx * dx + dy * dy + dz * dz).alias("n2")).filter(
        F.abs(F.col("n2") - 1.0) > 1e-9
    )
    assert bad.count() == 0


def test_scaler_roundtrip_identity(spark, sf_dir):
    """standardize ∘ inverse ≈ id (F7)."""
    df = shower_frame(spark, sf_dir)
    params = df.agg(F.avg("core_x").alias("mu"), F.stddev_pop("core_x").alias("sigma"))
    j = df.crossJoin(F.broadcast(params))
    z = physics.standardize(F.col("core_x"), F.col("mu"), F.col("sigma"))
    back = z * F.col("sigma") + F.col("mu")
    bad = j.select(F.abs(back - F.col("core_x")).alias("err")).filter(F.col("err") > 1e-9)
    assert bad.count() == 0


def _split_by_rank(n: int) -> list[str]:
    """The split of each row of an n-row class, in rank order:
    percent_rank (i/(n-1), 0 for a class of one) bucketed at 0.6/0.8."""
    prs = [i / (n - 1) if n > 1 else 0.0 for i in range(n)]
    return ["train" if pr < 0.6 else "valid" if pr < 0.8 else "test" for pr in prs]


def _small_classes(spark):
    """Classes of 1, 2 and 7 rows, their event_ids out of order."""
    ids = {0: [7], 1: [5, 3], 2: [12, 4, 30, 9, 1, 8, 21]}
    return spark.createDataFrame(
        [(e, lbl) for lbl, es in ids.items() for e in es], "event_id long, label int"
    ), ids


def test_stratified_split_partitions_input_exactly(spark, sf_dir):
    """``etl.stratified_split_assign`` partitions each class to the
    exact percent_rank fractions and covers every row exactly once
    (X1), for the shower classes and for classes of 1 and 2 rows."""
    small, _ = _small_classes(spark)
    for df, rnd in ((shower_frame(spark, sf_dir), rnd_col()), (small, F.col("event_id") * 0.001)):
        assigned = etl.stratified_split_assign(df, rnd)
        assert assigned.columns == [*df.columns, "split"]
        n = df.count()
        assert assigned.count() == n
        assert assigned.select("event_id").distinct().count() == n
        per = {
            (r["label"], r["split"]): r["n"]
            for r in assigned.groupBy("label", "split").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        want = Counter()
        for r in df.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect():
            want.update((r["label"], s) for s in _split_by_rank(r["n"]))
        assert per == want


def test_survival_curve_monotone_ends_at_one(spark, sf_dir):
    """Survival curves are monotone nondecreasing and end at 1.0 (A6);
    ``cum_count`` is the running sum of ``bin_count`` and ends at
    ``class_total``."""
    df = shower_frame(spark, sf_dir)
    curve = survival_curve(df, "label", "p", nbins=50).toPandas()
    for label, grp in curve.sort_values("bin").groupby("label"):
        fr = grp["surviving_frac"].to_numpy()
        assert (fr[1:] >= fr[:-1] - 1e-12).all()
        assert abs(fr[-1] - 1.0) < 1e-12
        cum = grp["cum_count"].to_numpy()
        assert cum.tolist() == grp["bin_count"].cumsum().tolist()
        assert cum[-1] == grp["class_total"].iloc[-1]


def test_split_determinism_same_seed_same_assignment(spark, sf_dir):
    """Same seed + same data ⇒ identical split assignment (X3), however
    the input is partitioned; a constant draw ties every row, so the
    ``event_id`` tie-break alone orders each class."""
    df = shower_frame(spark, sf_dir)
    a = etl.stratified_split_assign(df, rnd_col()).select("event_id", F.col("split").alias("s1"))
    b = etl.stratified_split_assign(df.repartition(3), rnd_col()).select("event_id", F.col("split").alias("s2"))
    joined = a.join(b, "event_id")
    assert joined.count() == df.count()
    assert joined.filter(F.col("s1") != F.col("s2")).count() == 0

    small, ids = _small_classes(spark)
    want = {e: s for es in ids.values() for e, s in zip(sorted(es), _split_by_rank(len(es)))}
    for frame in (small, small.repartition(3), small.orderBy(F.col("event_id").desc())):
        got = etl.stratified_split_assign(frame, F.lit(0.5)).select("event_id", "split").collect()
        assert dict(got) == want


def test_multimodal_real_codec_contract(spark, sf_dir):
    """The real-codec seam decodes genuine BMP containers (round-5:
    the stdlib decoder replaced the NotImplementedError stub) and
    still fails loudly — inside the kernel, as a ValueError at the
    PIL/ffmpeg slot — when handed bytes that are not a supported
    container (the fake payloads are raw pixel buffers, not BMP/PNG)."""
    from py4j.protocol import Py4JJavaError

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import multimodal

    bmp = multimodal.synth_bmp_media(spark, sf_dir)
    row = (
        multimodal.decode_media(bmp, codec="real")
        .filter(F.col("media_id") == 1)
        .first()
    )
    assert row["width"] == 8 and row["height"] == 8
    # formula check for event 1: pixels (1*7 + i*13) % 256, i=0..63
    px = [(7 + i * 13) % 256 for i in range(64)]
    assert row["max_intensity"] == max(px)
    assert row["checksum_weighted"] == sum(i * v for i, v in enumerate(px))

    raw = multimodal.synth_media(spark, sf_dir)  # raw buffers, no container
    # the kernel's ValueError surfaces as a captured PythonException
    # (raw Py4JJavaError if capture is off); match the specific message
    # so the assertion is not vacuous
    from pyspark.errors.exceptions.captured import PythonException

    with pytest.raises(
        (PythonException, Py4JJavaError), match="unsupported image format"
    ):
        multimodal.decode_media(raw, codec="real").first()


def test_minhash_fast_agrees_with_dictionary_variant(spark, sf_dir):
    """The xxhash64 production path and the oracle-checkable dictionary
    path compute the same shingle-set jaccard for every pair BOTH
    surface (candidate sets may differ slightly — different hash
    families — but verified scores must be identical), and they agree
    on the unambiguous pairs (jaccard ≥ 0.8)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    slow = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    fast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_near_duplicates_fast(docs, threshold=0.5).collect()
    }
    for pair in set(slow) & set(fast):
        assert abs(slow[pair] - fast[pair]) < 1e-9
    # only exact duplicates (jaccard == 1.0) are GUARANTEED candidates
    # under every hash family (all minhashes equal ⇒ every band
    # collides); at j = 0.8 a single family misses with P ≈ (1−j²)⁴
    exact_slow = {p for p, j in slow.items() if j >= 1.0 - 1e-9}
    exact_fast = {p for p, j in fast.items() if j >= 1.0 - 1e-9}
    assert exact_slow == exact_fast


def test_minhash_lsh_finds_exact_duplicates(spark):
    """A doc duplicated verbatim must be caught by MinHash-LSH with
    jaccard 1.0 (dedup recall on the easy case)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "one two three four five six seven"),
        (4, "totally different words here indeed friend"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    found = dedup.minhash_near_duplicates(docs, threshold=0.9).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in found}
    assert (1, 2) in pairs and abs(pairs[(1, 2)] - 1.0) < 1e-9
    assert all(p == (1, 2) for p in pairs)


def test_connected_components_invariants(spark, sf_dir):
    """Connected components (M5:dedup): every edge's endpoints share a
    component; every component's label is the min doc_id among its
    members; labels are members of their own component."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup as dd
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
    comp = dd.connected_components(pairs).cache()
    ca = comp.select(F.col("doc_id").alias("doc_a"), F.col("component").alias("comp_a"))
    cb = comp.select(F.col("doc_id").alias("doc_b"), F.col("component").alias("comp_b"))
    split_edges = (
        pairs.join(ca, "doc_a").join(cb, "doc_b").filter(F.col("comp_a") != F.col("comp_b"))
    )
    assert split_edges.count() == 0
    # label = min member of the component
    bad_label = (
        comp.groupBy("component")
        .agg(F.min("doc_id").alias("min_member"))
        .filter(F.col("component") != F.col("min_member"))
    )
    assert bad_label.count() == 0


def test_star_contraction_equals_propagation(spark, sf_dir):
    """Large-star/small-star contraction returns EXACTLY min-label
    propagation's components on the real LSH pair graph — same
    contract, O(log n) rounds instead of O(diameter)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup as dd
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
    a = sorted(tuple(r) for r in dd.connected_components(pairs).collect())
    b = sorted(tuple(r) for r in dd.connected_components_star(pairs).collect())
    assert a == b
    assert len(a) > 0


def test_star_contraction_converges_on_deep_chain(spark):
    """The topology propagation handles worst: a 300-node path graph
    (diameter 299). Star contraction must label every node with the
    chain minimum within its O(log n) round budget — propagation with
    the same iteration count would fail this, which is exactly why the
    star variant is the 100 TB default."""
    import warnings

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup as dd

    n = 300
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # non-convergence = failure
        comp = dd.connected_components_star(chain, max_iter=12).collect()
    got = {r["doc_id"]: r["component"] for r in comp}
    assert got == {i: 0 for i in range(n)}


def test_sketch_aggregates_within_error_bounds(spark, sf_dir):
    """approx_count_distinct (rsd 1%) and approx_percentile
    (accuracy 10⁴) stay within documented error of the exact values —
    tighter bounds than the corpus query's in-plan invariant flags."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import spark_queries
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    # the corpus query's own invariant flags must all hold
    for r in spark_queries()["sketch_aggregates"](spark, sf_dir).collect():
        assert r["users_in_bounds"] == 1 and r["p50_in_bounds"] == 1, r

    ev = load_table(spark, sf_dir, "events")
    both = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx_p50"),
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    for et, r in both.items():
        # HLL++ rsd 1%: allow 5% slack at tiny cardinalities
        assert abs(r["approx_users"] - r["users"]) <= max(1, 0.05 * r["users"])
        # percentile_approx at accuracy 1e4 is near-exact on small data
        spread = r["vmax"] - r["vmin"]
        assert abs(r["approx_p50"] - r["p50"]) <= 0.01 * spread + 1e-6


def test_transform_with_state_matches_batch(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (typed state, RocksDB store)
    must agree with the batch aggregate, like its applyInPandasWithState
    sibling. Skipped where the protobuf state protocol isn't installed
    (this container) — the operator is gated, not stubbed."""
    import pytest

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core, stateful

    if not stateful.transform_with_state_available():
        pytest.skip(
            "no google.protobuf runtime: neither the real package nor a vendored "
            "pure-Python copy the compat shim (compat/pbshim.py) can alias is "
            "present, so transformWithStateInPandas' JVM<->Python state protocol "
            "cannot start and the operator stays gated, not stubbed. (On this "
            "container the shim normally finds the Cloud SDK's vendored protobuf "
            "and this test RUNS.)"
        )

    ev = core.read_events_stream(spark, sf_dir)
    sink_tbl = core.run_to_memory(
        stateful.running_user_stats_tws(ev),
        "tws_probe",
        output_mode="update",
        state_partitions=4,
        extra_confs={
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
            )
        },
    )
    sink = spark.table(sink_tbl)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = {
        r["user_id"]: (r["n_events"], round(r["max_value"], 6))
        for r in sink.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["mx"], 6))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert final == batch


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """The IVF probe must actually FIND neighbors: recall@10 against
    the brute-force cosine top-10. The fixture embeddings are uniform
    random (no cluster structure), which caps IVF recall near
    nprobe/n_cells (= 0.25 here; measured 0.3–0.4) — the floor asserts
    the probe concentrates true neighbors well above the 10/N ≈ 0.02 a
    broken index (wrong centroids, wrong cell routing) would return.
    No hash-oracle can see this failure mode: each approximate query is
    its own ground truth. The LSH sign-bucket probe is exempt: a 4-bit
    sign partition of random 64-dim vectors carries ~no cosine signal
    (recall ≈ bucket fraction by construction on THIS data; on real
    anisotropic embeddings the same operator concentrates), so its
    correctness surface is the bucket-semantics hash oracle instead."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import spark_queries

    qs = spark_queries()
    exact = {r["vec_id"] for r in qs["cosine_topk"](spark, sf_dir).collect()}
    assert len(exact) == 10
    got = {r["vec_id"] for r in qs["ivf_probe_topk"](spark, sf_dir).collect()}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.25, f"ivf_probe_topk recall@10 = {recall}"
    # multi-probe recovers neighbors one hyperplane away: 5/16 of the
    # corpus scanned, measured recall 0.5 at both test SFs (vs 0.0–0.2
    # single-probe on this structureless data)
    multi = {r["vec_id"] for r in qs["ann_multiprobe_lsh_topk"](spark, sf_dir).collect()}
    m_recall = len(multi & exact) / len(exact)
    assert m_recall >= 0.3, f"ann_multiprobe_lsh_topk recall@10 = {m_recall}"


def test_pack_sequences_offsets_are_contiguous(spark, sf_dir):
    """Packing must tile each shard exactly: ordered by doc_id within
    a shard, every doc starts where the previous one ended (no gaps,
    no overlaps), starting from offset 0 — the property that makes the
    layout usable as a training-example index."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import spark_queries

    rows = spark_queries()["pack_sequences"](spark, sf_dir).collect()
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["lang"], []).append(r)
    assert by_shard
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        expect = 0
        for r in shard_rows:
            assert r["start_offset"] == expect, r
            assert r["pack_id"] == expect // 512 and r["pack_offset"] == expect % 512
            expect += r["n_tokens"]


def test_funnel_counts_are_monotone(spark, sf_dir):
    """Each funnel step is a strict subset of the previous one by
    construction — counts must be non-increasing down the funnel."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import spark_queries

    r = spark_queries()["funnel_conversion"](spark, sf_dir).collect()[0]
    assert r["n_viewed"] >= r["n_clicked_after"] >= r["n_purchased_after"] >= 0


def test_table_checksum_partition_invariant(spark, sf_dir):
    """The table fingerprint must not depend on physical layout: any
    repartitioning yields the same checksum (the property that makes
    it usable for cross-cluster dataset equality)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    base = corpus()["table_checksum"].fn(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    row_hash = (
        F.col("event_id") * 1000003
        + F.col("user_id") * 8191
        + F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    ) % 2147483647
    for n_parts in (1, 7):
        alt = (
            ev.repartition(n_parts)
            .agg(F.sum(row_hash).alias("checksum"))
            .collect()[0]["checksum"]
        )
        assert alt == base["checksum"], f"checksum changed at {n_parts} partitions"


def test_salted_join_salt_invariant(spark, sf_dir):
    """Salting is pure skew plumbing: for ANY n_salts the joined rows
    equal the plain join's (count + keyed aggregate equality)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.shuffle_opt import salted_join
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    big = ev.select((F.col("user_id") % 10).alias("k"), "value", "event_id")
    dim = spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") + 1.0).alias("w"))
    plain = (
        big.join(dim, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value") * F.col("w")).alias("s"))
    )
    expected = {r["k"]: (r["n"], round(r["s"], 6)) for r in plain.collect()}
    for n_salts in (1, 4, 64):
        got = {
            r["k"]: (r["n"], round(r["s"], 6))
            for r in salted_join(big, dim, "k", n_salts=n_salts, salt_src="event_id")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value") * F.col("w")).alias("s"))
            .collect()
        }
        assert got == expected, f"salted join diverged at n_salts={n_salts}"


# --------------------------------------------------- round-4 properties
def test_phash_banding_has_full_recall_at_radius_3():
    """Pigeonhole guarantee, verified empirically: ANY fingerprint pair
    within Hamming distance 3 (of 64 bits, 4 bands of 16) must collide
    on at least one exact band (3 differing bits cannot touch all 4
    bands) — so the banded LSH join in image_phash_neardup recalls 100%
    of pairs at the query's radius. Radius 4 does NOT have this
    property (a counterexample with one flipped bit per band exists in
    the fixture patterns — this test originally ran at 4 and found it).
    Brute-forces all distinct-pattern pairs from the fake-media
    formula."""
    import itertools

    import numpy as np

    # all 256 distinct patterns (media content has period 256 in id)
    ids = np.arange(256)
    m = np.arange(64)
    mats = (ids[:, None] * 7 + m[None, :] * 13) % 256
    mu = mats.sum(axis=1) / 64.0
    bits = (mats > mu[:, None]).astype("int64")
    bands = bits.reshape(256, 4, 16) @ (1 << np.arange(16, dtype="int64"))
    fps = {tuple(b) for b in bands}
    fps = sorted(fps)
    n_checked = 0
    for a, b in itertools.combinations(fps, 2):
        d = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
        if d <= 3:
            n_checked += 1
            assert any(x == y for x, y in zip(a, b)), (a, b, d)
    assert n_checked > 0  # the property was actually exercised


def test_pagerank_mass_invariant_under_repartitioning(spark, sf_dir):
    """Integer mass propagation must produce IDENTICAL masses at any
    shuffle width — the determinism claim that makes an iterative graph
    algorithm hash-checkable — and every mass must respect the
    conservation bounds of truncating division: at least the teleport
    BASE, at most BASE + 0.85 × the total circulating mass (integer
    division only loses mass, never creates it)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.scale_ops import (
        _PR_BASE,
        _PR_INIT,
        _PR_NODES,
        q_pagerank_mass,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = [(r["node"], r["mass"]) for r in q_pagerank_mass(spark, sf_dir).collect()]
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        b = [(r["node"], r["mass"]) for r in q_pagerank_mass(spark, sf_dir).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b
    # circulating mass never exceeds nodes × max(BASE..INIT): truncation
    # only sheds mass, so no node can hold more than BASE + 0.85 × the
    # whole pool, and every node keeps its teleport floor
    pool = _PR_NODES * max(_PR_INIT, _PR_BASE)
    for _node, mass in a:
        assert _PR_BASE <= mass <= _PR_BASE + int(0.85 * pool)


def test_reservoir_sample_bounded_and_stable(spark, sf_dir):
    """Per-key cap holds (≤5 rows per user) and membership is identical
    across runs — the resumability property a deterministic draw buys
    over rand()-based sampling."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.scale_ops import (
        q_reservoir_sample_per_key,
    )

    df1 = q_reservoir_sample_per_key(spark, sf_dir)
    per_user = df1.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert per_user <= 5
    s1 = {(r["user_id"], r["event_id"]) for r in df1.collect()}
    s2 = {(r["user_id"], r["event_id"]) for r in q_reservoir_sample_per_key(spark, sf_dir).collect()}
    assert s1 == s2


def test_window_ntile_tiny_fixture_no_null_quartiles(spark, tmp_path):
    """n_total < 4 used to hit a DIV-by-zero NULL in the else branch
    (r6 ADVICE); with the GREATEST guard the 3-row case yields exact
    NTILE semantics: one row per quartile 1..3."""
    import pyspark.sql.functions as F

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.relational import q_window_ntile

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "c_custkey long, c_acctbal double"
    ).write.parquet(f"{sf}/customer.parquet")
    rows = q_window_ntile(spark, sf).orderBy("quartile").collect()
    quartiles = [r["quartile"] for r in rows]
    assert quartiles == [1, 2, 3]
    assert all(r["n"] == 1 for r in rows)
    assert all(r["quartile"] is not None for r in rows)


def test_cdc_chunk_stream_matches_pure_python(spark):
    """The vectorized Arrow CDC kernel must agree with a direct
    per-position pure-Python evaluation of the same rolling hash
    (boundary when hash(chars[i-8:i]) % 64 == 0, 1-based cut position
    i in [8, len-1]), including the edge cases: text shorter than the
    window, text of exactly 9 chars, and chunks covering the full
    text when no boundary fires."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.text import (
        _CDC_POW,
        cdc_chunk_stream,
    )

    def py_chunks(t: str) -> list[str]:
        n = len(t)
        cuts = []
        if n >= 9:
            for i in range(8, n):  # 1-based positions 8..n-1
                h = sum(ord(t[i - 8 + k]) * _CDC_POW[k] for k in range(8)) % 1000000007
                if h % 64 == 0:
                    cuts.append(i)
        bounds = [0] + cuts + [n]
        return [t[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]

    import random

    rng = random.Random(42)
    texts = ["", "ab", "abcdefgh", "abcdefghi", "x" * 200] + [
        "".join(rng.choice("abcdef ghij") for _ in range(rng.randint(1, 300)))
        for _ in range(40)
    ]
    # Non-Latin-1 text: the kernel hashes full Unicode codepoints
    # (utf-32-le), matching ord() here and DuckDB's ascii() — a
    # latin-1 'replace' encoding would collapse these to '?' (63).
    texts += [
        "šumava řeka čaj " * 12,
        "γ-ray shower über café " * 10,
        "日本語テキスト데이터중복제거 " * 8,
        "mixed ascii и кириллица and 中文 " * 9,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = sorted(r["chunk"] for r in cdc_chunk_stream(df).collect())
    want = sorted(c for t in texts for c in py_chunks(t))
    assert got == want


def test_ngram_novelty_short_docs(spark, tmp_path):
    """Documents with fewer than 5 tokens must contribute no 5-grams
    (and no crash): F.sequence(0, size-5) on a 2-token doc would emit
    a descending sequence and F.slice would throw
    INVALID_PARAMETER_VALUE.START without the size guard."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.text import q_ngram_novelty_by_doc

    sf = str(tmp_path)
    docs = [
        (1, "a b"),                      # 2 tokens -> no grams
        (2, "one"),                      # 1 token  -> no grams
        (3, "a b c d e"),                # exactly 5 -> 1 gram, novel
        (4, "a b c d e f"),              # 2 grams, first one seen in doc 3
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    rows = {r["doc_id"]: r for r in q_ngram_novelty_by_doc(spark, sf).collect()}
    assert set(rows) == {3, 4}
    assert rows[3]["n_grams"] == 1 and rows[3]["n_novel"] == 1
    assert rows[4]["n_grams"] == 2 and rows[4]["n_novel"] == 1


def test_robust_scaler_iqr_zero(spark, tmp_path):
    """A group whose middle 50% is constant (IQR = 0) must yield NULL
    scaled values, not inf/NaN or an ANSI cast abort."""
    import datetime

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.relational_ext import (
        q_robust_scaler_fit_apply,
    )

    sf = str(tmp_path)
    ts = datetime.datetime(2024, 1, 1)
    # 'flat' group: all values identical -> q1 == q3. event_id 0 and 997
    # survive the % 997 sample filter.
    rows = [(i, "flat", 5.0, ts) for i in range(1000)] + [
        (10000 + i, "spread", float(i % 40), ts) for i in range(1000)
    ]
    spark.createDataFrame(
        rows, "event_id long, event_type string, value double, ts timestamp"
    ).write.parquet(f"{sf}/events.parquet")
    out = q_robust_scaler_fit_apply(spark, sf).collect()
    flat = [r for r in out if r["event_type"] == "flat"]
    spread = [r for r in out if r["event_type"] == "spread"]
    assert flat and all(r["iqr"] == 0 and r["scaled_micro"] is None for r in flat)
    assert spread and all(r["scaled_micro"] is not None for r in spread)


def test_ndv_audit_in_plan_invariant(spark, sf_dir):
    """The HLL-within-10% contract is an oracle-compared output column
    (lazily evaluated in the plan), not a driver-side assert."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.approx_ops import q_ndv_estimate_audit

    rows = q_ndv_estimate_audit(spark, sf_dir).collect()
    assert [r["col"] for r in rows] == ["l_orderkey", "l_partkey", "l_suppkey"]
    assert all(r["hll_within_10pct"] for r in rows)


def test_dedup_cache_invocation_keyed(spark, tmp_path):
    """Cache lifecycle (r7 VERDICT task 8): repeated pipeline calls on
    the SAME file-backed corpus reuse memoized frames (no re-shingle);
    a DIFFERENT corpus flushes them (memory stays bounded to one
    invocation); in-memory frames never memoize (no sound key → a
    false hit would be a wrong answer)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup

    def dict_key(df):  # the key minhash_near_duplicates enters for df
        return dedup._corpus_key(df, "dict", "text", "doc_id", 3)

    sf_a, sf_b = str(tmp_path / "a"), str(tmp_path / "b")
    docs_a = [(i, f"tok{i} alpha beta gamma delta epsilon zeta tok{i}") for i in range(30)]
    docs_a += [(100 + i, docs_a[i][1]) for i in range(5)]  # 5 exact dups
    docs_b = [
        (i, " ".join(f"w{i}_{k}" for k in range(8)))  # fully disjoint vocab per doc
        for i in range(30)
    ]
    spark.createDataFrame(docs_a, "doc_id long, text string").write.parquet(
        f"{sf_a}/documents.parquet"
    )
    spark.createDataFrame(docs_b, "doc_id long, text string").write.parquet(
        f"{sf_b}/documents.parquet"
    )
    ra = spark.read.parquet(f"{sf_a}/documents.parquet")
    rb = spark.read.parquet(f"{sf_b}/documents.parquet")

    dedup.release_caches()
    out1 = sorted(map(tuple, dedup.minhash_near_duplicates(ra).select("doc_a", "doc_b").collect()))
    assert out1  # the 5 planted dups must pair up
    key_a = dict_key(ra)
    assert key_a is not None and "verified" in dedup._SLOTS[key_a]["memo"]
    n_frames = len(dedup._SLOTS[key_a]["frames"])

    # same corpus read again (fresh read → fresh exprIds): key matches,
    # slot is reused (no new persisted frames), result identical
    ra2 = spark.read.parquet(f"{sf_a}/documents.parquet")
    out2 = sorted(map(tuple, dedup.minhash_near_duplicates(ra2).select("doc_a", "doc_b").collect()))
    assert out2 == out1
    assert dict_key(ra2) == key_a
    assert len(dedup._SLOTS[key_a]["frames"]) == n_frames

    # the fast variant of the same corpus gets its OWN slot; the dict
    # slot survives (2-slot LRU — the bench interleaving pattern)
    outf = dedup.minhash_near_duplicates_fast(ra).select("doc_a", "doc_b").collect()
    assert key_a in dedup._SLOTS and len(dedup._SLOTS) == 2

    # different corpus: evicts the LRU slot (dict of corpus A), bounded
    # at 2 slots; genuinely-unique docs produce no pairs
    out3 = dedup.minhash_near_duplicates(rb).select("doc_a", "doc_b").collect()
    assert len(dedup._SLOTS) == 2 and key_a not in dedup._SLOTS
    assert out3 == []

    # in-memory frame: no memoization (full flush), no stale reuse
    mem = spark.createDataFrame(docs_a, "doc_id long, text string")
    out4 = sorted(map(tuple, dedup.minhash_near_duplicates(mem).select("doc_a", "doc_b").collect()))
    assert dict_key(mem) is None
    assert list(dedup._SLOTS) == [None]  # keyed slots flushed; only the keyless run's frames
    assert out4 == out1
    dedup.release_caches()
    assert not dedup._SLOTS


def test_dedup_cache_invalidated_on_rewrite(spark, tmp_path):
    """r8 ADVICE (medium): the memo key folds each file's size+mtime,
    so rewriting the data at the SAME path (stable file names) must
    MISS the cache and return the new corpus's answer — a stale hit
    would silently return the old near-dup pairs."""
    import os
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup

    path = str(tmp_path / "c")
    docs_v1 = [(i, f"tok{i} alpha beta gamma delta epsilon zeta tok{i}") for i in range(20)]
    docs_v1 += [(100 + i, docs_v1[i][1]) for i in range(4)]  # 4 planted dups
    spark.createDataFrame(docs_v1, "doc_id long, text string").coalesce(1).write.parquet(
        f"{path}/documents.parquet"
    )
    dedup.release_caches()
    r1 = spark.read.parquet(f"{path}/documents.parquet")
    out1 = sorted(map(tuple, dedup.minhash_near_duplicates(r1).select("doc_a", "doc_b").collect()))
    assert out1  # the planted dups (plus shared-boilerplate pairs) must pair up
    key1 = dedup._corpus_key(r1, "dict", "text", "doc_id", 3)
    assert key1 is not None and key1 in dedup._SLOTS

    # rewrite the SAME path with a no-dup corpus, reproducing a stable
    # single file name (the CSV/JSON/hand-fixture overwrite scenario)
    stage = str(tmp_path / "stage")
    docs_v2 = [(i, " ".join(f"w{i}_{k}" for k in range(8))) for i in range(20)]
    spark.createDataFrame(docs_v2, "doc_id long, text string").coalesce(1).write.parquet(stage)
    old_files = sorted(
        f for f in os.listdir(f"{path}/documents.parquet") if f.endswith(".parquet")
    )
    new_files = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    assert len(old_files) == 1 and len(new_files) == 1
    # force the byte-identical file NAME the old key was computed over;
    # drop Hadoop's .crc sidecars, stale after the out-of-band rewrite
    shutil.copy(f"{stage}/{new_files[0]}", f"{path}/documents.parquet/{old_files[0]}")
    for crc in os.listdir(f"{path}/documents.parquet"):
        if crc.endswith(".crc"):
            os.remove(f"{path}/documents.parquet/{crc}")

    r2 = spark.read.parquet(f"{path}/documents.parquet")
    out2 = sorted(map(tuple, dedup.minhash_near_duplicates(r2).select("doc_a", "doc_b").collect()))
    # the rewritten corpus has zero near-dups; a stale memo hit would
    # have returned out1's 4 pairs
    assert out2 == []
    key2 = dedup._corpus_key(r2, "dict", "text", "doc_id", 3)
    assert key2 != key1 and key2[:-1] == key1[:-1]  # same files, new stamps
    assert key1 not in dedup._SLOTS  # the stale sibling was released eagerly
    dedup.release_caches()


def test_batch_retry_recompute_determinism(sf_dir, tmp_path):
    """VERDICT r9 task 4: lineage-recompute determinism under task
    retry — the batch twin of the streaming mid-batch failure test.
    Runs stratified_split and corpus_mix_sample in a subprocess
    session with master local[8,3] (task retries on), with every
    source wrapped in a fail-once mapInPandas identity; asserts the
    injected-failure result row-for-row equals the clean run and that
    the fault actually fired (marker file, no vacuous green). Seeded
    rand()/draw queries are deterministic per (seed, partition
    layout); a retry recomputes the SAME partition, so output must be
    bit-identical — the guarantee a 100 TB job leans on whenever an
    executor dies mid-stage."""
    import os
    import subprocess
    import sys

    marker = str(tmp_path / "fault_fired")
    helper = os.path.join(os.path.dirname(__file__), "retry_probe_helper.py")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, helper, sf_dir, marker],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-2000:]}"
    for probe in (
        "stratified_split",
        "corpus_mix_sample",
        "window_topk_per_group",
        "minhash_lsh_neardup_fast",
        "bom_chain_rollup_rcte",
        "bfs_shortest_hops_rcte",
    ):
        assert f"ok {probe}" in r.stdout
