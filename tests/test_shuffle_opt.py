"""Shuffle-elimination tests: bucketed joins plan no exchange;
salted aggregation equals direct aggregation."""

from __future__ import annotations

import pyspark.sql.functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import shuffle_opt
from high_energy_gamma_ray_search_in_kascade_array_data_spark.plans import physical_plan
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Co-bucketed orders ⋈ lineitem: zero Exchange operators in the
    join plan — the shuffle happened once at write time."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    shuffle_opt.write_bucketed(o, "orders_b", "o_orderkey", n_buckets=4)
    shuffle_opt.write_bucketed(li, "lineitem_b", "o_orderkey", n_buckets=4)
    # at test scale the planner prefers broadcast (which also skips the
    # shuffle); force the sort-merge path to prove the bucketed layout
    # carries the co-partitioning a 100 TB join would rely on
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = shuffle_opt.bucketed_join(spark, "orders_b", "lineitem_b", "o_orderkey")
        plan = physical_plan(joined)
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "Bucketed: true" in plan, f"scan not bucketed:\n{plan}"
        expected = o.join(li, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_agg_equals_direct_agg(spark, sf_dir):
    """Salted two-phase aggregation returns exactly the direct result
    on a deliberately skewed key (one key holds ~60% of rows)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 5 < 3, F.lit("hot")).otherwise(
            F.concat(F.lit("cold_"), (F.col("event_id") % 97).cast("string"))
        ).alias("key"),
        "value",
    )
    salted = shuffle_opt.salted_groupby_agg(ev, "key", "value", n_salts=8)
    direct = ev.groupBy("key").agg(F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n"))
    s = {r["key"]: (round(r["sum_value"], 6), r["n"]) for r in salted.collect()}
    d = {r["key"]: (round(r["sum_value"], 6), r["n"]) for r in direct.collect()}
    assert s == d
    # the salted phase-1 must actually split the hot key
    assert s["hot"][1] > 0


def test_salt_src_spreads_exact_duplicate_rows(spark, sf_dir):
    """A hot key made of EXACT-duplicate rows defeats the content-hash
    default (identical rows → identical salt → one reducer), but a
    unique-id salt_src spreads it; results are identical either way."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.lit("hot").alias("key"), F.lit(1.0).alias("value")
    )
    dup_rows = ev.select("key", "value")  # every row identical
    content_salt = shuffle_opt._row_salt(dup_rows, 8, None)
    id_salt = shuffle_opt._row_salt(ev, 8, "event_id")
    n_content = dup_rows.select(content_salt.alias("s")).distinct().count()
    n_id = ev.select(id_salt.alias("s")).distinct().count()
    assert n_content == 1  # the documented degradation
    assert n_id == 8  # unique-id salt uses every reducer slot
    # and the aggregate itself stays correct under salt_src
    out = shuffle_opt.salted_groupby_agg(ev, "key", "value", n_salts=8, salt_src="event_id")
    row = out.collect()[0]
    n = ev.count()
    assert (row["key"], row["n"], row["sum_value"]) == ("hot", n, float(n))


def test_memo_stat_key_invalidates_on_inplace_overwrite(spark, tmp_path):
    """Regression for the r8-ADVICE memo defect: the dedup-pipeline
    memo key must fold each source file's (size, mtime_ns) so an
    IN-PLACE overwrite that reproduces the same file name serves
    fresh results, not the previous corpus's cached frames. Under the
    pre-fix key (analyzed plan + file names only) the second read
    below hits the first corpus's persisted `verified` frame and
    reports a near-dup pair that no longer exists."""
    import time

    import pandas as pd

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup

    p = str(tmp_path / "documents.parquet")
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    pd.DataFrame(
        {"doc_id": [0, 1], "text": [dup_text, dup_text]}
    ).to_parquet(p, index=False)

    first = dedup.minhash_near_duplicates(spark.read.parquet(p)).collect()
    assert len(first) == 1  # identical docs: one verified pair

    # overwrite IN PLACE: same file name, different rows (no dups).
    # ext4 mtime_ns is fine-grained, but guard against coarse clocks.
    time.sleep(0.05)
    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "one two three four five six seven eight",
                "red orange yellow green blue indigo violet umber",
            ],
        }
    ).to_parquet(p, index=False)

    second = dedup.minhash_near_duplicates(spark.read.parquet(p)).collect()
    assert second == []  # stale memo would replay the old pair


def test_memo_slot_is_explicit_across_threads(spark, tmp_path):
    """Found by the concurrency probe: a near-dup
    pipeline must use the slot of the invocation it entered, even when
    another driver thread enters a different corpus in between. The
    entry points pass their slot down explicitly; with a global
    current key, thread B entering corpus B between thread A's entry
    and A's result construction made A read B's slot — a cross-corpus
    cache hit reporting corpus B's near-dup pair for corpus A.
    Deterministic interleaving via barriers."""
    import threading

    import pandas as pd

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import dedup

    pa_path = str(tmp_path / "corpus_a.parquet")
    pb_path = str(tmp_path / "corpus_b.parquet")
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    # corpus A: no duplicates; corpus B: one identical pair
    pd.DataFrame(
        {"doc_id": [0, 1],
         "text": ["one two three four five six seven eight",
                  "red orange yellow green blue indigo violet umber"]}
    ).to_parquet(pa_path, index=False)
    pd.DataFrame({"doc_id": [0, 1], "text": [dup, dup]}).to_parquet(
        pb_path, index=False
    )

    dedup.release_caches()
    # warm corpus B's slot so a stale hit has something to serve
    assert len(dedup.minhash_near_duplicates(spark.read.parquet(pb_path)).collect()) == 1

    b1, b2 = threading.Barrier(2), threading.Barrier(2)
    out: dict[str, object] = {}

    def thread_a():
        docs = spark.read.parquet(pa_path)
        tid, slot = dedup._token_ids(docs, "dict", "text", "doc_id", 3)  # enters corpus A
        b1.wait()  # let thread B enter corpus B now
        b2.wait()
        out["slot_a"] = slot
        out["a"] = dedup._near_duplicates_from_tid(tid, slot, 0.5, "doc_id").collect()

    def thread_b():
        b1.wait()
        docs = spark.read.parquet(pb_path)
        dedup.doc_token_ids(docs)  # enters corpus B (most-recently-used slot)
        out["key_b"] = dedup._corpus_key(docs, "dict", "text", "doc_id", 3)
        b2.wait()

    ta, tb = threading.Thread(target=thread_a), threading.Thread(target=thread_b)
    ta.start(); tb.start(); ta.join(); tb.join()
    assert out["slot_a"]["key"] != out["key_b"]
    assert out["a"] == [], "thread A served corpus B's cached near-dup pair"


def test_load_table_cache_hits_and_invalidates(spark, sf_dir, tmp_path):
    """The catalog's resolved-scan cache returns the SAME DataFrame for
    an unchanged table (amortizing the ~0.1s/ call Py4J + footer
    planning the r11 build audit measured) and a FRESH one the moment
    the backing file changes — the dedup-memo staleness design applied
    to the catalog."""
    import os
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources import catalog

    a = catalog.load_table(spark, sf_dir, "region")
    b = catalog.load_table(spark, sf_dir, "region")
    assert a is b

    # copy the fixture elsewhere, load, rewrite in place, reload
    p = tmp_path / "region.parquet"
    shutil.copy(os.path.join(sf_dir, "region.parquet"), p)
    c1 = catalog.load_table(spark, str(tmp_path), "region")
    assert c1 is catalog.load_table(spark, str(tmp_path), "region")
    rows = c1.collect()
    # out-of-band rewrite (same name, new mtime/contents)
    c1.sparkSession.createDataFrame(rows[:2]).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "region_new.parquet")
    )
    shutil.copy(
        next((tmp_path / "region_new.parquet").glob("part-*.parquet")), p
    )
    c2 = catalog.load_table(spark, str(tmp_path), "region")
    assert c2 is not c1
    assert c2.count() == 2
