#!/usr/bin/env python
"""Concurrent-session contention probe (r9 VERDICT task 6).

Every number in SCALE.md so far is one query at a time in a dedicated
session. A shared cluster runs many queries at once, so this probe
runs the 10 heaviest bench headliners 4-WAY CONCURRENT in one
SparkSession under the FAIR scheduler (each worker thread in its own
pool via ``spark.scheduler.pool``, PYSPARK_PIN_THREAD thread-local
propagation) and checks the two multi-tenant properties a 100 TB
deployment needs:

1. CORRECTNESS under concurrency: every query's row-sorted result in
   every concurrent stream is identical to its solo-run result —
   shared session state (conf, broadcast hints, localCheckpoint RDDs,
   the dedup memo) must not cross-contaminate pools. The dedup memo
   is exercised deliberately: minhash_lsh_neardup runs in multiple
   streams at once.
2. BOUNDED slowdown: with 4 streams on 32 cores the FAIR scheduler
   time-slices; wall per query should grow ~4x, not collapse. The
   probe asserts aggregate slowdown < 8x (generous: this box has
   ambient CPU-noise spikes up to 1.8x, see the verify-skill note).

Writes a section appended to SCALE.md. Exit 1 on any mismatch or an
unbounded slowdown.

Usage: python scripts/concurrency_probe.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_STREAMS = 4
N_QUERIES = 10


def result_key(df) -> tuple:
    return tuple(sorted(repr(tuple(r)) for r in df.collect()))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import SparkSession

    # r12 (VERDICT r11 what's-wrong #3): RocksDB is the probe's
    # state-store DEFAULT. One r11 probe run died with a driver-heap
    # OOM inside StateStoreSaveExec — in local mode every concurrent
    # stream's HDFS-backed state map lives on the driver heap, while
    # the RocksDB provider keeps state off-heap/on-disk, which is the
    # production mitigation (and the provider parity tests already pin
    # hash equality between the two). Override with
    # SPARK_GRAFT_STATE_PROVIDER=hdfs to reproduce the old behavior.
    provider = os.environ.get("SPARK_GRAFT_STATE_PROVIDER", "rocksdb")
    builder = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.shuffle.partitions", "32")
        .appName("concurrency-probe")
    )
    if provider == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    reg = corpus()
    # the latest bench.py run's per-query walls
    with open(os.path.join(REPO, "BENCH_LEDGER.jsonl")) as fh:
        detail = json.loads(fh.read().splitlines()[-1])["queries"]
    # r11: streaming queries are INCLUDED — run_to_memory now scopes
    # each drain's in-memory sink name per invocation (uuid suffix), so
    # concurrent copies of the same streaming query no longer collide
    # (VERDICT r10 task 4). The 3 heaviest streaming headliners join
    # the 10 heaviest batch ones.
    names = [
        n for n, _ in sorted(detail.items(), key=lambda kv: -(kv[1] or 0))
        if n in reg and not n.startswith("stream")
    ][:N_QUERIES]
    names += [
        n for n, _ in sorted(detail.items(), key=lambda kv: -(kv[1] or 0))
        if n in reg and n.startswith("stream")
    ][:3]
    # r11 runtime-filter additions ride along regardless of weight: the
    # DPP query exercises the shared-fixture build lock and the bloom
    # query its scoped newSession conf clone — both concurrency
    # mechanisms, so they belong in the concurrency probe.
    names += [
        n
        for n in ("dynamic_partition_pruning_join", "runtime_bloom_filter_join", "aqe_skew_join_split")
        if n in reg and n not in names
    ]
    print("probing:", names, flush=True)

    # solo baselines (also warms codegen so the concurrent phase
    # measures contention, not compilation)
    solo_wall: dict[str, float] = {}
    solo_key: dict[str, tuple] = {}
    for n in names:
        t0 = time.monotonic()
        solo_key[n] = result_key(reg[n].fn(spark, sf_dir))
        solo_wall[n] = time.monotonic() - t0
        print(f"solo {n}: {solo_wall[n]:.2f}s", flush=True)

    # 4 concurrent streams, each running all 10 queries in a
    # stream-specific order (offset rotation => maximal overlap of
    # DIFFERENT queries at any instant, plus same-query collisions)
    errors: list[str] = []
    stream_walls: list[dict[str, float]] = [dict() for _ in range(N_STREAMS)]

    def stream(i: int) -> None:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", f"probe{i}")
        order = names[i:] + names[:i]
        for n in order:
            t0 = time.monotonic()
            try:
                k = result_key(reg[n].fn(spark, sf_dir))
            except Exception as e:  # noqa: BLE001
                errors.append(f"stream{i} {n}: {type(e).__name__}: {e}")
                continue
            stream_walls[i][n] = time.monotonic() - t0
            if k != solo_key[n]:
                errors.append(f"stream{i} {n}: result differs from solo run")

    t0 = time.monotonic()
    threads = [threading.Thread(target=stream, args=(i,)) for i in range(N_STREAMS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    conc_total = time.monotonic() - t0
    solo_total = sum(solo_wall.values())

    rows = []
    worst = 0.0
    for n in names:
        walls = [sw[n] for sw in stream_walls if n in sw]
        med = sorted(walls)[len(walls) // 2] if walls else float("nan")
        slow = med / solo_wall[n] if solo_wall[n] > 0 else float("inf")
        worst = max(worst, slow)
        rows.append((n, solo_wall[n], med, slow))

    agg_slow = conc_total / solo_total if solo_total else float("inf")
    lines = [
        "",
        f"## Concurrent-session contention probe (r12, state store: {provider})",
        "",
        f"date: {datetime.now(timezone.utc).strftime('%Y-%m-%dT%H:%MZ')}  "
        f"fixture: {sf_dir}  streams: {N_STREAMS} (FAIR scheduler, one pool each)  "
        f"queries: the {N_QUERIES} heaviest BATCH bench headliners + the 3 "
        "heaviest STREAMING headliners (includable since r11: run_to_memory "
        "scopes each drain's in-memory sink name per invocation, so "
        "concurrent copies of the same streaming query no longer collide)",
        "",
        f"- every stream's row-sorted result identical to the solo run: "
        f"{'YES' if not any('differs' in e for e in errors) else 'NO'}",
        f"- errors: {len(errors)}",
        f"- solo serial total: {solo_total:.1f}s; 4-way concurrent total "
        f"(each stream runs all {len(names)}): {conc_total:.1f}s — "
        f"{N_STREAMS}x the work in {agg_slow:.2f}x the serial wall "
        f"(ideal {N_STREAMS}.0x on saturated cores; below that = real overlap win)",
        f"- worst per-query median slowdown: {worst:.2f}x (bound: 8x)",
        "",
        "| query | solo s | 4-way median s | slowdown |",
        "|---|---|---|---|",
    ]
    lines += [f"| {n} | {s:.2f} | {m:.2f} | {sl:.2f}x |" for n, s, m, sl in rows]
    for e in errors:
        lines.append(f"- ERROR: {e}")

    with open(os.path.join(REPO, "SCALE.md"), "a") as fh:
        fh.write("\n".join(lines) + "\n")
    print("\n".join(lines), flush=True)

    if errors or worst > 8:
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
