"""Source/sink format coverage (SURVEY §2.1): the engine reads more
than parquet — CSV and JSON lines roundtrip through the same schema,
and the partitioned sink is split-readable."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    """nation → CSV (header) → read with explicit schema → identical."""
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(nation.schema).option("header", True).csv(out)
    assert _canon(back) == _canon(nation)


def test_jsonlines_roundtrip(spark, sf_dir, tmp_path):
    """customer → JSON lines → schema-first read → identical (JSON
    drops null-only distinctions; fixture has no nulls)."""
    cust = load_table(spark, sf_dir, "customer")
    out = str(tmp_path / "customer_json")
    cust.write.mode("overwrite").json(out)
    back = spark.read.schema(cust.schema).json(out)
    assert _canon(back) == _canon(cust)


def test_partitioned_parquet_prunes_partitions(spark, sf_dir, tmp_path):
    """orders written partitionBy(o_orderpriority): a filter on the
    partition column must prune to that directory (partition pruning,
    the 100 TB scan-avoidance primitive)."""
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderpriority") == "1-URGENT")
    expected = orders.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert back.count() == expected
    # pruning is visible in the scan's partition filters
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderpriority" in plan


def test_fixture_schemas_match_manifest():
    """Tripwire for the round-2 failure mode: the driver regenerated
    the fixtures mid-build and events.ts silently changed physical
    encoding (TIMESTAMP(NANOS)-as-long → timestamp[us]), corrupting
    every streamed timestamp. This test compares every fixture table's
    parquet footer against the recorded manifest so an upstream
    re-encoding fails LOUDLY, by name, at the start of the run.

    If this fails: the fixture was regenerated with different physical
    types. Extend the catalog normalization seam
    (sources/catalog.py::normalize_events_ts and friends) to map the
    new encoding onto the canonical logical schema, re-run the full
    suite, THEN update tests/fixture_schema_manifest.json."""
    import glob
    import json

    import pyarrow.parquet as pq

    with open(os.path.join(os.path.dirname(__file__), "fixture_schema_manifest.json")) as f:
        manifest = json.load(f)
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        base = f"/root/testdata/{sf}"
        if not os.path.isdir(base):
            continue
        for path in sorted(glob.glob(f"{base}/*.parquet")):
            table = os.path.basename(path).replace(".parquet", "")
            got = {f.name: str(f.type) for f in pq.read_schema(path)}
            assert got == manifest.get(table), (
                f"fixture schema drift in {sf}/{table}: {got} != manifest "
                f"{manifest.get(table)} — extend catalog normalization, then "
                "update tests/fixture_schema_manifest.json (see docstring)"
            )


def test_stream_ts_equals_batch_ts(spark, sf_dir):
    """The streaming reader must surface the SAME event time as the
    batch catalog, whatever physical encoding the fixture carries
    (nanos-as-long vs plain micros). Round 2 shipped a hard-coded
    stream schema that silently stamped every event into Jan 1970 when
    the fixture changed encoding — this pins the seam shut."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core

    batch = load_table(spark, sf_dir, "events").select("event_id", "ts")
    stream = core.read_events_stream(spark, sf_dir).select("event_id", "ts")
    assert dict(stream.dtypes)["ts"] == dict(batch.dtypes)["ts"] == "timestamp"
    sink_tbl = core.run_to_memory(stream, "ts_parity_probe", output_mode="append")
    streamed = spark.table(sink_tbl)
    assert _canon(streamed) == _canon(batch)


def test_dynamic_partition_overwrite_backfill(spark, sf_dir, tmp_path):
    """Idempotent backfill: with partitionOverwriteMode=dynamic, an
    overwrite write replaces ONLY the partitions present in the
    incoming frame — re-running one day's pipeline must not truncate
    the rest of the table (the static default would). The production
    re-run contract for partitioned lakes."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(out)
    total = spark.read.parquet(out).count()
    days = [r["day"] for r in spark.read.parquet(out).select("day").distinct().collect()]
    assert len(days) > 1
    target_day = sorted(days)[0]

    # backfill one day with halved values
    patch = (
        spark.read.parquet(out)
        .filter(F.col("day") == target_day)
        .withColumn("value", F.col("value") * 0.5)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(out)
    assert back.count() == total, "dynamic overwrite truncated untouched partitions"
    assert back.select("day").distinct().count() == len(days)


def test_clustered_write_narrows_rowgroup_stats(spark, sf_dir, tmp_path):
    """Write-time clustering is what makes min/max row-group skipping
    WORK: the same rows written sorted-within-partition by user_id
    must produce per-file user_id ranges that are narrow slices of the
    domain, while the unsorted layout leaves every file spanning
    ~the whole domain (no skip possible). Verified from the parquet
    footers — the exact statistics a 100 TB scan planner prunes with."""
    import glob

    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    plain = str(tmp_path / "ev_plain")
    clustered = str(tmp_path / "ev_clustered")
    ev.repartition(8).write.mode("overwrite").parquet(plain)
    ev.repartition(8, "user_id").sortWithinPartitions("user_id").write.mode(
        "overwrite"
    ).parquet(clustered)

    def spans(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["user_id"]).statistics
                out.append(st.max - st.min)
        return out

    domain = (
        ev.agg(F.max("user_id") - F.min("user_id")).collect()[0][0]
    )
    plain_spans = spans(plain)
    clustered_spans = spans(clustered)
    assert plain_spans and clustered_spans
    # unsorted: every row group covers ~the full domain
    assert min(plain_spans) > 0.8 * domain
    # clustered: the average row group covers a narrow slice
    avg_clustered = sum(clustered_spans) / len(clustered_spans)
    assert avg_clustered < 0.35 * domain, (avg_clustered, domain)


def test_npz_stream_reader_incremental_pickup(spark, sf_dir):
    """The NPZ Python Data Source's stream reader: a drop-directory
    feed where each availableNow drain picks up exactly the archives
    not yet committed (offset = seen-file list, replayed from the
    checkpoint). First drain reads archive 1; after archive 2 lands, a
    second drain with the same checkpoint appends ONLY archive 2's
    rows."""
    import shutil

    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.npz_datasource import NpzDataSource

    # dirs are TEST-private: the corpus query npz_stream_datasource
    # writes its own a1/a2.npz into SCRATCH/npz_stream_drop, and a
    # concurrent harness run (plan generator, oracle sweep) executing
    # it mid-test would poison a shared drop directory (round-9 race:
    # gen_plans.py wrote a 100-row gamma a2.npz between this test's
    # two drains)
    drop = os.path.join(SCRATCH, "npz_streamtest_drop")
    ckpt = os.path.join(SCRATCH, "npz_streamtest_ckpt")
    sink = os.path.join(SCRATCH, "npz_streamtest_sink")
    for p in (drop, ckpt, sink):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(drop)

    np.savez(os.path.join(drop, "a1.npz"), m=np.arange(6, dtype="float64").reshape(3, 2))
    spark.dataSource.register(NpzDataSource)

    def drain():
        q = (
            spark.readStream.format("npz")
            .option("path", os.path.join(drop, "*.npz"))
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    drain()
    first = spark.read.parquet(sink).collect()
    assert len(first) == 3
    assert all(r["key"] == "m" for r in first)

    np.savez(os.path.join(drop, "a2.npz"), v=np.ones((2, 2), dtype="float64"))
    drain()
    rows = spark.read.parquet(sink).collect()
    assert len(rows) == 5, f"expected only the 2 new rows appended: {len(rows)}"
    by_key = {r["key"] for r in rows}
    assert by_key == {"m", "v"}


def test_foreach_batch_checkpoint_no_redelivery(spark, sf_dir):
    """The streaming checkpoint records delivered batch ids: a second
    availableNow drain over the same (unchanged) source with the same
    checkpoint must deliver ZERO new batches — the bookkeeping that
    makes idempotent-per-batch foreachBatch writes exactly-once."""
    import os
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core

    sink_path = os.path.join(SCRATCH, "feb_redelivery_sink")
    ckpt_path = os.path.join(SCRATCH, "feb_redelivery_ckpt")
    for p in (sink_path, ckpt_path):
        shutil.rmtree(p, ignore_errors=True)
    ev = core.read_events_stream(spark, sf_dir)
    core.drain_foreach_batch_to_parquet(ev, sink_path, ckpt_path)
    n_first = spark.read.parquet(sink_path).count()
    assert n_first > 0
    # same source, same checkpoint: nothing new to deliver
    core.drain_foreach_batch_to_parquet(ev, sink_path, ckpt_path)
    n_second = spark.read.parquet(sink_path).count()
    assert n_second == n_first, "checkpointed drain redelivered batches"


def test_stdlib_image_codecs_roundtrip():
    """The real-codec seam (VERDICT r4 gap #2): PNG encode→decode is
    lossless for every scanline filter (the encoder cycles all five),
    and the BMP decoder undoes bottom-up row order and palette
    indirection — position-checked, not just statistics-checked."""
    import binascii
    import struct

    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.multimodal import (
        bmp_gray8_header_hex,
        decode_image_bytes,
        encode_png_gray,
    )

    for h, w in [(8, 8), (7, 5), (16, 16), (1, 1), (6, 9)]:
        img = ((np.arange(h * w) * 37 + 11) % 256).astype(np.uint8).reshape(h, w)
        dec = decode_image_bytes(encode_png_gray(img))
        assert dec.shape == (h, w) and (dec == img).all()

    # 8-bit palettized BMP, bottom-up rows (the plan-side header)
    top = (np.arange(64) * 19 % 256).astype(np.uint8).reshape(8, 8)
    buf = binascii.unhexlify(bmp_gray8_header_hex(8, 8)) + top[::-1].tobytes()
    assert (decode_image_bytes(buf) == top).all()

    # 24-bit BMP with row padding
    w2, h2 = 5, 3
    img2 = ((np.arange(h2 * w2) * 53) % 256).astype(np.uint8).reshape(h2, w2)
    row = (w2 * 3 + 3) & ~3
    px = b""
    for y in range(h2 - 1, -1, -1):
        r = b"".join(bytes((v, v, v)) for v in img2[y])
        px += r + b"\x00" * (row - len(r))
    fh = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w2, h2, 1, 24, 0, len(px), 2835, 2835, 0, 0)
    assert (decode_image_bytes(fh + dib + px) == img2).all()

    # unsupported format still raises at the PIL/ffmpeg slot
    # (JPEG and GIF are supported since r6, so the unsupported probe
    # uses TIFF magic; malformed JPEG raises its own parse error)
    try:
        decode_image_bytes(b"II*\x00 not a supported container")
    except ValueError as e:
        assert "PIL" in str(e)
    else:
        raise AssertionError("expected ValueError for unsupported format")
    try:
        decode_image_bytes(b"\xff\xd8\xff\xe0 not a real jpeg")
    except ValueError as e:
        assert "JPEG" in str(e)
    else:
        raise AssertionError("expected ValueError for malformed JPEG")


def test_stdlib_wav_codec_roundtrip():
    """WAV synth header + stdlib RIFF parser round-trip, including
    word-aligned odd-length chunk skipping and the unsupported-encoding
    slot where ffmpeg/soundfile would plug in."""
    import struct

    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.multimodal import (
        decode_wav_bytes,
        wav_header_hex,
    )

    v = ((np.arange(64, dtype=np.int64) * 29 + 91) % 2048) - 1024
    pcm = b"".join(int(x % 65536).to_bytes(2, "little") for x in v)
    rate, s = decode_wav_bytes(bytes.fromhex(wav_header_hex(64)) + pcm)
    assert rate == 8000
    assert np.array_equal(s.astype(np.int64), v)

    # an odd-length LIST chunk before data must be skipped word-aligned
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    hdr = bytes.fromhex(wav_header_hex(64))
    riff_patched = (
        hdr[:4]
        + struct.pack("<I", struct.unpack_from("<I", hdr, 4)[0] + len(extra))
        + hdr[8:36]
        + extra
        + hdr[36:]
    )
    rate2, s2 = decode_wav_bytes(riff_patched + pcm)
    assert rate2 == 8000 and np.array_equal(s2, s)

    # stereo / non-PCM raise at the real-codec slot
    bad_fmt = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", 0)
    )
    try:
        decode_wav_bytes(bad_fmt)
    except ValueError as e:
        assert "unsupported" in str(e)
    else:
        raise AssertionError("expected ValueError for stereo WAV")
    try:
        decode_wav_bytes(b"OggS not a wav")
    except ValueError as e:
        assert "RIFF" in str(e)
    else:
        raise AssertionError("expected ValueError for non-RIFF payload")


def test_stdlib_gif_codec_roundtrip():
    """GIF LZW encoder/decoder round-trip across shapes that exercise
    dictionary growth, the clear-code reset (dict overflow) and the
    KwKwK case; interlaced and non-GIF payloads raise at the PIL slot."""
    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.gif import (
        decode_gif_gray,
        encode_gif_gray,
    )

    rng = np.random.RandomState(7)
    cases = [
        rng.randint(0, 256, (8, 8)).astype(np.uint8),
        np.zeros((5, 3), np.uint8),  # KwKwK-heavy constant run
        (np.arange(256 * 16) % 256).reshape(64, 64).astype(np.uint8),
        rng.randint(0, 256, (128, 128)).astype(np.uint8),  # dict overflow + clear
    ]
    for img in cases:
        out = decode_gif_gray(encode_gif_gray(img))
        assert out.shape == img.shape and (out == img).all()

    # interlace flag raises at the real-codec slot
    buf = bytearray(encode_gif_gray(cases[0]))
    desc = buf.index(0x2C, 13 + 768)
    buf[desc + 9] |= 0x40
    try:
        decode_gif_gray(bytes(buf))
    except ValueError as e:
        assert "interlaced" in str(e)
    else:
        raise AssertionError("expected ValueError for interlaced GIF")
    try:
        decode_gif_gray(b"NOTAGIF")
    except ValueError as e:
        assert "GIF" in str(e)
    else:
        raise AssertionError("expected ValueError for non-GIF payload")


def test_stdlib_gif_animation_roundtrip():
    """Animated GIF (the video container face): encoder emits NETSCAPE
    loop + per-frame GCE + independently LZW-coded frames; the frame
    decoder recovers every frame bit-exact, and partial-frame
    composition raises at the ffmpeg slot."""
    import struct

    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.gif import (
        decode_gif_frames,
        decode_gif_gray,
        encode_gif_animation,
    )

    rng = np.random.RandomState(11)
    frames = [rng.randint(0, 256, (8, 8)).astype(np.uint8) for _ in range(8)]
    buf = encode_gif_animation(frames)
    out = decode_gif_frames(buf)
    assert len(out) == 8 and all((a == b).all() for a, b in zip(frames, out))
    # the single-frame decoder sees the first frame of an animation
    assert (decode_gif_gray(buf) == frames[0]).all()

    # a partial-frame image descriptor raises at the ffmpeg slot
    ba = bytearray(buf)
    desc = ba.index(0x2C, 13 + 768)
    struct.pack_into("<HH", ba, desc + 1, 1, 0)  # left=1
    try:
        decode_gif_frames(bytes(ba))
    except ValueError as e:
        assert "partial-frame" in str(e)
    else:
        raise AssertionError("expected ValueError for partial-frame GIF")


def test_spread_scan_is_conditional(spark, sf_dir):
    """spread_scan (r10) must repartition ONLY a starved scan: a
    single-split fixture frame spreads to defaultParallelism, while a
    frame already at >= defaultParallelism partitions passes through
    UNTOUCHED (no exchange node added) — the guard that keeps the
    fixture-spread pattern from ever exchanging a multi-split 100 TB
    corpus."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, spread_scan

    dp = spark.sparkContext.defaultParallelism
    starved = load_table(spark, sf_dir, "events").select("event_id")
    assert starved.rdd.getNumPartitions() < dp  # single-file fixture
    spread = spread_scan(starved)
    assert spread.rdd.getNumPartitions() == dp

    wide = starved.repartition(dp)  # already multi-split
    same = spread_scan(wide)
    assert same is wide  # identity — no plan change, no exchange added


def test_events_by_type_fixture_concurrent_build_race(spark, sf_dir, monkeypatch):
    """Two queries share the events_by_type layout, and a concurrent
    driver (the FAIR contention probe scenario) can ask for it from
    several threads at once. Wipe the fixture and invoke from 4
    threads: every thread must get one identical, readable layout, and
    the build must run exactly once. A second call with unchanged
    sources reuses the fixture without rewriting its stamp, and a
    build that raises publishes nothing: no ``<path>.build`` is left,
    no new stamp is written, and the previous fixture stays readable."""
    import shutil
    import threading

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries import sources_multimodal
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import (
        SCRATCH,
        derived_fixture,
        scratch_tag,
    )

    path = f"{SCRATCH}/events_by_type_{scratch_tag(sf_dir)}"
    stamp = path + ".stamp"
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)

    builds = []

    def counting(fix_path, sources, version, build):
        def counted(tmp):
            builds.append(tmp)
            build(tmp)

        return derived_fixture(fix_path, sources, version, counted)

    monkeypatch.setattr(sources_multimodal, "derived_fixture", counting)
    results, errors = [], []

    def worker():
        try:
            fact, dim = sources_multimodal.events_by_type_fixture(spark, sf_dir)
            n_fact = spark.read.parquet(fact).count()
            n_dim = spark.read.parquet(dim).count()
            results.append((fact, dim, n_fact, n_dim))
        except Exception as e:  # noqa: BLE001
            errors.append(repr(e))

    threads = [threading.Thread(target=worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(set(results)) == 1, results
    fact, _, n_fact, n_dim = results[0]
    assert n_dim == 5  # the 5 event types
    assert len(builds) == 1, builds

    stamped = os.stat(stamp).st_mtime_ns
    assert sources_multimodal.events_by_type_fixture(spark, sf_dir)[0] == fact
    assert len(builds) == 1
    assert os.stat(stamp).st_mtime_ns == stamped

    def broken(tmp):
        os.makedirs(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        derived_fixture(path, [os.path.join(sf_dir, "events.parquet")], -1, broken)
    assert not os.path.exists(path + ".build")
    assert os.stat(stamp).st_mtime_ns == stamped
    assert spark.read.parquet(fact).count() == n_fact


@pytest.fixture
def sf_copy(sf_dir, tmp_path):
    """``sf_copy(sub)`` makes a writable copy of the scale-factor
    directory at ``tmp_path/sub``, keeping its basename. The fixtures
    and tables the test derives from each copy are removed from
    ``.scratch`` afterwards: no later run uses the copy's tag."""
    import glob
    import shutil

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH, scratch_tag

    made = []

    def copy(sub: str) -> str:
        dst = tmp_path / sub / os.path.basename(sf_dir.rstrip("/"))
        dst.mkdir(parents=True)
        for name in os.listdir(sf_dir):
            shutil.copyfile(os.path.join(sf_dir, name), dst / name)
        made.append(str(dst))
        return str(dst)

    yield copy
    for d in made:
        for p in glob.glob(os.path.join(SCRATCH, f"*_{scratch_tag(d)}*")):
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)


def _rewrite_events(sf_dir):
    """Rewrite ``events.parquet`` in place, keeping every ``event_id``
    (so id-only fingerprints cannot tell it apart) but rotating
    ``event_type``, shifting ``ts`` and scaling ``value``."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = os.path.join(sf_dir, "events.parquet")
    t = pq.read_table(events)
    types = sorted(set(t.column("event_type").to_pylist()))
    rotate = {a: types[(k + 1) % len(types)] for k, a in enumerate(types)}
    shift = pa.scalar(datetime.timedelta(minutes=37), pa.duration(t.schema.field("ts").type.unit))
    for col, arr in (
        ("event_type", pa.array([rotate[v] for v in t.column("event_type").to_pylist()], pa.string())),
        ("ts", pc.add(t.column("ts"), shift)),
        ("value", pc.multiply(t.column("value"), 2.0)),
    ):
        t = t.set_column(t.schema.get_field_index(col), col, arr)
    pq.write_table(t, events)


def _assert_oracle_exact(spark, name, d):
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus
    from tests.oracle_utils import compare_frames, duckdb_con, exact_hash_problems

    q = corpus()[name]
    spark_pdf = q.fn(spark, d).toPandas()
    con = duckdb_con(d)
    try:
        oracle_pdf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert not compare_frames(spark_pdf, oracle_pdf), (d, compare_frames(spark_pdf, oracle_pdf))
    assert not exact_hash_problems(spark_pdf, oracle_pdf), d


FIXTURE_QUERIES = (
    "partition_pruned_read",
    "dynamic_partition_pruning_join",
    "stream_late_data_accounting",
    "stream_foreach_batch_upsert",
)


@pytest.mark.parametrize("name", FIXTURE_QUERIES)
def test_fixture_queries_follow_a_rewritten_source(spark, sf_copy, name):
    """A derived fixture must follow its source table, not just the SF
    tag. Run the query on a copy of the SF directory, then rewrite the
    copy's events in place (same path, so the same tag; see
    ``_rewrite_events``) and run it again: each answer must equal its
    own DuckDB oracle."""
    copy = sf_copy("copy")
    _assert_oracle_exact(spark, name, copy)
    _rewrite_events(copy)
    _assert_oracle_exact(spark, name, copy)


@pytest.mark.parametrize("name", ["bucketed_join_no_shuffle", "partition_pruned_read"])
def test_same_named_sf_dirs_keep_their_own_fixtures(spark, sf_copy, name):
    """Two SF directories with the same basename but different rows
    (events rewritten, every line's price doubled) must each get their
    own answer: the saved bucketed tables and the derived fixtures are
    keyed by ``scratch_tag``, which hashes the realpath, not by the
    basename alone."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    a, b = sf_copy("a"), sf_copy("b")
    _rewrite_events(b)
    lineitem = os.path.join(b, "lineitem.parquet")
    t = pq.read_table(lineitem)
    i = t.schema.get_field_index("l_extendedprice")
    pq.write_table(t.set_column(i, "l_extendedprice", pc.multiply(t.column(i), 2)), lineitem)
    for d in (a, b, a):
        _assert_oracle_exact(spark, name, d)


def _raises_naming(fn, path, timeout=120):
    """Run ``fn`` in a thread: it must raise within ``timeout`` seconds,
    with an error that names ``path``."""
    import threading

    out = []

    def run():
        try:
            fn()
        except Exception as e:  # noqa: BLE001
            out.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout)
    assert not t.is_alive(), f"hung on {path}"
    assert out, f"no error for {path}"
    assert path in str(out[0]), str(out[0])[:500]


def test_load_table_names_the_path_it_cannot_read(spark, sf_copy, tmp_path):
    """A missing table, an empty scale-factor directory and a truncated
    ``events.parquet`` each give a prompt error naming the path, never
    a hang or an answer."""
    copy = sf_copy("copy")
    os.remove(os.path.join(copy, "nation.parquet"))
    _raises_naming(lambda: load_table(spark, copy, "nation"), os.path.join(copy, "nation.parquet"))

    empty = tmp_path / "empty"
    empty.mkdir()
    _raises_naming(lambda: load_table(spark, str(empty), "events"), str(empty / "events.parquet"))

    events = os.path.join(copy, "events.parquet")
    with open(events, "r+b") as f:
        f.truncate(os.path.getsize(events) // 2)
    _raises_naming(lambda: load_table(spark, copy, "events"), events)


def test_read_memo_drops_a_file_truncated_after_it_was_read(spark, sf_copy):
    """``load_table`` memoizes a resolved frame per stat key. Truncating
    the file changes that key, so the next call must resolve the file
    again, and fail on it, instead of returning the memoized frame;
    the old frame's next action must fail too, not answer."""
    copy = sf_copy("copy")
    events = os.path.join(copy, "events.parquet")
    df = load_table(spark, copy, "events")
    assert df.count() > 0
    assert load_table(spark, copy, "events") is df  # memo hit
    with open(events, "r+b") as f:
        f.truncate(os.path.getsize(events) // 2)
    _raises_naming(lambda: load_table(spark, copy, "events"), events)  # a memo hit would not raise
    _raises_naming(df.count, events)
