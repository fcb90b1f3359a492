"""The seeded input generator: determinism and fixture schema."""

import json
import os

import pyarrow.parquet as pq
from conftest import ROOT

import gen
from workloads import InputSpec

SPEC = InputSpec(sf=0.001, events=3000, events_files=3, documents=200, embeddings=100)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, SPEC)
    b = gen.generate(str(tmp_path / "b"), 7, SPEC)
    assert a == b
    for name in a:
        for fa, fb in zip(gen.table_files(str(tmp_path / "a" / f"{name}.parquet")),
                          gen.table_files(str(tmp_path / "b" / f"{name}.parquet"))):
            with open(fa, "rb") as x, open(fb, "rb") as y:
                assert x.read() == y.read(), name


def test_other_seed_gives_other_content(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, SPEC)
    b = gen.generate(str(tmp_path / "b"), 8, SPEC)
    for name in ("events", "orders", "lineitem", "documents", "embeddings"):
        assert a[name]["sha256"] != b[name]["sha256"], name
        assert a[name]["rows"] == b[name]["rows"], name


def test_manifest_counts_rows_files_and_bytes(tmp_path):
    m = gen.generate(str(tmp_path / "a"), 1, SPEC)
    assert m["events"]["rows"] == 3000 and m["events"]["files"] == 3
    assert m["lineitem"]["rows"] == 6000 and m["lineitem"]["files"] == 1
    for name, entry in m.items():
        files = gen.table_files(str(tmp_path / "a" / f"{name}.parquet"))
        assert entry["bytes"] == sum(os.path.getsize(f) for f in files)


def test_schema_matches_fixture_manifest(tmp_path):
    """Every generated table has the column names and arrow types the
    engine's fixture-schema tripwire records."""
    gen.generate(str(tmp_path / "a"), 1, SPEC)
    with open(os.path.join(ROOT, "tests", "fixture_schema_manifest.json")) as fh:
        expected = json.load(fh)
    for name, cols in expected.items():
        f = gen.table_files(str(tmp_path / "a" / f"{name}.parquet"))[0]
        schema = pq.read_schema(f)
        assert {fld.name: str(fld.type) for fld in schema} == cols, name
