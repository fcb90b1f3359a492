"""Seeded input generator for the benchmark.

Writes every table the benchmark's queries read, in the exact arrow
schema of the engine's fixture tables (``sources.catalog.TABLES``), into
one scale directory.  The same ``(seed, spec)`` always gives the same
bytes: values come from one ``numpy.random.Generator`` per table, and the
parquet writer is deterministic for a fixed pyarrow version.

Value domains follow the fixtures the corpus oracles were written
against: TPC-H-like star schema with order/ship dates in 1995-2001, an
``events`` table of one month of uniformly spread activity, a word-salad
``documents`` table with injected exact and near (``" dup"`` suffix)
duplicates, and unit-norm 64-d ``embeddings``.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import InputSpec

SCHEMAS = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.timestamp("us")),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", pa.timestamp("us")),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}


_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"], dtype=object)
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = np.array(
    (
        "spark window merge table column vector stream value data small join filter "
        "big group hash customer sort order slow line part fast the row agg key query "
        "a scan batch"
    ).split(),
    dtype=object,
)
LANGS = np.array(["en", "de", "es", "fr", "zh"], dtype=object)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> np.ndarray:
    days = rng.integers(0, n_days, n)
    return _EPOCH_1995 + (first_day + days) * _DAY_US


def _tpch(rng: np.random.Generator, sf: float) -> dict[str, dict]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    nk = np.arange(25, dtype=np.int32)
    cust = np.arange(n_cust)
    supp = np.arange(n_supp)
    part = np.arange(n_part)
    adj = rng.integers(0, len(ADJ), n_part)
    noun = rng.integers(0, len(NOUN), n_part)
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % 5,
        },
        "customer": {
            "c_custkey": cust,
            "c_name": [f"Customer#{i:09d}" for i in cust],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n_cust)],
        },
        "supplier": {
            "s_suppkey": supp,
            "s_name": [f"Supplier#{i:09d}" for i in supp],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": part,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (part % 1000) * 0.1, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_ts(rng, 0, 2404, n_ord),
            "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n_ord)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
            "l_shipdate": _day_ts(rng, 1, 2498, n_line),
        },
    }


def _events(rng: np.random.Generator, n: int) -> dict:
    # ~67 events per user, as in the fixtures (1 500 users per 100 000 rows)
    n_users = max(15, n // 67)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024
    return {
        "event_id": np.arange(n),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), k)]) for k in lens]
    # 5% near duplicates (an earlier document plus " dup") and 0.2% exact
    # duplicates, so the dedup queries have work to find
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n),
        "embedding": list(x),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _table(name: str, cols: dict) -> pa.Table:
    schema = SCHEMAS[name]
    return pa.table({f.name: pa.array(cols[f.name], type=f.type) for f in schema}, schema=schema)


def _write(table: pa.Table, path: str, files: int) -> None:
    if files <= 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy")


def table_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path))
    return [path]


def generate(out_dir: str, seed: int, spec: InputSpec) -> dict:
    """Write every table for ``spec`` under ``out_dir`` (replacing it)
    and return the input manifest: rows, bytes, file count and content
    hash per table."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    # one child generator per table keeps each table's values
    # independent of which other tables change size
    seq = np.random.SeedSequence(seed)
    r_tpch, r_ev, r_doc, r_emb = (np.random.default_rng(s) for s in seq.spawn(4))
    cols = _tpch(r_tpch, spec.sf)
    cols["events"] = _events(r_ev, spec.events)
    cols["documents"] = _documents(r_doc, spec.documents)
    cols["embeddings"] = _embeddings(r_emb, spec.embeddings)
    manifest = {}
    for name, c in cols.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        files = spec.events_files if name == "events" else 1
        table = _table(name, c)
        _write(table, path, files)
        h = hashlib.sha256()
        size = 0
        for f in table_files(path):
            with open(f, "rb") as fh:
                data = fh.read()
            h.update(os.path.basename(f).encode())
            h.update(data)
            size += len(data)
        manifest[name] = {
            "rows": table.num_rows,
            "bytes": size,
            "files": len(table_files(path)),
            "sha256": h.hexdigest(),
        }
    return manifest
