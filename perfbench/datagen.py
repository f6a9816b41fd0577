"""Deterministic fixture tables for the benchmark.

Writes the ten catalog tables (``mathorcup_spark.catalog.SCHEMAS``)
as one parquet file each. The tables are the seed-42 testdata the
engine is developed against (TESTDATA.md), regenerated here so that
the benchmark needs nothing outside its checkout: ``tables(sf)``
reproduces the testdata at sf 0.001, 0.01 and 0.1 value for value,
including the physical parquet types (``events.ts`` is a naive
TIMESTAMP(MICROS)). Check a copy of the testdata with

    python3 perfbench/datagen.py --compare <dir>/sf0.01

which exits non-zero on the first table that differs.

The tables depend only on the scale and the fixed seed, never on
the benchmark's ``--seed``: the workload seed varies query order and
micro-batch splits, not the data, so runs with different seeds
measure the same work.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
# List orders are part of the data: each draw picks an index into them.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]  # ~3/7 English

# Table marker written last: a directory without it is incomplete.
DONE = "_TABLES_DONE"


def _days(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values: list[str], size: int) -> np.ndarray:
    return np.asarray(values)[rng.integers(0, len(values), size)]


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf0.01: 60k lineitems)."""
    rng = np.random.default_rng(SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = _pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days("1995-01-01", 2405, n_ord, rng),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": _money(rng, 0, 0.1, n_line),
            "l_tax": _money(rng, 0, 0.08, n_line),
            "l_returnflag": _pick(rng, RETURN_FLAGS, n_line),
            "l_linestatus": _pick(rng, LINE_STATUS, n_line),
            "l_shipdate": _days("1995-01-02", 2499, n_line, rng),
        }
    )
    # seconds -> integer nanoseconds -> microseconds (truncated)
    offs = (np.sort(rng.uniform(0, 30 * 86400, n_ev)) * 1e9).astype(np.int64) // 1000
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.asarray(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    # 5% near-duplicates: a document's text replaced by another's + " dup"
    n_dup = n_docs // 20
    for d, s in zip(
        rng.choice(n_docs, n_dup, replace=False), rng.integers(0, n_docs, n_dup)
    ):
        texts[d] = texts[s] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Write the tables under ``out_dir`` unless a complete set is
    already there. Writes into a sibling temp directory and renames
    it, so an interrupted run never leaves a partial set behind."""
    if os.path.exists(os.path.join(out_dir, DONE)):
        return out_dir
    tmp = out_dir.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, DONE), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def compare(ref_dir: str) -> list[str]:
    """Differences between ``tables(sf)`` and the tables in ``ref_dir``
    (named ``sf<scale>``): physical parquet schema, then every value."""
    sf = float(re.search(r"sf([0-9.]+)/*$", ref_dir).group(1))
    problems = []
    for name, table in tables(sf).items():
        path = os.path.join(ref_dir, f"{name}.parquet")
        ref = pq.ParquetFile(path)
        written = pa.BufferOutputStream()
        pq.write_table(table, written)
        ours = pq.ParquetFile(pa.BufferReader(written.getvalue()))
        if not ours.schema.equals(ref.schema):
            problems.append(f"{name}: parquet schema {ours.schema} != {ref.schema}")
        elif not table.equals(ref.read().replace_schema_metadata()):
            problems.append(f"{name}: values differ")
    return problems


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="compare the fixtures with a testdata copy")
    p.add_argument("--compare", required=True, metavar="DIR", help="e.g. .../sf0.01")
    problems = compare(p.parse_args().compare)
    print("\n".join(problems) or "identical")
    sys.exit(1 if problems else 0)
