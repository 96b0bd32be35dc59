"""Deterministic star-schema generator for the benchmark.

The benchmark runs in a bare checkout, so it cannot read the repository's
external test data; it builds tables like it instead (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings),
one snappy parquet file per table, timestamps as TIMESTAMP(MICROS) without a
time zone. ``--compare`` below checks the likeness: the same row counts and
parquet column types, and close column ranges and distinct counts.

Cardinalities follow TPC-H at scale factor ``sf`` (lineitem = 6M x sf);
``documents`` and ``embeddings`` keep a floor of 500 rows. Columns are drawn
independently and uniformly, except: 5% of documents repeat an earlier
document plus the token ``dup`` (near duplicates for the fuzzy dedup
operators), 0.16% repeat one verbatim, and events arrive in time order.

To compare the generated tables with a directory of reference parquet files
(row counts, parquet column types, and each column's min, max, distinct and
null counts)::

    python3 perfbench/datagen.py --sf 0.01 --compare <dir holding region.parquet, ...>
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "widget", "gear", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
#: the generator seed: every run reads the same tables
SEED = 42


def _days(start: dt.date, end: dt.date, n: int, rng: np.random.Generator) -> np.ndarray:
    span = (end - start).days + 1
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": _choice(rng, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.07 / np.sqrt(dim), (10, dim))
    x = rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(sf: float) -> dict[str, pa.Table]:
    """Every table at scale factor ``sf``; the same ``sf`` gives the same
    bytes."""
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": _choice(rng, part_names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord, rng),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li, rng),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": (np.datetime64("2024-01-01", "us") + ts_us).astype("datetime64[us]"),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return t


def _fingerprint() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def ensure_tables(root: str, sf: float) -> str:
    """Write the tables under ``root`` once per (sf, generator source) and
    return their directory; later calls reuse the files."""
    out = os.path.join(root, f"sf{sf:g}-{_fingerprint()}")
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


def _parquet_columns(pf: pq.ParquetFile) -> list[tuple[str, str, str]]:
    schema = pf.schema
    return [
        (c.name, c.physical_type, str(c.logical_type))
        for c in (schema.column(i) for i in range(len(schema)))
    ]


def _stats(col: pa.ChunkedArray) -> tuple:
    if pa.types.is_list(col.type):
        lengths = pc.list_value_length(col)
        return (pc.min(lengths).as_py(), pc.max(lengths).as_py(), col.null_count)
    return (pc.min(col).as_py(), pc.max(col).as_py(), pc.count_distinct(col).as_py(), col.null_count)


def compare(sf: float, ref_dir: str) -> list[str]:
    """Differences between the tables generated at ``sf``, as written to
    parquet, and the files ``<table>.parquet`` in ``ref_dir``."""
    diffs: list[str] = []
    for name, table in make_tables(sf).items():
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        gen = pq.ParquetFile(pa.BufferReader(buf.getvalue()))
        ref = pq.ParquetFile(os.path.join(ref_dir, f"{name}.parquet"))
        if gen.metadata.num_rows != ref.metadata.num_rows:
            diffs.append(f"{name}: {gen.metadata.num_rows} rows, reference {ref.metadata.num_rows}")
        if _parquet_columns(gen) != _parquet_columns(ref):
            diffs.append(f"{name}: columns {_parquet_columns(gen)}, reference {_parquet_columns(ref)}")
            continue
        g, r = gen.read(), ref.read()
        for col in r.column_names:
            a, b = _stats(g[col]), _stats(r[col])
            if a != b:
                diffs.append(f"{name}.{col} (min, max, distinct, nulls): {str(a)[:100]}, reference {str(b)[:100]}")
    return diffs


if __name__ == "__main__":
    p = argparse.ArgumentParser(description="Compare the generated tables with reference parquet files.")
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--compare", required=True, metavar="DIR")
    args = p.parse_args()
    print("\n".join(compare(args.sf, args.compare)) or "no differences")
