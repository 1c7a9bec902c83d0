"""Seeded input generator for the benchmark.

``make_tables`` builds the ten driver tables (FIXTURES.md Part B) at a
given scale factor with the same column types and value distributions as
the driver's own generator: uniform keys, uniform categorical columns,
exponential event values, a 30-word document vocabulary with ~5%
near-duplicates and a few exact duplicates, and 64-dim unit embeddings.
The same seed gives byte-identical parquet.

``replicate`` derives the ``scaleout`` input: K key-offset copies of the
tables its queries read (orders, events and documents), as in
``scripts/blowup_headline.py``, plus one hot user that owns a fixed share
of the events rows.

Every directory is written next to a completion marker, so a run killed
halfway is never mistaken for finished input.

    python3 perfbench/gen.py <root> <seed> <sf> <k>

writes the input under ``root`` and prints its directory and metadata as
one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MARKER = "_COMPLETE"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

# Offset per replica copy; larger than any base key, as in blowup_headline.
KEY_OFFSET = 100_000_000
HOT_SHARE = 0.2


def _ts(lo: str, hi: str, n: int, rng, unit: str) -> np.ndarray:
    lo_v = np.datetime64(lo, unit).astype(np.int64)
    hi_v = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(lo_v, hi_v + 1, n)


def _choice(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # ~5% near-duplicates (an earlier document plus a marker token) and a
    # few exact duplicates, which the dedup operators are meant to find.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf``, as arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        }
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(
                _ts("1995-01-01", "2001-08-01", n_ord, rng, "D").astype("datetime64[D]"),
            ).cast(pa.timestamp("us")),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(
                _ts("1995-01-02", "2001-11-04", n_line, rng, "D").astype("datetime64[D]"),
            ).cast(pa.timestamp("us")),
        }
    )
    ts = np.sort(_ts("2024-01-01", "2024-01-30T23:59:59", n_evt, rng, "us"))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": _choice(rng, EVENT_TYPES, n_evt),
            "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


# Replicated table -> (key columns offset per copy, text column tagged per
# copy or None). Only what the scaleout queries read: orders.o_totalprice,
# events and documents.
REPL_RULES = {
    "orders": (("o_orderkey",), None),
    "events": (("event_id", "user_id"), None),
    "documents": (("doc_id",), "text"),
}


def replicate(tables: dict[str, pa.Table], k: int, seed: int) -> dict[str, pa.Table]:
    """K key-offset copies of the tables in ``REPL_RULES``; one hot user
    owns ``HOT_SHARE`` of the events rows."""
    rng = np.random.default_rng(seed + 1)
    out = dict(tables)
    for name, (keys, text) in REPL_RULES.items():
        base = tables[name]
        copies = []
        for c in range(k):
            cp = base
            for key in keys:
                col = cp.column(key)
                cp = cp.set_column(
                    cp.schema.get_field_index(key), key,
                    pc.add(col, pa.scalar(c * KEY_OFFSET, col.type)),
                )
            if text and c > 0:
                # a copy tag, so that copies are not exact duplicates
                cp = cp.set_column(
                    cp.schema.get_field_index(text), text,
                    pc.binary_join_element_wise(cp.column(text), f"copytag{c}", " "),
                )
            copies.append(cp)
        out[name] = pa.concat_tables(copies).combine_chunks()
    events = out["events"]
    users = events.column("user_id").to_numpy().copy()
    users[rng.random(len(users)) < HOT_SHARE] = 0
    out["events"] = events.set_column(
        events.schema.get_field_index("user_id"), "user_id", pa.array(users, pa.int64())
    )
    return out


def _write(tables: dict[str, pa.Table], out: str, meta: dict) -> dict:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    sizes = {}
    for name, tbl in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        sizes[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    meta = dict(meta, tables=sizes)
    with open(os.path.join(out, MARKER), "w") as fh:
        json.dump(meta, fh)
    return meta


def materialize(root: str, seed: int, sf: float, k: int = 1) -> tuple[str, dict]:
    """Write the input for (seed, sf, k) under ``root`` unless a completed
    copy is there; drop every other input set. Returns (dir, metadata)."""
    key = f"s{seed}_sf{sf}_k{k}"
    out = os.path.join(root, key)
    marker = os.path.join(out, MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            return out, json.load(fh)
    if os.path.isdir(root):
        for old in os.listdir(root):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tables = make_tables(seed, sf)
    if k > 1:
        tables = replicate(tables, k, seed)
    meta = {"seed": seed, "sf": sf, "k": k, "hot_share": HOT_SHARE if k > 1 else 0}
    return out, _write(tables, out, meta)


if __name__ == "__main__":
    import sys

    root, seed, sf, k = sys.argv[1:5]
    data_dir, meta = materialize(root, int(seed), float(sf), int(k))
    print(json.dumps({"dir": data_dir, "meta": meta}))
