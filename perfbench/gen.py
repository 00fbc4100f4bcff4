"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables (the FIXTURES.md schemas and value
domains) at about scale factor 0.1 into a directory whose basename
carries the workload and the seed.  The engine stages derived data
(ANN indexes, ACID tables, format round-trips) under a key made from
the input directory's basename, so a basename of the fixture's shape
(``sf0.1``) would collide with the fixture's staged copies.

The same seed gives byte-identical parquet files; a different seed
gives different tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMBED_DIM = 64
# Share of documents that are a near-copy of an earlier document
# (last token replaced: 3-word-shingle Jaccard ~0.97, as in the fixture).
NEAR_DUP_RATE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "small", "green", "steel", "light", "dark"]
PART_NOUN = ["ring", "bolt", "gear", "pipe", "valve", "nut", "plate", "wheel"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line order part query scan slow small sort spark stream table the "
    "value vector window index row"
).split()


def data_dir(root: str, workload: str, seed: int) -> str:
    """Directory for one (workload, seed) input set under ``root``."""
    return os.path.join(root, f"bench-{workload}-s{seed}")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: str, rng: np.random.Generator, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "ms")
    offs = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("ms"))


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32),
    })

    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })

    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })

    n = ROWS["part"]
    pk = np.arange(n, dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) * 0.1, 1)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": price,
    })

    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days("1995-01-01", rng, 2404, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })

    n = ROWS["lineitem"]
    partkey = rng.integers(0, ROWS["part"], n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n, dtype=np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, ROWS["supplier"], n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", rng, 2498, n),
    })

    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span = 30 * 86_400 * 10**9
    ts = np.sort(rng.integers(0, span, n)) + start
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": rng.integers(0, 1500, n, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_RATE:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[-1] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(30, 91))])
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    n = ROWS["embeddings"]
    label = rng.integers(0, 10, n, dtype=np.int32)
    # weak class signal: within-class cosine ~0.005, as in the fixture
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = 0.07 * centers[label] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": label,
    })
    return t


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """(Re)write the ten tables under ``out_dir``; return row counts."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    counts = {}
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    import sys

    print(generate(sys.argv[1], int(sys.argv[2])))
