"""Seeded input generator for the benchmark.

Every table is made from ``numpy.random.default_rng(seed)`` alone, so the
same seed gives byte-identical rows. Schemas and value ranges follow the
engine's sf0.1 test corpus (TPC-H-style dimension and fact tables, an
event log, a document corpus and an embedding table); the row counts are
set per workload by a multiplier ``k`` of the sf0.1 sizes.

Tables are written as directories of parquet files (``<name>.parquet/
part-NNNNN.parquet``), each file in several row groups, so a scan is
split into several tasks. Spark reads the directory; DuckDB reads the
glob ``<name>.parquet/*.parquet``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# The sf0.1 corpus's own vocabulary (31 words).
VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
EVENTS_T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def write_table(
    out_dir: str, name: str, table: pa.Table, n_files: int, row_groups: int = 2
) -> None:
    """Write ``table`` as ``n_files`` contiguous parquet files of
    ``row_groups`` row groups each."""
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        pq.write_table(
            part,
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // row_groups)),
        )


def tpch_tables(rng: np.random.Generator, k: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders and lineitem at
    ``k`` times the sf0.1 row counts."""
    n_cust, n_supp = int(15000 * k), int(1000 * k)
    n_part, n_ord = int(20000 * k), int(150000 * k)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"],
                n_cust,
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
        }),
    }
    adjs = np.array(["large", "hot", "blue", "small", "red", "green", "dim",
                     "cold", "new", "old"])
    nouns = np.array(["ring", "bolt", "case", "disk", "gear", "pipe", "wire",
                      "plate", "rod", "cap"])
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(adjs[rng.integers(0, 10, n_part)], " "),
            nouns[rng.integers(0, 10, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(0, 25, n_part).astype(str)),
        "p_type": rng.choice(
            ["LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO", "ECONOMY"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    })
    day_us = 86_400_000_000
    d0 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
    n_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) / np.timedelta64(1, "D")) + 1
    o_date = d0 + rng.integers(0, n_days, n_ord) * day_us
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": o_date.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    lines_per = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_li = len(l_orderkey)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1
    ship = np.repeat(o_date, lines_per) + rng.integers(1, 96, n_li) * day_us
    out["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": linenum.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    return out


def events_table(rng: np.random.Generator, n_ev: int, n_users: int) -> pa.Table:
    """Events over 30 days, sorted by (ts, event_id): event ids are
    assigned in timestamp order, so the table order is the replay order."""
    ts = np.sort(EVENTS_T0_US + rng.integers(0, EVENTS_SPAN_US, n_ev))
    return pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.clip(rng.exponential(50.0, n_ev), 0, 560), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
        ),
    })


def documents_table(
    rng: np.random.Generator, n_doc: int, dup_share: float = 0.03
) -> pa.Table:
    """Word soup over VOCAB (8-105 words a document), with ``dup_share``
    of the documents planted as copies of earlier ones: half exact copies,
    half near copies with one word replaced, so every dedup stage has
    work to do."""
    words = [VOCAB[rng.integers(0, len(VOCAB), w)] for w in rng.integers(8, 106, n_doc)]
    n_dup = max(2, int(dup_share * n_doc))
    targets = rng.choice(np.arange(n_doc // 2, n_doc), n_dup, replace=False)
    for j, t in enumerate(targets):
        src = words[int(rng.integers(0, n_doc // 2))].copy()
        if j % 2:
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        words[t] = src
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(rng: np.random.Generator, n_emb: int) -> pa.Table:
    """64-dim unit vectors in 10 label clusters."""
    centers = rng.normal(0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.08, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def stage_file(out_dir: str, i: int, table: pa.Table) -> str:
    """Write the ``i``-th file of a file-stream replay into ``out_dir``.
    Modification times increase with ``i``, so the file source takes the
    files in order, one per trigger."""
    os.makedirs(out_dir, exist_ok=True)
    p = os.path.join(out_dir, f"part-{i:05d}.parquet")
    pq.write_table(table, p)
    os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return p
