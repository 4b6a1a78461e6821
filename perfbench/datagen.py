"""Seeded inputs. The same seed always gives byte-identical inputs.

- ``tables``: the star schema + events + documents + embeddings that
  the headline queries read, in the layout of the engine's test data
  (one parquet file per table, same column names and types).
- ``tcp_csv``: the reference's Ramen-vs-KSQL input shape — 100k rows
  × 80 columns of TCP flow records as ONE gzip CSV stream.
"""

from __future__ import annotations

import gzip
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
LANGS = ["en", "zh", "es", "de", "fr"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1992 = 694_224_000_000_000  # 1992-01-01 in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in µs


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _text(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Random word documents; ~5% exact copies and ~10% near copies
    (two words swapped) of earlier documents, so exact dedup and
    MinHash/LSH both have work."""
    docs: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            docs.append(docs[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.15:
            words = docs[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            docs.append(" ".join(words))
            continue
        n = int(rng.integers(10, 100))
        docs.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    return docs


def tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table the headline queries read; → row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_orders, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), out_dir, "region")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), out_dir, "nation")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), out_dir, "customer")
    _write(pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(_EPOCH_1992 + rng.integers(0, 3500, n_orders) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }), out_dir, "orders")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, int(200_000 * sf), n_li),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1992 + rng.integers(1100, 3600, n_li) * _DAY_US),
    }), out_dir, "lineitem")
    # strictly increasing timestamps: no two events of a user share a
    # ts, so the per-user rate never divides by zero
    ts = _EPOCH_2024 + np.cumsum(rng.integers(1, 2 * 30 * _DAY_US // n_events, n_events))
    _write(pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(150, n_events // 66), n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.gamma(2.0, 25.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), out_dir, "events")
    texts = _text(rng, n_docs)
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), out_dir, "documents")
    emb = rng.standard_normal((n_docs, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_docs, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    }), out_dir, "embeddings")
    return {
        "customer": n_cust, "orders": n_orders, "lineitem": n_li,
        "events": n_events, "documents": n_docs, "embeddings": n_docs,
    }


# -- the Ramen-vs-KSQL replay input ----------------------------------------

TCP_ROWS = 100_000
TCP_FILLER = 71  # + 9 real columns = the blog's ~80-column CSV
TCP_REAL = [
    "capture_begin", "port_server", "ip4_client", "traffic_bytes_client",
    "traffic_bytes_server", "rtt_count_client", "rtt_count_server",
    "rtt_sum_client", "rtt_sum_server",
]


def tcp_csv(out_dir: str, seed: int) -> tuple[str, dict[str, np.ndarray]]:
    """Write ``tcp.csv.gz`` (no header, capture_begin ascending, ~20
    minutes of capture over 1024 server ports, 2% null clients);
    → (path, the real columns, for the exact check)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = TCP_ROWS
    begin = 1_500_000_000_000_000 + np.sort(rng.integers(0, 1_200_000_000, n))
    cols = {
        "capture_begin": begin,
        "port_server": rng.integers(0, 1024, n),
        "ip4_client": rng.integers(0, 1 << 31, n),
        "traffic_bytes_client": rng.integers(0, 100_000, n),
        "traffic_bytes_server": rng.integers(0, 100_000, n),
        "rtt_count_client": rng.integers(0, 10, n),
        "rtt_count_server": rng.integers(0, 10, n),
        "rtt_sum_client": rng.integers(0, 1_000_000, n),
        "rtt_sum_server": rng.integers(0, 1_000_000, n),
    }
    null_client = rng.random(n) < 0.02
    arrays = [pa.array(cols[c]) for c in TCP_REAL]
    arrays[2] = pa.array(cols["ip4_client"], mask=null_client)
    # filler: 71 numeric columns so per-row parse cost matches the
    # reference's input; a seeded block of rows, repeated
    block = rng.integers(0, 1_000_000, (4096, TCP_FILLER))
    reps = -(-n // 4096)
    filler = np.tile(block, (reps, 1))[:n]
    arrays += [pa.array(filler[:, i]) for i in range(TCP_FILLER)]
    names = TCP_REAL + [f"filler_{i}" for i in range(TCP_FILLER)]
    path = os.path.join(out_dir, "tcp.csv.gz")
    with gzip.open(path, "wb", compresslevel=1) as fh:
        pacsv.write_csv(
            pa.table(arrays, names=names), fh,
            pacsv.WriteOptions(include_header=False, quoting_style="none"),
        )
    cols["ip4_client_null"] = null_client
    return path, cols
