"""Seeded input generator: TPC-H-shaped tables, a document corpus and CDC
change files derived from ``orders``.

Everything is a pure function of the seed and the sizes, so the same seed
always gives byte-identical inputs. The engine under test only ever sees
these generated files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992 = np.datetime64("1992-01-01", "D")
ORDER_DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date range
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])

# The curation ACON's gopher stage counts stopword hits against
# ["the", "a", "value", "table"]; the vocabulary contains all four.
VOCAB = np.array(
    "a the value table spark line column order small sort fast scan hash slow "
    "group batch part filter query big agg key window row stream merge data "
    "join customer vector".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_tpch(root: str, seed: int, n_orders: int) -> dict:
    """customer / orders / lineitem with 1-7 lines per order (about 4n
    lineitem rows) and n/10 customers. Returns ``{table: path}``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(n_orders // 10, 1)
    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": pa.array([f"Customer#{k:09d}" for k in custkey]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n_cust)],
    })
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    orderdate = EPOCH_1992 + rng.integers(0, ORDER_DAYS, n_orders)
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(850.0, 560000.0, n_orders), 2),
        "o_orderdate": pa.array(orderdate, pa.date32()),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(orderkey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n_li).astype(np.float64)
    shipdate = np.repeat(orderdate, lines) + rng.integers(1, 122, n_li)
    lineitem = pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(1, 20 * n_cust + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_cust + 1, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(shipdate, pa.date32()),
    })
    paths = {}
    for name, table in (("customer", customer), ("orders", orders), ("lineitem", lineitem)):
        paths[name] = os.path.join(root, f"{name}.parquet")
        _write(table, paths[name])
    return paths


def write_documents(root: str, seed: int, n_docs: int) -> str:
    """Word-salad documents over a small vocabulary, 10-90 words each.

    About 4% of documents are near-copies of an earlier one (one word
    changed), so the MinHash-LSH stage has duplicates to find; short
    documents fail the gopher word-count rule.
    """
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(10, 91, n_docs)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    texts: List[str] = [
        " ".join(words[offsets[i]:offsets[i + 1]]) for i in range(n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < 0.04):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
        texts[i] = " ".join(src)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    path = os.path.join(root, "documents.parquet")
    _write(docs, path)
    return path


CDC_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING, "
    "recordmode STRING, change_ts BIGINT"
)


@dataclass
class CdcFiles:
    target_init: str  # parquet file: the merge target before any change
    landing: str  # directory of change files, one micro-batch each
    files: List[str]
    rows_changed: int  # sum over files of the keys each file touches


def write_cdc(root: str, seed: int, orders_path: str, n_files: int, touch: float) -> CdcFiles:
    """Merge target (``orders`` plus ``recordmode``/``change_ts``) and
    ``n_files`` change files. Each file touches ``touch`` of the keys: 1-3
    images per key with rising ``change_ts``, newest image mostly ``U``
    with some ``D`` (delete) and ``X`` (before-image: the key is skipped
    this batch), plus about 10% new keys inserted with ``N``."""
    rng = np.random.default_rng([seed, 3])
    orders = pq.read_table(orders_path)
    n = orders.num_rows
    target = orders.append_column(
        "recordmode", pa.array(["N"] * n)
    ).append_column("change_ts", pa.array(np.zeros(n, dtype=np.int64)))
    target_init = os.path.join(root, "cdc_target_init", "part-0.parquet")
    _write(target, target_init)

    landing = os.path.join(root, "cdc_landing")
    os.makedirs(landing, exist_ok=True)
    next_key = n + 1
    files, rows_changed = [], 0
    cust_max = int(np.max(orders.column("o_custkey").to_numpy()))
    for f in range(n_files):
        k_old = max(int(n * touch), 1)
        keys_old = rng.choice(np.arange(1, n + 1, dtype=np.int64), k_old, replace=False)
        k_new = max(k_old // 10, 1)
        keys_new = np.arange(next_key, next_key + k_new, dtype=np.int64)
        next_key += k_new
        keys = np.concatenate([keys_old, keys_new])
        images = rng.integers(1, 4, len(keys))
        key = np.repeat(keys, images)
        m = len(key)
        last = np.zeros(m, dtype=bool)
        last[np.cumsum(images) - 1] = True
        is_new = np.repeat(np.concatenate([np.zeros(k_old, bool), np.ones(k_new, bool)]), images)
        mode = np.where(rng.random(m) < 0.5, "U", "X")
        r = rng.random(m)
        mode = np.where(last, np.where(r < 0.85, "U", np.where(r < 0.95, "D", "X")), mode)
        mode = np.where(is_new, "N", mode)
        # change_ts rises across files and across a key's images
        change_ts = (f + 1) * 1_000_000 + np.arange(m, dtype=np.int64)
        perm = rng.permutation(m)  # images arrive out of order within a file
        table = pa.table({
            "o_orderkey": key[perm],
            "o_custkey": rng.integers(1, cust_max + 1, m).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, m)],
            "o_totalprice": np.round(rng.uniform(850.0, 560000.0, m), 2),
            "o_orderdate": pa.array(EPOCH_1992 + rng.integers(0, ORDER_DAYS, m), pa.date32()),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, m)],
            "recordmode": mode[perm],
            "change_ts": change_ts[perm],
        })
        path = os.path.join(landing, f"changes-{f:04d}.parquet")
        _write(table, path)
        # the file source orders micro-batches by modification time
        os.utime(path, (1_000_000 + f, 1_000_000 + f))
        files.append(path)
        rows_changed += len(keys)
    return CdcFiles(target_init, landing, files, rows_changed)
