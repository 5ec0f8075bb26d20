"""Seeded synthetic inputs for the benchmark.

The tables follow the TPC-H-like shape the library's queries use
(lineitem, orders, documents), generated with NumPy from one seed and
written as parquet under a work directory inside the checkout. The same
seed and scale give the same files byte for byte. Only values change
with the seed; row counts, cardinalities and the target model are fixed,
so every seed takes the same fit routes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
# order dates span 1992-01-01 .. 1998-08-02, as in TPC-H
DATE0, DATE_SPAN = 8035, 2405
VOCAB = np.array(
    ("a the data spark table query row column key value part order line "
     "hash sort group join filter scan batch stream window merge agg "
     "vector small big fast slow customer supplier nation region price "
     "quantity discount tax ship date flag status priority").split())


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, row_group_size=64_000)
    return path


def write_orders_lineitem(rng: np.random.Generator, n_lines: int,
                          out_dir: str, prefix: str,
                          drift: float = 0.0) -> tuple[str, str]:
    """orders and lineitem with ``n_lines`` lineitem rows (about four
    lines per order). ``l_returnflag = 'R'`` is drawn from a fixed
    logistic model of quantity, discount, line status, ship mode, ship
    date and order priority, so the fitted variables carry signal.
    ``drift`` shifts quantity and discount, giving a second population
    for the stability (PSI) report."""
    n_orders = max(1, n_lines // 4)
    okey = np.arange(1, n_orders + 1, dtype=np.int64)
    lines_per = rng.integers(1, 8, n_orders)
    lkey = np.repeat(okey, lines_per)[:n_lines]
    if len(lkey) < n_lines:  # short draw: pad with extra single lines
        lkey = np.concatenate(
            [lkey, rng.integers(1, n_orders + 1, n_lines - len(lkey))])
        lkey.sort()
    starts = np.r_[0, np.flatnonzero(np.diff(lkey)) + 1]
    linenumber = (np.arange(n_lines)
                  - np.repeat(starts, np.diff(np.r_[starts, n_lines])) + 1)

    odate = DATE0 + rng.integers(0, DATE_SPAN, n_orders)
    prio = rng.integers(0, 5, n_orders)
    n_cust = max(10, n_orders // 10)
    orders = {
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders),
        "o_orderdate": odate.astype("datetime64[D]"),
        "o_orderpriority": PRIORITIES[prio],
    }

    oi = lkey - 1
    n_parts = max(100, n_lines // 30)
    partkey = rng.integers(1, n_parts + 1, n_lines)
    qty = np.clip(rng.integers(1, 51, n_lines) + np.round(drift * 10), 1, 50)
    disc = np.clip(rng.integers(0, 11, n_lines) + np.round(drift * 3),
                   0, 10) / 100.0
    tax = rng.integers(0, 9, n_lines) / 100.0
    price = qty * (900.0 + (partkey % 1000) + partkey / 10.0) / 10.0
    shipdate = odate[oi] + rng.integers(1, 122, n_lines)
    linestatus = np.where(shipdate > DATE0 + 1800, "O", "F")
    mode = rng.integers(0, len(SHIPMODES), n_lines)
    logit = (-1.3 + 0.03 * (qty - 25) + 9.0 * (disc - 0.05)
             - 0.5 * (linestatus == "O") + 0.12 * (prio[oi] - 2)
             + 0.15 * (mode - 3)
             + 0.8 * np.sin((shipdate - DATE0) / 300.0))
    is_r = rng.random(n_lines) < 1.0 / (1.0 + np.exp(-logit))
    flag = np.where(is_r, "R", np.where(rng.random(n_lines) < 0.5, "A", "N"))
    lineitem = {
        "l_orderkey": lkey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, max(10, n_parts // 20) + 1, n_lines),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": np.round(price, 2),
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": flag,
        "l_linestatus": linestatus,
        "l_shipmode": SHIPMODES[mode],
        "l_shipdate": shipdate.astype("datetime64[D]"),
    }
    # order totals and status follow from their lines, as in TPC-H
    tot = np.bincount(oi, weights=price * (1 - disc) * (1 + tax),
                      minlength=n_orders)
    n_f = np.bincount(oi, weights=(linestatus == "F"), minlength=n_orders)
    n_all = np.bincount(oi, minlength=n_orders)
    orders["o_totalprice"] = np.round(tot, 2)
    orders["o_orderstatus"] = np.where(
        n_f == n_all, "F", np.where(n_f == 0, "O", "P"))
    o_path = _write(pa.table(orders),
                    os.path.join(out_dir, f"{prefix}_orders.parquet"))
    l_path = _write(pa.table(lineitem),
                    os.path.join(out_dir, f"{prefix}_lineitem.parquet"))
    return l_path, o_path


def write_documents(rng: np.random.Generator, n_docs: int, out_dir: str,
                    dup_share: float = 0.15) -> str:
    """Space-separated word documents over a small vocabulary. A
    ``dup_share`` of them copy an earlier document with a few words
    replaced, so near-duplicate clusters exist at a fixed rate."""
    texts: list[str] = []
    words: list[np.ndarray] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            w = words[int(rng.integers(0, i))].copy()
            k = max(1, len(w) // 25)
            w[rng.integers(0, len(w), k)] = VOCAB[rng.integers(0, len(VOCAB), k)]
        else:
            w = VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(15, 100)))]
        words.append(w)
        texts.append(" ".join(w))
    table = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                      "text": texts})
    return _write(table, os.path.join(out_dir, "documents.parquet"))
