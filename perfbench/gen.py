"""Seeded input generators for the three workloads.

Every table is written as a directory of ``PARTS`` parquet files with
fixed writer options, so one seed always produces byte-identical files.
Row counts are fixed per workload (the seed only changes values), which
keeps run times comparable across seeds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 4

NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
SALES_REGIONS = ["EAST", "WEST"]


@dataclass
class Inputs:
    """What a generator wrote: table name → directory, plus sizes."""

    root: str
    tables: dict[str, str] = field(default_factory=dict)
    rows: int = 0
    bytes: int = 0
    truth: "list[list[int]] | None" = None  # planted duplicate clusters

    def add(self, name: str, table: pa.Table) -> None:
        path = os.path.join(self.root, name)
        os.makedirs(path, exist_ok=True)
        n = table.num_rows
        bounds = [n * i // PARTS for i in range(PARTS + 1)]
        for i in range(PARTS):
            f = os.path.join(path, f"part-{i:05d}.parquet")
            pq.write_table(
                table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                f,
                compression="snappy",
                row_group_size=1 << 16,
            )
            self.bytes += os.path.getsize(f)
        self.tables[name] = path
        self.rows += n


def _strings(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    return pa.array([f"{prefix}{i:0{width}d}" for i in ids.tolist()])


def _zipf_keys(rng: np.random.Generator, n: int, domain: int, a: float) -> np.ndarray:
    """``n`` keys in ``1..domain`` whose frequency falls with rank as a
    Zipf law; the rank → key mapping is a seeded permutation so the hot
    key is not always key 1."""
    ranks = (rng.zipf(a, size=n) - 1) % domain
    return rng.permutation(domain)[ranks].astype(np.int64) + 1


def nightly(root: str, seed: int, scale: float) -> Inputs:
    """TPC-H-like orders/lineitem/customer/part with a Zipf-skewed
    customer key; 3 % of orders name a customer that does not exist
    (the master join's ``missed`` port)."""
    rng = np.random.default_rng(seed)
    out = Inputs(root)
    n_cust, n_part = int(2_000 * scale), int(1_000 * scale)
    n_ord, n_li = int(15_000 * scale), int(60_000 * scale)

    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    out.add("customer", pa.table({
        "custkey": custkey,
        "name": _strings("Customer#", custkey, 9),
        "nation": rng.integers(0, NATIONS, n_cust, dtype=np.int32),
        "segment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))

    partkey = np.arange(1, n_part + 1, dtype=np.int64)
    out.add("part", pa.table({
        "partkey": partkey,
        "brand": pa.array([f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2)).tolist()]),
        "size": rng.integers(1, 51, n_part, dtype=np.int32),
        "retail_cents": rng.integers(90_000, 200_000, n_part, dtype=np.int64),
    }))

    orderkey = np.arange(1, n_ord + 1, dtype=np.int64)
    okey_cust = _zipf_keys(rng, n_ord, int(n_cust * 1.03), 1.3)
    out.add("orders", pa.table({
        "orderkey": orderkey,
        "custkey": okey_cust,
        "orderday": rng.integers(0, 365, n_ord, dtype=np.int32),
        "priority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }))

    li_order = np.sort(rng.integers(1, n_ord + 1, n_li)).astype(np.int64)
    first = np.concatenate([[True], li_order[1:] != li_order[:-1]])
    starts = np.flatnonzero(first)
    linenumber = (np.arange(n_li) - starts[np.cumsum(first) - 1] + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n_li, dtype=np.int32)
    price = rng.integers(100, 100_000, n_li, dtype=np.int64)
    out.add("lineitem", pa.table({
        "orderkey": li_order,
        "linenumber": linenumber,
        "partkey": rng.integers(1, n_part + 1, n_li, dtype=np.int64),
        "quantity": quantity,
        "price_cents": price,
        "discount_cents": (price * rng.integers(0, 11, n_li)) // 100,
        "returnflag": pa.array(np.array(RETURN_FLAGS)[rng.integers(0, 3, n_li)]),
    }))
    return out


def iterative(root: str, seed: int, scale: float) -> Inputs:
    """Store sales over 180 days in two regions plus a per-region list
    price table (the by-parameter broadcast view's source)."""
    rng = np.random.default_rng(seed)
    out = Inputs(root)
    n_items, n_sales = 400, int(20_000 * scale)
    out.add("sales", pa.table({
        "store": rng.integers(1, 41, n_sales, dtype=np.int32),
        "item": rng.integers(1, n_items + 1, n_sales, dtype=np.int32),
        "region": pa.array(np.array(SALES_REGIONS)[rng.integers(0, len(SALES_REGIONS), n_sales)]),
        "day": rng.integers(0, 180, n_sales, dtype=np.int32),
        "qty": rng.integers(0, 20, n_sales, dtype=np.int32),
        "amount_cents": rng.integers(100, 50_000, n_sales, dtype=np.int64),
    }))
    region = np.repeat(np.array(SALES_REGIONS), n_items)
    out.add("prices", pa.table({
        "region": pa.array(region),
        "item": np.tile(np.arange(1, n_items + 1, dtype=np.int32), len(SALES_REGIONS)),
        "list_cents": rng.integers(100, 10_000, len(region), dtype=np.int64),
    }))
    return out


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    s = ""
    i += 26 * 27  # at least three letters
    while i:
        i, r = divmod(i, 26)
        s += letters[r]
    return s


def corpus(root: str, seed: int, scale: float) -> Inputs:
    """Documents of 40-120 words over a 20k-word vocabulary, with planted
    near-duplicate clusters.  15 % of the source documents get 1-4
    variants each (the counts cycle, so the row count does not depend on
    the seed); each variant replaces 2 % of the source's words.  Any
    document may carry case, whitespace and typographic-quote noise that
    text normalisation removes.  ``Inputs.truth`` lists every planted cluster's doc ids."""
    rng = np.random.default_rng(seed)
    out = Inputs(root)
    vocab = [_word(i) for i in range(20_000)]
    n_src = int(2_000 * scale)
    planted = rng.choice(n_src, n_src * 15 // 100, replace=False)
    n_variants = {int(d): 1 + i % 4 for i, d in enumerate(sorted(planted.tolist()))}
    docs: list[list[str]] = []
    clusters: list[list[int]] = []
    for d in range(n_src):
        words = [vocab[w] for w in rng.integers(0, len(vocab), rng.integers(40, 121))]
        docs.append(words)
        if d in n_variants:
            members = [len(docs) - 1]
            for _ in range(n_variants[d]):
                v = list(words)
                for pos in rng.choice(len(v), max(1, len(v) // 50), replace=False):
                    v[pos] = vocab[int(rng.integers(0, len(vocab)))]
                docs.append(v)
                members.append(len(docs) - 1)
            clusters.append(members)
    ids = rng.permutation(len(docs)).astype(np.int64) + 1
    texts = []
    for words in docs:
        t = " ".join(words)
        r = rng.random()
        if r < 0.3:
            t = t.upper()
        elif r < 0.5:
            t = t.replace(" ", "  ", 3).replace(" ", "\u00a0", 2) + " “quoted”"
        texts.append(t)
    order = np.argsort(ids)
    out.add("docs", pa.table({
        "doc_id": ids[order],
        "text": pa.array([texts[i] for i in order.tolist()]),
    }))
    out.truth = sorted(sorted(int(ids[m]) for m in c) for c in clusters)
    return out


GENERATORS = {"nightly_jobflow": nightly, "iterative_rounds": iterative, "corpus_dedup": corpus}
