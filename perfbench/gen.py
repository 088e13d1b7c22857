"""Seeded input generator for the benchmark workloads.

Writes GoSales-shaped source tables in the driver fixture schemas
(FIXTURES.md Part B: lineitem+orders -> go_daily_sales, part ->
go_products, supplier+nation+region -> go_retailers, o_orderpriority ->
go_methods), dated lineitem increments, and document batches with planted
duplicates. Everything is a pure function of (seed, scale); nothing is
read from outside the output root. The GoSales scale is a TPC-H scale
factor: at 0.1 the row counts and the lineitem rate per ship day match the
sf0.1 driver fixtures (1,000 suppliers, 20,000 parts, 150,000 orders,
about 240 lineitem rows per day).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO", "ECONOMY"]
PCOLORS = ["small", "red", "blue", "green", "large", "shiny", "dull", "old"]
PNOUNS = ["ring", "widget", "bolt", "gear", "cog", "pin", "cap", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = dt.datetime(1995, 1, 1)

# Row counts at TPC-H sf1; every count scales linearly (dims floor at a
# handful of rows so the star joins stay non-trivial).
BASE_ROWS = {"supplier": 10_000, "part": 200_000, "orders": 1_500_000, "customer": 150_000}
LINES_PER_DAY = 2_400


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file (creating parents); returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


class GoSales:
    """The GoSales source model: static masters plus a lineitem stream
    ordered by ship day. ``lineitem_days(d0, d1)`` is deterministic per
    day, so a day's rows are the same whichever batch lands them."""

    def __init__(self, seed: int, scale: float):
        self.seed = seed
        self.n_supp = max(8, int(BASE_ROWS["supplier"] * scale))
        self.n_part = max(16, int(BASE_ROWS["part"] * scale))
        self.n_orders = max(64, int(BASE_ROWS["orders"] * scale))
        self.n_cust = max(16, int(BASE_ROWS["customer"] * scale))
        self.lines_per_day = max(4, int(LINES_PER_DAY * scale))
        rng = np.random.default_rng([seed, 0])
        self.region = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        })
        self.nation = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        })
        n = self.n_supp
        self.supplier = pa.table({
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(rng.uniform(0, 10000, n), 2),
        })
        n = self.n_part
        self.part = pa.table({
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{PCOLORS[a]} {PNOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": [PTYPES[i] for i in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n) * 0.1, 2),
        })
        n = self.n_orders
        self.orders = pa.table({
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, self.n_cust, n), pa.int64()),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
            "o_orderdate": _ts(rng.integers(0, 2405, n)),
            "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, n)],
        })

    def masters(self) -> dict[str, pa.Table]:
        return {
            "region": self.region, "nation": self.nation,
            "supplier": self.supplier, "part": self.part,
            "orders": self.orders,
        }

    def lineitem_days(self, d0: int, d1: int, null_share: float = 0.0) -> pa.Table:
        """Lineitem rows shipped on days [d0, d1) (d1 > d0), day by day.
        About ``null_share`` of them carry a NULL ship date instead (the
        raw contract's quarantine case)."""
        return pa.concat_tables([self._day(d, null_share) for d in range(d0, d1)])

    def _day(self, day: int, null_share: float) -> pa.Table:
        rng = np.random.default_rng([self.seed, 1, day])
        n = self.lines_per_day
        ship = pa.array(
            np.datetime64(EPOCH, "us") + np.full(n, day).astype("timedelta64[D]"),
            type=pa.timestamp("us"),
        )
        if null_share > 0:
            mask = rng.random(n) < null_share
            ship = pa.array(
                [None if m else v for m, v in zip(mask, ship.to_pylist())],
                type=pa.timestamp("us"),
            )
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, self.n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, self.n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, self.n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": ship,
        })

    def write_masters(self, sf_dir: str) -> int:
        """Masters as ``<table>.parquet`` directories (one part file each)
        so lineitem can grow by adding files beside them."""
        return sum(
            write(t, f"{sf_dir}/{name}.parquet/part-0.parquet")
            for name, t in self.masters().items()
        )


# ----------------------------------------------------------------- documents

def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


class Corpus:
    """Document batches with planted duplicates.

    Per batch: fresh random documents (Zipf-drawn words from a large
    vocabulary, so unrelated documents share no 3-gram band), exact copies
    of an earlier fresh document (same batch or a previous one), near
    copies (a few words substituted), short documents (< 3 tokens: no
    signature, always accepted) and low-quality documents (one word
    repeated, or digits only) that the quality gates remove. Doc ids
    increase across batches, so every copy has a higher id than its
    original."""

    def __init__(self, seed: int, batch_docs: int):
        self.rng = np.random.default_rng([seed, 2])
        self.vocab = _vocab(self.rng, 5000)
        w = 1.0 / np.arange(1, len(self.vocab) + 1) ** 1.05
        self.p = w / w.sum()
        self.batch_docs = batch_docs
        self.next_id = 0
        self.originals: list[tuple[int, str]] = []
        self.planted_exact: set[int] = set()

    def _fresh(self) -> str:
        k = int(self.rng.integers(25, 90))
        return " ".join(self.vocab[i] for i in self.rng.choice(len(self.vocab), k, p=self.p))

    def _near(self, text: str) -> str:
        toks = text.split(" ")
        for _ in range(max(1, len(toks) // 40)):
            toks[int(self.rng.integers(0, len(toks)))] = self.vocab[
                int(self.rng.integers(0, len(self.vocab)))
            ]
        return " ".join(toks)

    def batch(self) -> pa.Table:
        ids, texts = [], []
        batch_originals: list[tuple[int, str]] = []
        for _ in range(self.batch_docs):
            doc_id = self.next_id
            self.next_id += 1
            r = self.rng.random()
            pool = self.originals + batch_originals
            if r < 0.08 and pool:
                text = pool[int(self.rng.integers(0, len(pool)))][1]
                self.planted_exact.add(doc_id)
            elif r < 0.16 and pool:
                text = self._near(pool[int(self.rng.integers(0, len(pool)))][1])
            elif r < 0.20:
                text = " ".join(
                    self.vocab[int(i)] for i in self.rng.integers(0, 400, int(self.rng.integers(1, 3)))
                )
            elif r < 0.23:
                word = self.vocab[int(self.rng.integers(0, 50))]
                text = " ".join([word] * int(self.rng.integers(20, 60)))
            elif r < 0.25:
                text = " ".join(str(int(x)) for x in self.rng.integers(0, 10**6, 30))
            else:
                text = self._fresh()
                batch_originals.append((doc_id, text))
            ids.append(doc_id)
            texts.append(text)
        self.originals.extend(batch_originals)
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * len(ids),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })

