"""Tables for the catalog_graph_store workload.

Same schemas as the TPC-H-style tables the catalog's queries and DuckDB
oracles are written against (orders, lineitem, documents), with sf0.1's
shapes: ~10 orders per customer, 1-7 lines per order (4 on average),
600 lines per supplier, documents of 10-100 words drawn uniformly from a
30-word vocabulary, 5% of them near-duplicates of an earlier document.
Row counts are half of sf0.1's: 75,000 orders, ~300,000 lines, 2,500
documents. perfbench/README.md gives the measurements behind that choice.
The tables are the same in every run (SEED); the run's seed permutes the
sweep order, so runs on different seeds do the same work.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
ROWS = {"customers": 7500, "suppliers": 500, "parts": 10000, "orders": 75000,
        "documents": 2500}
WORDS = np.array(("a the key agg row scan slow fast table value part hash merge batch "
                  "spark line sort window order data column join small customer query "
                  "big stream group filter vector").split())
LANGS = np.array(("en", "en", "en", "de", "es", "fr", "zh"))


def _write(out: Path, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, out / f"{name}.parquet")
    return table.num_rows


def _documents(rnd: np.random.Generator, n: int) -> list:
    lengths = rnd.integers(10, 101, n)
    words = WORDS[rnd.integers(0, len(WORDS), int(lengths.sum()))]
    docs = np.split(words, np.cumsum(lengths)[:-1])
    texts = []
    for d, w in enumerate(docs):
        if d > 10 and rnd.random() < 0.05:
            w = texts[rnd.integers(d)].split()
            w[rnd.integers(len(w))] = str(rnd.choice(WORDS))
            w.append("dup")
        elif rnd.random() < 0.001:
            w = list(w)
            at = int(rnd.integers(len(w)))
            w[at:at] = ["slow", "hash", "batch"]
        texts.append(" ".join(w))
    return texts


def generate(out: Path, seed: int) -> dict:
    """Write orders/lineitem/documents parquet into `out`; return row counts."""
    rnd = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n = ROWS
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    day = np.timedelta64(86_400_000_000, "us")

    orders = n["orders"]
    o_date = day0 + rnd.integers(0, 2000, orders) * day
    lines = rnd.integers(1, 8, orders)
    l_order = np.repeat(np.arange(orders), lines)
    starts = np.cumsum(lines) - lines
    l_line = np.arange(len(l_order)) - np.repeat(starts, lines) + 1
    nl = len(l_order)
    qty = rnd.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * rnd.uniform(900.0, 2000.0, nl), 2)
    totals = np.round(np.bincount(l_order, weights=price, minlength=orders), 2)

    texts = _documents(rnd, n["documents"])
    ndoc = len(texts)
    return {
        "orders": _write(out, "orders", {
            "o_orderkey": pa.array(np.arange(orders), pa.int64()),
            "o_custkey": pa.array(rnd.integers(0, n["customers"], orders), pa.int64()),
            "o_orderstatus": pa.array(np.array(list("FOP"))[rnd.integers(0, 3, orders)]),
            "o_totalprice": pa.array(totals),
            "o_orderdate": pa.array(o_date),
            "o_orderpriority": pa.array(np.char.add(
                rnd.integers(1, 6, orders).astype(str), "-PRIO"))}),
        "lineitem": _write(out, "lineitem", {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rnd.integers(0, n["parts"], nl), pa.int64()),
            "l_suppkey": pa.array(rnd.integers(0, n["suppliers"], nl), pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rnd.integers(0, 11, nl) / 100),
            "l_tax": pa.array(rnd.integers(0, 9, nl) / 100),
            "l_returnflag": pa.array(np.array(list("ANR"))[rnd.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(list("FO"))[rnd.integers(0, 2, nl)]),
            "l_shipdate": pa.array(np.repeat(o_date, lines)
                                   + rnd.integers(1, 121, nl) * day)}),
        "documents": _write(out, "documents", {
            "doc_id": pa.array(np.arange(ndoc), pa.int64()),
            "text": texts,
            "lang": pa.array(LANGS[rnd.integers(0, len(LANGS), ndoc)]),
            "source": [f"src{d % 20}" for d in range(ndoc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
    }
