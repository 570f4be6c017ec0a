"""Seeded input generator for the benchmark.

Every table the workloads read is drawn here from one integer seed, with
the shapes of the project's synthetic TPC-H-like test tables (see
FIXTURES.md): a star schema, plus `events` and the vocabulary-limited
`documents` corpus (planted exact and near duplicates) drawn by the
repository's own scale-fixture generator, `tools/gen_scale.py`. The same
seed gives byte-identical parquet files; each table has its own random
stream, so resizing one table leaves the others unchanged.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import gen_scale  # noqa: E402

# Table sizes: TPC-H-like rows at sf0.01, 1,000 events over the 1,500
# customers (so about half of them have none and `exists` filters), and a
# corpus sized so one ingest drain fits a run.
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem_per_order": (1, 7), "events": 1000, "documents": 1000,
}

VOCAB = gen_scale.VOCAB
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
PART_WORDS = ["large", "hot", "blue", "small", "red", "green", "ring", "bolt",
              "nut", "screw", "gear", "pipe"]


def _rng(seed, table):
    # one stream per table: resizing a table leaves the others unchanged
    return np.random.default_rng([seed, sum(map(ord, table))])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng, n, start="1995-01-01", span_days=2400):
    base = np.datetime64(start, "ms")
    return base + rng.integers(0, span_days, size=n).astype("timedelta64[D]")


def tpch(seed, out):
    """The star schema HTSQL navigates, plus `events` (for `exists`)."""
    n_c, n_s, n_p, n_o = (SIZES[k] for k in ("customer", "supplier", "part", "orders"))
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    r = _rng(seed, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_c),
        "c_mktsegment": r.choice(SEGMENTS, n_c)}), f"{out}/customer.parquet")
    r = _rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_s)}), f"{out}/supplier.parquet")
    r = _rng(seed, "part")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(PART_WORDS[:6], n_p),
                                              r.choice(PART_WORDS[6:], n_p))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_p)],
        "p_type": r.choice(PART_TYPES, n_p),
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    r = _rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_o),
        "o_orderdate": pa.array(_days(r, n_o), pa.timestamp("ms")),
        "o_orderpriority": r.choice(PRIORITIES, n_o)}), f"{out}/orders.parquet")
    r = _rng(seed, "lineitem")
    lo, hi = SIZES["lineitem_per_order"]
    per = r.integers(lo, hi + 1, n_o)
    okey = np.repeat(np.arange(n_o), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    n_l = len(okey)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_l),
        "l_discount": np.round(r.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_l),
        "l_linestatus": r.choice(["F", "O"], n_l),
        "l_shipdate": pa.array(_days(r, n_l), pa.timestamp("ms"))}),
        f"{out}/lineitem.parquet")
    _write(gen_scale.gen_events(SIZES["events"], _rng(seed, "events")),
           f"{out}/events.parquet")


def arrivals(seed, out, per_file):
    """The ingest stream: every document (id 4*doc_id) plus, for every
    tenth one, an NFC-equal clone (id 4*doc_id + 2) that arrives right
    after it. The source ends in a composed `é`, the clone in `e` plus a
    combining acute, so only in-stream canonicalization dedups the pair.
    Written as id-ordered files of `per_file` documents, `a00000.parquet`
    onward."""
    docs = gen_scale.gen_documents(SIZES["documents"], _rng(seed, "documents"))
    ids, texts = [], []
    for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        if d % 10 == 0:
            ids += [4 * d, 4 * d + 2]
            texts += [t + " caf\u00e9", t + " cafe\u0301"]
        else:
            ids.append(4 * d)
            texts.append(t)
    os.makedirs(out, exist_ok=True)
    n_files = 0
    for i in range(0, len(ids), per_file):
        _write(pa.table({"doc_id": pa.array(ids[i:i + per_file], pa.int64()),
                         "text": texts[i:i + per_file]}),
               f"{out}/a{n_files:05d}.parquet")
        n_files += 1
    return n_files
