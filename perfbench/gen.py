"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas and value distributions of the
project's TPC-H-ish test data (see FIXTURES.md). The same seed and scale
give byte-identical files.

Usage: python3 gen.py <out_dir> <seed> <scale> [order_months]
(scale 0.1 gives 600,000 lineitem rows, like sf0.1; order_months, when
given, confines order dates to that many months from 1995-01 instead of
the 80 months 1995-01..2001-08, and also lays `orders` and `lineitem` out
as per-month raw partitions under <out_dir>/raw/<table>/part_m=YYYYMM/)
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data spark query table column row key value hash join agg "
         "group sort order filter scan merge window stream batch vector "
         "fast slow big small line part customer").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "green", "hot", "large", "red", "shiny", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def days(rng, start, end, n):
    """Midnight timestamps (µs) uniformly between two dates."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5% near-duplicates by construction: a copy of another document's
    # text with one extra token
    ndup = n // 20
    dups = rng.choice(n, ndup, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d in dups:
        texts[d] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.6, (labels, dim))
    v = rng.normal(0.0, 1.0, (n, dim)) + centroids[label]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label),
    }


def main(out, seed, scale, order_months=None):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * scale), int(10000 * scale)
    n_part, n_ord = int(200000 * scale), int(1500000 * scale)
    n_line, n_ev = int(6000000 * scale), int(1000000 * scale)
    n_users = max(150, int(15000 * scale))
    order_end = "2001-08-01"
    if order_months:
        end = np.datetime64("1995-01", "M") + order_months
        order_end = str((end.astype("datetime64[D]") - 1))

    write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                          "r_name": pa.array(REGIONS)})
    write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                          "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                          "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(days(rng, "1995-01-01", order_end, n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(days(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    # events: ns-precision timestamps (µs-exact values), sorted by event_id
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev)) * 1000
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[ns]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    write(out, "documents", documents(rng, max(500, int(50000 * scale))))
    write(out, "embeddings", embeddings(rng, max(500, int(20000 * scale))))
    if order_months:
        month_partitions(out)


def month_partitions(out):
    """Per-month raw partitions; a line item belongs to its order's month.
    Each file keeps the month as column `m`."""
    orders = pq.read_table(os.path.join(out, "orders.parquet"))
    lines = pq.read_table(os.path.join(out, "lineitem.parquet"))
    dates = orders["o_orderdate"].to_numpy().astype("datetime64[M]")
    years = dates.astype("datetime64[Y]").astype(int) + 1970
    month = (years * 100 + (dates.astype(int) % 12) + 1).astype(np.int32)
    orders = orders.append_column("m", pa.array(month))
    lines = lines.append_column("m", pa.array(month[lines["l_orderkey"].to_numpy()]))
    for name, t in (("orders", orders), ("lineitem", lines)):
        m = t["m"].to_numpy()
        for v in np.unique(m):
            d = os.path.join(out, "raw", name, f"part_m={v}")
            os.makedirs(d)
            pq.write_table(t.filter(pa.array(m == v)), os.path.join(d, "part-0.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]),
         int(sys.argv[4]) if len(sys.argv) > 4 else None)
