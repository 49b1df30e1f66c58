"""Output checks for the benchmark, run after the timed window.

Query results are compared with their DuckDB oracle SQL under the
canonicalization of tools/selfcheck.py: columns matched by name, rows
sorted, doubles rounded to 6 decimal places, timestamps at microseconds.
The graph workload's final totals are recomputed with DuckDB over the raw
partitions.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import TABLES, canon  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con


def oracle_result(con, sql):
    """(sorted columns, digest) of an oracle's result. Like selfcheck, an
    oracle whose final projection has HUGEINT or DECIMAL columns is an
    error: those hash differently from Spark's LONG and DOUBLE."""
    rel = con.sql(sql)
    wide = [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
            if t in ("HUGEINT", "UHUGEINT") or t.startswith("DECIMAL")]
    if wide:
        raise ValueError(f"oracle emits non-portable wide type(s) {wide}")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return sorted(cols), canon(cols, res.fetchall())


def result_digest(path):
    """(sorted columns, digest) of a query's parquet output."""
    tbl = pq.read_table(path)
    cols = tbl.column_names
    rows = list(zip(*[tbl.column(c).to_pylist() for c in cols])) if cols else []
    return sorted(cols), canon(cols, rows)


def check_queries(data_dir, results_dir, names, oracle_sql):
    """Per query: None when its output matches the oracle, else the reason."""
    con = connect(data_dir)
    problems = {}
    for name in names:
        try:
            got_cols, got = result_digest(os.path.join(results_dir, name))
        except Exception as e:  # the check op failed, or its output is unreadable
            problems[name] = f"result unreadable: {e}"
            continue
        if name not in oracle_sql:
            problems[name] = "no oracle and no rows" if got[1] == 0 else None
            continue
        try:
            want_cols, want = oracle_result(con, oracle_sql[name])
        except Exception as e:
            problems[name] = f"oracle error: {str(e)[:200]}"
            continue
        if got_cols != want_cols:
            problems[name] = f"columns {got_cols} != oracle {want_cols}"
        elif got != want:
            problems[name] = (f"digest {got[0][:12]} ({got[1]} rows) != oracle "
                              f"{want[0][:12]} ({want[1]} rows)")
        else:
            problems[name] = None
    return problems


GRAPH_TOTAL_SQL = """
SELECT (SELECT count(*) FROM l JOIN o ON l.l_orderkey = o.o_orderkey) AS n_lines,
       (SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT)))
          FROM l JOIN o ON l.l_orderkey = o.o_orderkey) AS revenue,
       (SELECT count(*) FROM o) AS n_orders,
       (SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT)) FROM o) AS price_cents
"""


def check_graph_total(raw_dir, total):
    """None when the graph's final `total` artifact equals DuckDB's totals
    over the raw month partitions as they stand after the last edit."""
    con = duckdb.connect()
    for view, table in (("o", "orders"), ("l", "lineitem")):
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(raw_dir, table)}/*/*.parquet')")
    row = con.execute(GRAPH_TOTAL_SQL).fetchone()
    want = dict(zip(["n_lines", "revenue", "n_orders", "price_cents"], (int(x) for x in row)))
    got = {k: int(total[k]) for k in want}
    return None if got == want else f"graph total {got} != duckdb {want}"
