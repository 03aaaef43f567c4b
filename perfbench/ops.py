"""Seeded tables for the ops_headline workload and the DuckDB oracle check of
its query outputs.

The queries are Staging-heavy graph queries of `graft.SparkEntry`; each reads
only a few columns of the TPC-H-style tables, so only those columns are
written:

- orders(o_orderkey, o_custkey), lineitem(l_orderkey, l_partkey, l_suppkey):
  keys drawn uniformly from the seed, TPC-H key ranges for the scale;
- documents(doc_id): a run of consecutive ids starting at a seeded multiple
  of 40, so the doc-chain graph of q54 (built on `doc_id % 20 = 0` and
  `% 40 = 0`) has the same shape, and connected components the same round
  count, for every seed.

Each query's output is compared with its `SparkEntry.oracleSql` entry run by
DuckDB over the same parquet files, canonicalized the way
`tools/check_oracle.py` does it: columns sorted by name, rows sorted by all
columns, values compared exactly.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The Staging-heavy graph queries of the `graft.Bench` stdout headline.
QUERIES = ("q54_connected_components", "q69_pagerank", "q89_khop")
TABLES = ("orders", "lineitem", "documents")


def generate_tables(out_dir, seed, sf):
    """Writes the three tables at scale factor `sf` under out_dir and returns
    their total row count."""
    rng = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_customers, n_suppliers, n_parts = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    orderkey = np.arange(1, n_orders + 1, dtype=np.int64)
    lines = rng.integers(1, 8, size=n_orders)
    l_orderkey = np.repeat(orderkey, lines)
    n_lines = len(l_orderkey)
    first_doc = 40 * int(rng.integers(0, 1_000))
    tables = {
        "orders": {"o_orderkey": orderkey,
                   "o_custkey": rng.integers(1, n_customers + 1, size=n_orders, dtype=np.int64)},
        "lineitem": {"l_orderkey": l_orderkey,
                     "l_partkey": rng.integers(1, n_parts + 1, size=n_lines, dtype=np.int64),
                     "l_suppkey": rng.integers(1, n_suppliers + 1, size=n_lines, dtype=np.int64)},
        "documents": {"doc_id": np.arange(first_doc, first_doc + 500, dtype=np.int64)},
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
        rows += len(next(iter(cols.values())))
    return rows


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == np.float32:
            df[c] = df[c].astype(np.float64)
        if str(df[c].dtype) in ("int32", "Int32", "int16", "uint32"):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(table_dir, out_dir, oracle_sql):
    """Query name -> None when the Spark output under out_dir/<query>/ equals
    the oracle's, else why not."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    verdicts = {}
    for name, sql in oracle_sql.items():
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            verdicts[name] = "no Spark output"
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        want = canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(want.columns):
            verdicts[name] = f"columns {list(got.columns)} != oracle {list(want.columns)}"
        elif len(got) != len(want):
            verdicts[name] = f"{len(got)} rows != oracle {len(want)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
                verdicts[name] = None
            except AssertionError as e:
                verdicts[name] = f"values differ from the oracle: {str(e)[:300]}"
    con.close()
    return verdicts
