"""Correctness gate: compares what a timed operation wrote against a
reference, outside the timed region.

Catalog query outputs are compared with the query's oracle SQL
(`SparkEntry.oracleSql`) run by DuckDB over the same input directory. Model
outputs are compared with a full-refresh rebuild over the final inputs.
Both sides are compared as multisets of rows: columns sorted by name, rows
sorted by every column, values equal exactly (NULL equals NULL).
"""
import glob

import duckdb
import pandas as pd

from gen import TABLES


def connect(tables_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    if tables_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def read_dir(con, path):
    """Every parquet file under `path`; `key=value` directories (a
    partitioned table) become columns."""
    if not glob.glob(f"{path}/**/*.parquet", recursive=True):
        raise FileNotFoundError(f"no parquet output under {path}")
    return con.execute(f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                       "hive_partitioning = true)").fetchdf()


def compare(expected, got):
    """None when the two frames hold the same rows, else a reason."""
    e = expected[sorted(expected.columns)]
    g = got[sorted(got.columns)]
    if list(e.columns) != list(g.columns):
        return f"columns {list(e.columns)} != {list(g.columns)}"
    if len(e) != len(g):
        return f"rows {len(e)} != {len(g)}"
    if len(e) == 0:
        return None
    e = e.sort_values(by=list(e.columns), ignore_index=True)
    g = g.sort_values(by=list(g.columns), ignore_index=True)
    for c in e.columns:
        ec, gc = e[c].astype(object), g[c].astype(object)
        en, gn = pd.isna(e[c]), pd.isna(g[c])
        try:
            eq = (ec.where(~en, None) == gc.where(~gn, None)) | (en & gn)
            eq = eq.astype(bool)
        except Exception:  # arrays/lists compare element-wise
            eq = pd.Series([repr(a) == repr(b) for a, b in zip(ec, gc)])
        if not eq.all():
            i = int((~eq).to_numpy().argmax())
            return f"column {c} row {i}: expected {ec[i]!r}, got {gc[i]!r}"
    return None


class Oracle:
    """DuckDB oracle over one input directory, one result per query."""

    def __init__(self, tables_dir, sql_by_query):
        self.con = connect(tables_dir)
        self.sql = sql_by_query
        self.cache = {}

    def check(self, query, out_dir):
        if query not in self.sql:
            return f"no oracle SQL for {query}"
        try:
            if query not in self.cache:
                self.cache[query] = self.con.execute(self.sql[query]).fetchdf()
            return compare(self.cache[query], read_dir(self.con, out_dir))
        except Exception as e:  # a broken output is a failed operation
            return f"{type(e).__name__}: {e}"


def check_pair(got_dir, expected_dir, con=None):
    con = con or connect()
    try:
        return compare(read_dir(con, expected_dir), read_dir(con, got_dir))
    except Exception as e:
        return f"{type(e).__name__}: {e}"
