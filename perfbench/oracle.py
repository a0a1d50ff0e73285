"""Output check for query_mix: each query's parquet output must equal DuckDB
running the query's oracle SQL over the same tables. Columns are compared
by name, rows as an unordered multiset, values as strings, except that
float columns may differ by a relative 1e-9 (summation order). These are
the rules of scripts/selfcheck.py, whose comparison is inline in its
file-driven main and so cannot be called per query.
"""
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def same(got, want):
    """None when the frames match, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    gd, wd = list(map(str, got.dtypes)), list(map(str, want.dtypes))
    if gd != wd:
        return f"dtypes {gd} != {wd}"
    if got.astype(str).equals(want.astype(str)):
        return None
    floats = [c for c in got.columns if str(got[c].dtype).startswith("float")]
    keys = [c for c in got.columns if c not in floats]
    if keys:  # the float strings took part in the row order; redo on keys
        got = got.sort_values(keys, ignore_index=True, key=lambda s: s.astype(str))
        want = want.sort_values(keys, ignore_index=True, key=lambda s: s.astype(str))
    for c in got.columns:
        if c in floats:
            if not np.allclose(got[c], want[c], rtol=1e-9, atol=1e-12,
                               equal_nan=True):
                return f"float column {c} differs"
        elif not got[c].astype(str).equals(want[c].astype(str)):
            return f"column {c} differs"
    return None


class Oracle:
    def __init__(self, data_dir, sql_by_name):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.sql = sql_by_name
        self.want = {}

    def check(self, name, out_dir):
        """None when `out_dir` holds the right answer, else the reason."""
        if name not in self.sql:
            return "no oracle SQL"
        try:
            if name not in self.want:
                self.want[name] = canon(self.con.execute(self.sql[name]).fetchdf())
            files = os.path.join(out_dir, "*.parquet")
            got = canon(self.con.execute(f"SELECT * FROM '{files}'").fetchdf())
            return same(got, self.want[name])
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            return f"{type(e).__name__}: {e}"
