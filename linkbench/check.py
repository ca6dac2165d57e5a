"""Output checks for one benchmark sample.

Every output table is compared with the DuckDB oracle SQL that graft
declares for its query (`SparkEntry.oracleSql`), over the same generated
input tables, with the same canonical form the repository's oracle gate
uses: columns sorted by name, rows sorted, doubles compared at 10
significant digits. Each table is also hashed as its ordered rows (not its
file bytes), so two runs can be compared for identical content and order.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

INPUTS = ["customer", "documents", "embeddings"]


def read_spark(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def ordered_hash(df):
    """SHA-256 over the rows in stored order; values rendered with repr."""
    h = hashlib.sha256()
    h.update(json.dumps(list(df.columns)).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(repr(tuple(_plain(v) for v in row)).encode())
    return h.hexdigest()


def _plain(v):
    if hasattr(v, "tolist"):
        return v.tolist()
    return v


def canon(df):
    df = df[sorted(df.columns)]
    floats = [str(df[c].dtype).startswith("float") for c in df.columns]

    def cell(v, is_float):
        if is_float and isinstance(v, float):
            return f"f:{v:.10g}"
        return str(_plain(v))
    return sorted(tuple(cell(v, f) for v, f in zip(row, floats))
                  for row in df.itertuples(index=False, name=None))


class Oracle:
    """DuckDB over the generated input tables of one sample."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in INPUTS:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def compare(self, spark_df, sql):
        """Returns None when the Spark rows equal the oracle's, else why.
        Safe to call from several threads at once."""
        want = self.con.cursor().sql(sql).df()
        if sorted(c.lower() for c in spark_df.columns) != \
                sorted(c.lower() for c in want.columns):
            return (f"columns differ: {sorted(spark_df.columns)} vs "
                    f"{sorted(want.columns)}")
        a, b = canon(spark_df), canon(want)
        if a != b:
            return f"rows differ: {len(a)} spark vs {len(b)} oracle"
        return None
