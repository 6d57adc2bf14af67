"""Compare a query's Spark output with its DuckDB oracle.

The normalisation is the project's oracle-gate one (``tools/check_oracle.py``):
columns sorted by name, every cell rendered as a canonical string
(floats through ``repr(float)``), rows sorted. Oracle answers are cached
per checkout, keyed by the oracle SQL text, because several oracles
(brute-force pair joins) take far longer in DuckDB than the query does
in Spark.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            out[c] = col.map(lambda v: "NULL" if v is None else str(v))
        elif str(col.dtype).startswith(("float", "Float")):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif str(col.dtype).startswith("datetime"):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else v.isoformat())
        else:
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else str(v))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def mismatch(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when the two frames are equal after normalisation, else why not."""
    if len(spark_df) != len(oracle_df):
        return f"row count spark={len(spark_df)} oracle={len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    a, b = normalize(spark_df), normalize(oracle_df)
    if not a.equals(b):
        return "values differ in " + ",".join(c for c in a.columns if not a[c].equals(b[c]))
    return None


class Oracle:
    """DuckDB over one data directory, with answers cached in ``cache_dir``."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(f"{self.data_dir}\n{sql}".encode()).hexdigest()[:16]
        return os.path.join(self.cache_dir, f"{name}-{key}.pkl")

    def answer(self, name: str, sql: str) -> pd.DataFrame:
        path = self.path(name, sql)
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = self.con.execute(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        self.con.close()
