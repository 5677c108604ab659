"""DuckDB oracle answers, cached on disk.

The answer to a query's oracle SQL depends only on the input files and
the SQL text, so it is cached under a key made of both.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd


def input_fingerprint(data_dir: str) -> str:
    """md5 over the names and bytes of every parquet file in ``data_dir``."""
    h = hashlib.md5()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode() + b"\0")
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(hashlib.md5(f.read()).digest())
    return h.hexdigest()


class OracleCache:
    """Oracle answers for one input directory, cached in ``cache_dir``."""

    def __init__(self, data_dir: str, cache_dir: str) -> None:
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.fingerprint = input_fingerprint(data_dir)

    def _path(self, sql: str) -> str:
        key = hashlib.md5(f"{self.fingerprint}\0{sql}".encode()).hexdigest()
        return os.path.join(self.cache_dir, f"{key}.pkl")

    def answer(self, sql: str) -> pd.DataFrame:
        path = self._path(sql)
        if os.path.exists(path):
            # Only this benchmark writes these files (below).
            return pd.read_pickle(path)
        from tools.check import duck_con

        con = duck_con(self.data_dir)
        try:
            df = con.execute(sql).df()
        finally:
            con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

