"""Check a collected result against the key's DuckDB oracle.

The oracle runs ``plans.oracle.ORACLE[key]`` on DuckDB over the same
parquet files (``tests/oracle_util.duckdb_run``) and compares at the
tolerance of ``tests/oracle_util.py``. Oracle results are kept on disk,
keyed on the SQL text and on each input file's path, size and mtime, so
that a later run pays only the compare.
"""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd

from quickbooks_aws_etl_pipeline_spark.io import TABLES, table_path
from quickbooks_aws_etl_pipeline_spark.plans import ORACLE
from tests.oracle_util import _ABS_TOL, _REL_TOL, _canon, duckdb_run


class OracleCache:
    """DuckDB oracle results for one sf directory, pickled under
    ``cache_dir``. Only this class writes those files."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            p = table_path(sf_dir, t)
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
        self._inputs = h.hexdigest()

    def _path(self, key: str) -> str:
        h = hashlib.sha256((self._inputs + ORACLE[key]).encode()).hexdigest()
        return os.path.join(self.cache_dir, f"{key}-{h[:16]}.pkl")

    def result(self, key: str) -> pd.DataFrame:
        path = self._path(key)
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = duckdb_run(ORACLE[key], self.sf_dir)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        want.to_pickle(tmp)
        os.replace(tmp, path)
        return want


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals the oracle result ``want`` up to row
    order and the float tolerance; else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            gv = pd.to_numeric(g[c], errors="coerce").to_numpy(dtype=float)
            wv = pd.to_numeric(w[c], errors="coerce").to_numpy(dtype=float)
            for i, (a, b) in enumerate(zip(gv, wv)):
                if math.isnan(a) != math.isnan(b) or not (
                        math.isnan(a) or math.isclose(
                            a, b, rel_tol=_REL_TOL, abs_tol=_ABS_TOL)):
                    return f"{c} row {i}: {a!r} != {b!r}"
        else:
            bad = g[c] != w[c]
            if bad.any():
                i = int(bad.idxmax())
                return f"{c} row {i}: {g[c][i]!r} != {w[c][i]!r}"
    return None
