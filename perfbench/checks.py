"""Output checks: reference kernels, DuckDB oracles and manifest invariants.

Every function returns a list of error strings; an empty list passes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

_GRAINS = ("base", "mult1", "mult2")
#: ratio features whose variance algorithm amplifies last-digit noise; the
#: engine's own tests compare them at this looser bar on finite values
_Z_LIKE = {f"{c}_{g}" for c in ("rsi_zscore_20", "laguerre_slope")
           for g in _GRAINS}
#: rolling standard deviations: the reference's pandas streaming variance
#: carries absolute error up to ~n * eps * max(x)^2 over an n-step series
#: (see tests/test_expander.py), so its std is off by up to about
#: sqrt(n * eps) for RSI values in [0, 1]: 1.3e-6 at n = 8192
_STD_LIKE = {f"rsi_volatility_20_{g}" for g in _GRAINS}


def compare_features(doc_id: str, got: pd.DataFrame,
                     want: pd.DataFrame) -> list[str]:
    """Long-form rows of one doc (in offset order) against the reference
    ``multi_interval_features`` frame, at the engine tests' tolerances."""
    if len(got) != len(want):
        return [f"{doc_id}: {len(got)} rows, reference has {len(want)}"]
    errors = []
    for col in want.columns:
        g = got[col].to_numpy(dtype=np.float64)
        w = want[col].to_numpy(dtype=np.float64)
        if col in _Z_LIKE:
            fin = np.isfinite(w)
            ok = np.allclose(g[fin], w[fin], rtol=1e-5, atol=1e-5)
        elif col in _STD_LIKE:
            atol = np.sqrt(len(w) * np.finfo(np.float64).eps)
            ok = np.allclose(g, w, rtol=1e-9, atol=atol, equal_nan=True)
        else:
            ok = np.allclose(g, w, rtol=1e-9, atol=1e-10, equal_nan=True)
        if not ok:
            errors.append(f"{doc_id}: column {col} differs from reference")
    return errors


def parquet_files(root: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs if f.endswith(".parquet"))


def parquet_rows(root: str) -> int:
    """Row count from the parquet footers under ``root``."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(root))


def manifest_errors(m: pd.DataFrame, n_buckets: int, tokens: int,
                    parquet_rows: int) -> list[str]:
    """Σ manifest ``n_rows`` = Σ n_tok = rows on disk, and every bucket
    committed exactly once."""
    errors = []
    if int(m["n_rows"].sum()) != tokens:
        errors.append(f"manifest n_rows {int(m['n_rows'].sum())} != "
                      f"sum(n_tok) {tokens}")
    if parquet_rows != tokens:
        errors.append(f"parquet rows {parquet_rows} != sum(n_tok) {tokens}")
    counts = m["bucket"].value_counts()
    if sorted(counts.index) != list(range(n_buckets)) or (counts != 1).any():
        errors.append(f"buckets not committed exactly once: "
                      f"{counts.sort_index().to_dict()}")
    return errors


def _row_hashes(pdf: pd.DataFrame) -> np.ndarray:
    """Sorted per-row hashes after the normalisation of
    ``tools/check_correctness.value_hash``: columns by name, -0.0 as 0.0,
    one NaN, integers as nullable Int64, everything else as text."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
            pdf[c] = s.where(~(s == 0.0), 0.0).where(s.notna(), np.nan)
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("Int64")
        else:
            pdf[c] = s.astype(str)
    return np.sort(pd.util.hash_pandas_object(pdf, index=False).to_numpy())


def oracle_errors(sf_dir: str, results: dict[str, pd.DataFrame],
                  oracles: dict[str, str], skew: int = 0) -> list[str]:
    """Each catalog query's Spark result against its DuckDB twin on the
    same parquet tables: equal row count, column names and
    order-insensitive values.  ``skew`` is added to the oracle's row count
    (a deliberately wrong expectation, for testing the check itself)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("events", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        errors = []
        for name, got in results.items():
            want = con.execute(oracles[name]).fetchdf()
            if len(got) != len(want) + skew:
                errors.append(f"{name}: {len(got)} rows, oracle "
                              f"{len(want) + skew}")
            elif sorted(got.columns) != sorted(want.columns):
                errors.append(f"{name}: columns {sorted(got.columns)} != "
                              f"{sorted(want.columns)}")
            elif not np.array_equal(_row_hashes(got), _row_hashes(want)):
                errors.append(f"{name}: values differ from the oracle")
        return errors
    finally:
        con.close()
