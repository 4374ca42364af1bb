"""Output checks. A failed check counts the operation as failed; nothing
is compared with a tolerance.

Batch results use the engine's oracle rule: same row count, same column
names and the same values once integer/float/timestamp widths are
normalized, order-insensitively and exactly. Rows are compared through an
order-insensitive fingerprint (row count, schema, and the wrapping sum of
per-row hashes), so repeat invocations compare without sorting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(df.columns):
        col = df[c]
        dt = col.dtype
        if pd.api.types.is_bool_dtype(dt):
            col = col.astype("bool")
        elif pd.api.types.is_integer_dtype(dt):
            col = col.astype("int64")
        elif pd.api.types.is_float_dtype(dt):
            col = col.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(dt):
            col = col.astype("datetime64[us]")
        else:  # strings, nested values: compare by their text form
            col = col.map(_plain, na_action="ignore").astype(object)
            col = col.where(pd.notna(col), None)
        out[c] = col.reset_index(drop=True)
    return pd.DataFrame(out)


def _plain(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return repr([_plain(x) for x in v])
    if isinstance(v, dict):
        return repr(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return repr(int(v))
    return v


def fingerprint(df: pd.DataFrame) -> tuple:
    """``(rows, ((column, dtype), ...), row-hash sum)`` of a normalized frame."""
    norm = normalize(df)
    schema = tuple((c, str(norm[c].dtype)) for c in norm.columns)
    if len(norm) == 0:
        return (0, schema, 0)
    row_hashes = pd.util.hash_pandas_object(norm, index=False).to_numpy(dtype=np.uint64)
    return (len(norm), schema, int(row_hashes.sum(dtype=np.uint64)))


def oracle_fingerprints(sf_dir: str, tables: tuple[str, ...], specs: dict) -> dict:
    """Fingerprint of each spec's DuckDB oracle over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {name: fingerprint(con.sql(spec.oracle).df()) for name, spec in specs.items()}
    finally:
        con.close()
