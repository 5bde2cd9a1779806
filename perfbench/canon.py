"""Order-insensitive canonical digest of a result, and the DuckDB oracles.

The canonical form is the one the repository's parity gate uses
(``tests/parity.py``): sorted column names, every cell rendered as a
string (floats to 12 significant digits, integral floats keep ``.0``,
NaN and None as ``NULL``), rows sorted. Two results with the same digest
hold the same multiset of rows. The benchmark computes the oracle digest
once per input from the registry's DuckDB SQL and compares it with the
digest of the parquet each step wrote.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        s = f"{f:.12g}"
        if "." not in s and "e" not in s and "n" not in s:
            s += ".0"
        return s
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if pd.isna(v):
        return "NULL"
    return str(v)


def digest(pdf: pd.DataFrame) -> dict:
    """``{"rows", "cols", "hash"}`` of a frame, independent of row order."""
    cols = sorted(pdf.columns)
    for c in cols:  # timezone-aware timestamps compare as naive UTC
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert("UTC").dt.tz_localize(None)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return {"rows": len(rows), "cols": cols, "hash": h.hexdigest()}


def parquet_digest(path: str, drop: tuple[str, ...] = ()) -> dict:
    """Digest of the parquet file or directory a step wrote."""
    pdf = pq.read_table(path).to_pandas()
    return digest(pdf.drop(columns=[c for c in drop if c in pdf.columns]))


def oracle_digests(data_dir: str, sql_by_name: dict[str, str]) -> dict[str, dict]:
    """Run each oracle SQL on DuckDB over the tables in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        return {n: digest(con.execute(sql).fetchdf()) for n, sql in sql_by_name.items()}
    finally:
        con.close()
