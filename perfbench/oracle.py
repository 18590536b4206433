"""DuckDB oracle hashes for the ``ops_mix`` queries.

The hash follows ``tests/test_oracle.py::driver_hash``: columns sorted by name,
values normalised strictly (floats keep their repr, so an integer
column that drifts to float changes the hash), rows sorted, then md5.
Both sides are fetched through pandas.
"""

from __future__ import annotations

import hashlib
import math

TABLES = ("documents",)


def _norm(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "None"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "None" if math.isnan(f) else repr(f)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        if pd.isna(v):
            return "None"
        w = v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v
        return pd.Timestamp(w).isoformat(timespec="microseconds")
    return str(v)


def driver_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5()
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def oracle_hashes(sf_dir: str, sqls: dict[str, str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {name: driver_hash(con.execute(sql).df()) for name, sql in sqls.items()}
    finally:
        con.close()
