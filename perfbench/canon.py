"""Order-insensitive result hashing, with the canonical-value rules of
``tools/drive_driver.py``: a query's output matches its oracle when the
row count, the sorted column names and the hash of the sorted canonical
rows all agree.

Run as a script it computes the DuckDB oracle side for a fixture
directory, so the oracles run in their own process while Spark starts:

    python3 perfbench/canon.py FIXTURE_DIR OUT.json QUERY [QUERY ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys


def canon(pdf) -> dict:
    import datetime
    import decimal
    import math

    import numpy as np
    import pandas as pd

    def cv(v):
        if v is None or v is pd.NaT:
            return "N"
        if isinstance(v, float):
            return "N" if math.isnan(v) else repr(float(v))
        if isinstance(v, np.floating):
            return cv(float(v))
        if isinstance(v, (bool, np.bool_)):
            return "T" if v else "F"
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, decimal.Decimal):
            return repr(float(v))
        if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(cv(x) for x in v) + "]"
        return str(v)

    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(cv(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return {"hash": hashlib.sha256(repr(rows).encode()).hexdigest()[:16],
            "rows": len(pdf), "cols": cols}


def oracle_hashes(sf_dir: str, names, threads: int = 1) -> dict:
    """DuckDB side: canonical hash of each named query's oracle SQL;
    names without an oracle map to None (rows-only check)."""
    import duckdb

    from frinesis_spark.catalog import TABLES
    from frinesis_spark.registry import oracle_sql

    sqls = oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        out[name] = canon(con.execute(sqls[name]).fetchdf()) \
            if name in sqls else None
    con.close()
    return out


if __name__ == "__main__":
    sf_dir, out_path, *query_names = sys.argv[1:]
    result = oracle_hashes(sf_dir, query_names)
    # Written whole, then renamed: the Spark process waits for the name.
    with open(out_path + ".tmp", "w") as fh:
        json.dump(result, fh)
    os.replace(out_path + ".tmp", out_path)
