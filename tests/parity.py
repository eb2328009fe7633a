"""Local mirror of the driver's oracle comparison: row count + column
names + order-insensitive canonical value multiset. Stricter than the
driver in one way — we compare canonical value strings exactly, so any
float that isn't bit-identical across engines shows up here first."""

from __future__ import annotations

import datetime
import decimal
import math

import numpy as np
import pandas as pd


def _canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return repr(v)
    if isinstance(v, (np.floating,)):
        return _canon_value(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(v[k])}" for k in sorted(v)) + "}"
    if v is pd.NaT:
        return "∅"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    # Column-wise itertuples, not a per-row ``iloc``: in an all-numeric
    # frame ``iloc[i]`` builds one float64 row, which turned every int
    # into a float and compared int64 values above 2**53 on 53 bits.
    cols = sorted(df.columns)
    return sorted(
        tuple(_canon_value(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def plan_text(df) -> str:
    """The physical plan string of a (not-yet-executed) DataFrame.

    Uses ``queryExecution().executedPlan()`` — under AQE this is the
    initial compiled plan inside the AdaptiveSparkPlan wrapper, i.e.
    what Catalyst produced from this code against this data layout,
    before any runtime re-plan. Planning runs; execution does not.

    Rendered with ``spark.sql.maxMetadataStringLength`` raised (and
    restored) so long metadata strings (DataFilters, Location, ...)
    are not cut short with ``...``.
    """
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    old = conf.get(key)
    conf.set(key, "10000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, old)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"duck={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    s_rows = canonical_rows(spark_pdf)
    d_rows = canonical_rows(duck_pdf)
    if s_rows != d_rows:
        diffs = [
            (i, s, d)
            for i, (s, d) in enumerate(zip(s_rows, d_rows))
            if s != d
        ][:5]
        raise AssertionError(
            f"{name}: value mismatch; first diffs (sorted-row idx, spark, duck):\n"
            + "\n".join(repr(d) for d in diffs)
        )
