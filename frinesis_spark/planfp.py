"""Physical-plan text of a DataFrame, for plan-shape assertions."""

from __future__ import annotations


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
