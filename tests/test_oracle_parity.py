"""Every registered query vs its DuckDB oracle (the driver's t2 check,
run locally at sf0.001 for speed; set SPARK_GRAFT_TEST_SF_DIR=/root/
testdata/sf0.01 to replicate the driver exactly)."""

import pytest

from tests.parity import assert_frames_match


def _registry():
    from frinesis_spark import registry

    return registry.queries(), registry.oracle_sql()


QUERIES, ORACLE = _registry()

# Each query is built and materialized once per run: test_query_runs
# keeps its rows here and test_oracle_parity (which runs after it)
# compares them, instead of running all 141 queries twice. Run alone,
# test_oracle_parity materializes the query itself.
_ROWS: dict = {}


def _materialize(spark, sf_dir, name):
    return QUERIES[name](spark, sf_dir).toPandas()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    pdf = _materialize(spark, sf_dir, name)
    assert len(pdf) >= 0
    if name in ORACLE:
        _ROWS[(sf_dir, name)] = pdf


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(spark, duck, sf_dir, name):
    spark_pdf = _ROWS.pop((sf_dir, name), None)
    if spark_pdf is None:
        spark_pdf = _materialize(spark, sf_dir, name)
    duck_pdf = duck.execute(ORACLE[name]).fetchdf()
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_approx_distinct_within_error_bound(spark, duck, sf_dir):
    """The raw HLL++ estimates (which the registered query reduces to
    a ≤4σ boolean the driver's oracle CAN verify, r8) must sit within
    the sharper observed relative tolerance of DuckDB's exact
    COUNT(DISTINCT). Catches a broken sketch (off-by-10x, wrong
    column) that the registered 4σ gate would still pass."""
    from frinesis_spark.operators.relational import approx_distinct_estimates

    est = {
        r["l_returnflag"]: r
        for r in approx_distinct_estimates(spark, sf_dir).collect()
    }
    exact = duck.execute(
        """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS parts,
               COUNT(DISTINCT l_orderkey) AS orders
        FROM lineitem GROUP BY l_returnflag
        """
    ).fetchall()
    assert len(exact) == len(est)
    for flag, parts, orders in exact:
        for got, want in [
            (est[flag]["approx_parts"], parts),
            (est[flag]["approx_orders"], orders),
        ]:
            # rsd=0.01 → ~1% standard error; 5 sigma + small-count slack
            assert abs(got - want) <= max(0.05 * want, 10), (
                f"{flag}: estimate {got} vs exact {want}"
            )
