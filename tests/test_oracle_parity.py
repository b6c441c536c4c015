"""Replicates the driver's correctness gate locally at sf0.001:
run each registered Spark query and its DuckDB oracle, compare
row-count + column names + order-insensitive values.
"""

from __future__ import annotations

import pytest

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.parity import normalize

registry.load_all()

ORACLE_QUERIES = sorted(registry.ORACLES)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(name, spark, duck):
    from tests.conftest import SF_SMOKE

    spark_df = registry.QUERIES[name](spark, SF_SMOKE).toPandas()
    duck_df = duck.execute(registry.ORACLES[name]).fetchdf()

    s_cols, s_rows = normalize(spark_df)
    d_cols, d_rows = normalize(duck_df)

    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches {mismatches[:5]}"


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    assert set(registry.ORACLES) <= set(registry.QUERIES)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_no_decimal_in_compared_output(name, spark):
    """Round-1 regression guard: 9 queries failed the driver's hash gate
    because scaled-DECIMAL outputs don't cross engines reliably (Spark
    rounds the decimal string HALF_UP, DuckDB rounds binary, and result
    serialization differs). Compared outputs must stick to
    long/double/string/bool/date/timestamp — money as raw doubles or
    integer cents (queries/_money.py)."""
    from pyspark.sql import types as T

    from tests.conftest import SF_SMOKE

    schema = registry.QUERIES[name](spark, SF_SMOKE).schema
    bad = [f.name for f in schema.fields if isinstance(f.dataType, T.DecimalType)]
    assert not bad, f"{name}: decimal-typed output columns {bad}"
