from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tidb_cdc_spark_tests")
    yield s
    # central unpersist path for query-internal persists (webgraph
    # host frames, dedup signature frames, ... — r13 ADVICE): the
    # session owns the cached blocks, so the session fixture drops
    # them, mirroring bench.py's per-query clearCache.
    s.catalog.clearCache()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.parity import create_views

    con = duckdb.connect()
    create_views(con, SF_SMOKE)
    yield con
    con.close()
