"""The one oracle-parity normaliser: how a Spark result and its DuckDB
oracle are compared, shared by tests/test_oracle_parity.py,
scripts/check_parity.py and scripts/verify_driver_contract.py.

Cell rules: NULL (and pandas' NaN stand-in for a numeric NULL) -> None;
floats and decimals -> 6-decimal strings; everything else -> str. Rows
compare order-insensitively over the sorted column names.
"""

from __future__ import annotations

import math
from decimal import Decimal

# the ten testdata tables every oracle may read
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def create_views(con, sf_dir: str) -> None:
    """Expose each table of ``sf_dir`` as a view on the DuckDB
    connection ``con``."""
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None  # pandas represents SQL NULL as NaN
    if isinstance(v, (float, Decimal)):
        return f"{v:.6f}"
    return str(v)


def normalize(df_pandas) -> tuple[list[str], list[tuple]]:
    """(sorted column names, rows of normalized cells sorted with
    None before any string)."""
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(norm_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=lambda r: tuple((v is not None, v) for v in r))
