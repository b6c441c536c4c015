"""The /verify skill's step-1 harness as a script: simulate the
driver's t1 smoke + t2 correctness gate through __spark_entry__ with a
bare SparkSession (exactly what the driver builds), at sf0.01.

Usage: python scripts/verify_driver_contract.py
Exit 0 iff every oracle-backed query matches.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.01"


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import __spark_entry__ as E

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.parity import (
        create_views,
        normalize,
    )

    assert len(E.entry(spark).collect()) > 0, "t1 smoke returned 0 rows"
    con = duckdb.connect()
    create_views(con, SF)
    qs, oracles = E.queries(), E.oracle_sql()
    bad = []
    for name in sorted(qs):
        sdf = qs[name](spark, SF).toPandas()
        if name not in oracles:
            print(name, "rows-only", len(sdf))
            continue
        ddf = con.execute(oracles[name]).fetchdf()
        ok = normalize(sdf) == normalize(ddf)
        if not ok:
            bad.append(name)
        print(name, "OK" if ok else "MISMATCH", len(sdf))
    print("TOTAL", len(qs), "MISMATCH", len(bad), bad)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
