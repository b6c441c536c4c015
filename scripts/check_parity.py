"""Standalone driver-gate rehearsal: run every registered query on Spark
and its DuckDB oracle at an arbitrary scale factor (default the driver's
sf0.01) and report row-count / schema / order-insensitive value parity.

Usage: python scripts/check_parity.py [SF_DIR] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry  # noqa: E402
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.parity import (  # noqa: E402
    create_views,
    normalize,
)
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry.load_all()
    only = set(sys.argv[2:]) or set(registry.ORACLES)

    spark = get_spark("parity_check")
    duck = duckdb.connect()
    create_views(duck, sf_dir)

    failures = []
    for name in sorted(only):
        if name not in registry.ORACLES:
            # every registered query has an oracle, so a name without
            # one is a typo or an unregistered query: never a pass
            failures.append(name)
            known = "registered" if name in registry.QUERIES else "unregistered"
            print(f"{name}: FAIL ({known}, no oracle)")
            continue
        t0 = time.time()
        try:
            s_pd = registry.QUERIES[name](spark, sf_dir).toPandas()
            d_pd = duck.execute(registry.ORACLES[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: ERROR {exc}")
            continue
        s_cols, s_rows = normalize(s_pd)
        d_cols, d_rows = normalize(d_pd)
        dt = time.time() - t0
        if s_cols != d_cols:
            failures.append(name)
            print(f"{name}: SCHEMA MISMATCH {s_cols} vs {d_cols}  [{dt:.1f}s]")
        elif len(s_rows) != len(d_rows):
            failures.append(name)
            print(f"{name}: ROWS {len(s_rows)} vs {len(d_rows)}  [{dt:.1f}s]")
        elif s_rows != d_rows:
            failures.append(name)
            bad = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            print(f"{name}: VALUE MISMATCH e.g. {bad}  [{dt:.1f}s]")
        else:
            print(f"{name}: ok ({len(s_rows)} rows)  [{dt:.1f}s]")

    print(f"\n{len(only) - len(failures)}/{len(only)} pass at {sf_dir}")
    if failures:
        print("FAILED:", failures)
        sys.exit(1)


if __name__ == "__main__":
    main()
