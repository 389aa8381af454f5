#!/usr/bin/env python
"""Hash-compare named queries against their DuckDB oracles at ANY sf dir
(verify_driver.py is pinned to the driver's sf0.01; LSH-family recall
claims need checking at every SF the corpus ships).

Usage: python tools/parity_sf.py <sf_dir> <query> [query ...]
       python tools/parity_sf.py <sf_dir> --all    # full registry
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_project_spark.catalog import TABLES  # noqa: E402
from tools.compare_frames import canon, frames_match  # noqa: E402


def main() -> int:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    import duckdb
    import pandas as pd

    try:
        pd.set_option("future.no_silent_downcasting", True)
    except Exception:
        pass

    from etl_project_spark.plans.registry import all_specs
    from etl_project_spark.session import get_spark, release_persists

    spark = get_spark("parity-sf", cpus=8, driver_memory="6g")
    specs = all_specs()
    if names == ["--all"]:
        names = sorted(specs)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    failed = []
    for name in names:
        spec = specs[name]
        if spec.oracle is None:
            cnt = spec.builder(spark, sf_dir).count()
            print(f"{name:45s} rows={cnt} (rows-only)")
            release_persists()
            continue
        sp = canon(spec.builder(spark, sf_dir).toPandas())
        release_persists()
        oc = canon(con.execute(spec.oracle).fetchdf())
        ok = frames_match(sp, oc)
        print(f"{name:45s} shape={sp.shape} match={bool(ok)}")
        if not ok:
            failed.append(name)
    print("FAILED:" if failed else "parity OK", failed or "")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
