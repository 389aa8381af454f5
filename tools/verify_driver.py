"""Driver-contract verification (the /verify recipe, scripted).

Replays what the round driver does, from a fresh process and a neutral
cwd: import __spark_entry__, run t1 smoke, then hash-compare a sample
of oracle-backed queries against DuckDB at sf0.01 exactly like the t2
gate (columns sorted by name, rows sorted by all columns).

Usage:  python tools/verify_driver.py [query ...]
        (no args → entry smoke + 3 rotating spot-checks)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"

from etl_project_spark.catalog import TABLES  # noqa: E402
from tools.compare_frames import canon, frames_match  # noqa: E402


def main() -> int:
    os.chdir("/tmp")  # prove no cwd-relative assumptions in the package
    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession

    # Opt into pandas' future fillna behavior (no silent downcasting):
    # silences the FutureWarning the object-dtype fillna below would
    # emit on every NULL-bearing comparison, and pins the semantics so
    # a pandas upgrade can't change them under us (round-5 advice).
    try:
        pd.set_option("future.no_silent_downcasting", True)
    except Exception:
        pass  # option removed once the behavior becomes default

    import __spark_entry__ as mod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    n = mod.entry(spark).count()
    assert n > 0, "t1 smoke: entry() returned no rows"
    print(f"entry rows: {n}")
    qs, osql = mod.queries(), mod.oracle_sql()
    print(f"{len(qs)} queries, {len(osql)} oracle-backed")

    names = sys.argv[1:] or sorted(osql)[:: max(1, len(osql) // 3)][:3]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    failed = []
    for name in names:
        if name not in osql:
            # rows-only query: the driver's weaker check — executes,
            # stable schema, row count reported
            df = qs[name](spark, SF)
            cnt = df.count()
            print(f"{name:45s} rows={cnt} (rows-only, no oracle)")
            continue
        sp = canon(qs[name](spark, SF).toPandas())
        oc = canon(con.execute(osql[name]).fetchdf())
        ok = frames_match(sp, oc)
        print(f"{name:45s} shape={sp.shape} match={bool(ok)}")
        if not ok:
            failed.append(name)
    if failed:
        print("FAILED:", failed)
        return 1
    print("driver contract OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
