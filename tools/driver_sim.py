"""Simulate the driver's verify: smoke entry() at sf0.001, then run every
queries() entry at sf0.01 against its oracle_sql() twin in DuckDB with a
row-count + schema + order-insensitive value compare.

Usage: python tools/driver_sim.py [sf_dir] [--vanilla] [--extras] [--only=name1,name2]

``--vanilla`` runs on a bare session in the America/Los_Angeles timezone
(the driver's worst case for timestamp rendering); ``--extras`` adds the
pytest-only EXTRA_QUERIES with their EXTRA_ORACLES to the gated registry.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from datapipeline_omnichanneltobigquery_spark.plans.queries import EXTRA_ORACLES, EXTRA_QUERIES
from datapipeline_omnichanneltobigquery_spark.session import get_spark
from datapipeline_omnichanneltobigquery_spark.sources.tables import TABLES
from tests.helpers import canon_rows, fetch_duckdb


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only: set[str] | None = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    # no console progress bar: its carriage-return [Stage ...] updates land
    # on the result rows' lines, and filtering them out drops the rows
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.ui.showConsoleProgress=false {submit}"
    if "--vanilla" in sys.argv:
        # a bare session like the driver's: no engine configs, ambient tz
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("driver_sim_vanilla")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    else:
        spark = get_spark(app_name="driver_sim")

    print("== t1 smoke: entry(spark) @ sf0.001 ==")
    t0 = time.time()
    df = entrymod.entry(spark)
    rows = df.collect()
    print(f"entry -> {len(rows)} rows, schema={df.columns}, {time.time()-t0:.1f}s")
    assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if "--extras" in sys.argv:
        queries = {**queries, **EXTRA_QUERIES}
        oracles = {**oracles, **EXTRA_ORACLES}
    if only is not None:
        missing = only - set(queries)
        if missing:
            print(f"--only names not in registry: {sorted(missing)}")
            return 1
        queries = {k: v for k, v in queries.items() if k in only}
    print(f"\n== t2 correctness: {len(queries)} queries @ {sf_dir} "
          f"({len(oracles)} with oracle) ==")
    n_fail = 0
    for name in sorted(queries):
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name not in oracles:
                print(f"  {name:34s} rows-only: {len(srows):>7} rows   {time.time()-t0:5.1f}s")
                continue
            # Arrow fetch, like the driver: type-strict (HUGEINT -> decimal,
            # not Python int), so an uncast integer SUM can't pass locally.
            dcols, drows = fetch_duckdb(con, oracles[name])
            status = []
            if sorted(scols) != sorted(dcols):
                status.append(f"SCHEMA {sorted(scols)} vs {sorted(dcols)}")
            if len(srows) != len(drows):
                status.append(f"COUNT {len(srows)} vs {len(drows)}")
            if not status:
                _, sr = canon_rows(scols, srows)
                _, dr = canon_rows(dcols, drows)
                bad = [(a, b) for a, b in zip(sr, dr) if a != b]
                if bad:
                    status.append(f"VALUES {len(bad)} mismatched rows, first: {bad[0]}")
            if status:
                n_fail += 1
                print(f"  {name:34s} FAIL: {'; '.join(status)}")
            else:
                print(f"  {name:34s} OK: {len(srows):>7} rows match   {time.time()-t0:5.1f}s")
        except Exception:
            n_fail += 1
            print(f"  {name:34s} ERROR:")
            traceback.print_exc()
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
