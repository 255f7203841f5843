"""Local replica of the driver's correctness gate.

For every entry in __spark_entry__.queries() that has an oracle_sql()
counterpart, run the Spark query and the DuckDB oracle at the same
scale factor and compare row count, column set, and a value hash over
the column-name-sorted, row-sorted result (the driver's protocol).
Queries without an oracle get a rows-only check (runs, >= 0 rows).
Every query that runs also prints a ``hash <name> <rows> <value hash>``
line, so two checkouts' result rows can be compared with
``diff <(grep ^hash a.log) <(grep ^hash b.log)``.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
Default sf_dir is /root/testdata/sf0.01; no query names = all.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()
    ).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from frechetrange_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        el = time.perf_counter() - t0
        print(f"hash {name} {len(sdf)} {_canon(sdf)}")
        if name not in oracles:
            print(f"ok   {name}: rows-only {len(sdf)} rows ({el:.1f}s)")
            continue
        odf = con.execute(oracles[name]).df()
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} != {sorted(odf.columns)}")
        elif _canon(sdf) != _canon(odf):
            problems.append("value hash mismatch")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows oracle-match ({el:.1f}s)")
    spark.stop()
    print("FAILURES:", n_fail)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
