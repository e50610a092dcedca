"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its ``oracle_sql()``
twin on DuckDB, then compares row count, sorted column names, and an
order-insensitive multiset of stringified values (doubles via repr →
bit-exactness visible). Each entry's Spark side runs and is collected
inside ``session.owned``; anything it leaves cached after the block is a
``residue`` failure. Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import datetime
    import math
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return repr(v)


def df_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_cell(r[i]) for i in order) for r in rows)


def compare(scols, srows, dcols, drows) -> list[str]:
    """The gate's Spark-vs-DuckDB compare; returns the problems found
    (empty when the two results match)."""
    problems = []
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if not problems:
        sm, dm = df_multiset(scols, srows), df_multiset(dcols, drows)
        if sm != dm:
            diff_s = list((sm - dm).items())[:3]
            diff_d = list((dm - sm).items())[:3]
            problems.append(f"values spark-only={diff_s} duck-only={diff_d}")
    return problems


def residue(spark, before) -> list[str]:
    """What a run left cached after its ``owned`` block (``before`` is
    the state the block yielded at entry): persistent RDDs created
    during the block that are still persisted, and CacheManager entries
    above the count at entry. Empty when the block released everything."""
    ids, n_cached = before
    problems = []
    left = sorted(set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
                  - ids)
    if left:
        problems.append(f"residue: persistent RDDs {left}")
    n = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    if n > n_cached:
        problems.append(f"residue: {n - n_cached} CacheManager entries")
    return problems


def main():
    import __spark_entry__ as E
    from osm2geojson_spark.session import get_spark, owned

    only = set(sys.argv[1:])
    # ORACLE_CORES / ORACLE_SHUFFLE prove parallelism-invariance: results
    # must match DuckDB at ANY partitioning (decimal sums, pinned orders)
    cores = int(os.environ.get("ORACLE_CORES", "8"))
    shuffle = int(os.environ.get("ORACLE_SHUFFLE", str(cores)))
    spark = get_spark("oracle-check", master=f"local[{cores}]",
                      shuffle_partitions=shuffle)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            with owned(spark) as before:
                sdf = fn(spark, SF)
                srows = [tuple(r) for r in sdf.collect()]
                scols = sdf.columns
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name}: spark error {ex}")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name}: duckdb error {ex}")
            continue
        problems = compare(scols, srows, dcols, drows) + residue(spark, before)
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: {len(srows)} rows match")
    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
