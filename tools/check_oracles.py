"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() in DuckDB over the same sf dir;
compare row count, sorted column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]

Each ``only_query`` is an exact query name or an fnmatch pattern, e.g.
``'*neardup*' '*dedup*'`` runs that family.
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from menelaus_spark import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir  # data-derived oracles (kmeans centroids)
    only = set(sys.argv[2:])
    spark = get_spark(cores=8, shuffle_partitions=8, app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(name, p) for p in only):
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in sqls:
            print(f"rows  {name}: {len(srows)} rows (rows-only check)")
            continue
        try:
            res = con.execute(sqls[name])
            dcols = sorted(d[0] for d in res.description)
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        ok = True
        if len(srows) != len(drows):
            print(f"FAIL  {name}: row count {len(srows)} vs {len(drows)}")
            ok = False
        if scols != dcols:
            print(f"FAIL  {name}: columns {scols} vs {dcols}")
            ok = False
        if ok:
            sset = sorted(tuple(norm(r[c]) for c in scols) for r in srows)
            dmap = {d[0]: i for i, d in enumerate(res.description)}
            dset = sorted(tuple(norm(r[dmap[c]]) for c in dcols) for r in drows)
            if sset != dset:
                diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                print(f"FAIL  {name}: value mismatch, e.g. {diff}")
                ok = False
        if ok:
            print(f"OK    {name}: {len(srows)} rows")
        else:
            failures += 1
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
