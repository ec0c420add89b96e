"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf_dir, runs the
matching oracle_sql() in DuckDB with the parquet views pre-registered, and
compares row count + order-insensitive values (columns sorted by name).

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import duckdb

# the repo root, for this process and for the Python workers Spark starts,
# so the tool runs from any directory
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [REPO, os.environ.get("PYTHONPATH")]))

import __spark_entry__ as E  # noqa: E402
from osm_jigsaw_spark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    import decimal
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = E.queries()
    oracles = E.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        a = rows_to_multiset(cols, srows)
        b = rows_to_multiset(ocols, orows)
        schema_ok = sorted(c.lower() for c in cols) == sorted(
            c.lower() for c in ocols)
        if a == b and schema_ok:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: spark={len(srows)} oracle={len(orows)} "
                  f"schema_ok={schema_ok} cols={cols} vs {ocols}")
            only_a = [k for k in a if k not in b][:3]
            only_b = [k for k in b if k not in a][:3]
            print(f"  spark-only: {only_a}")
            print(f"  oracle-only: {only_b}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
