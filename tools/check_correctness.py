"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, and the order-insensitive multiset of stringified rows.

Usage: python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def row_key(row, cols):
    return "\x1f".join(canon(row[c]) for c in cols)


def main():
    from __spark_entry__ import oracle_sql, queries
    from table2qb_spark.session import get_spark

    spark = get_spark(app_name="check-correctness", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = queries()
    oracles = oracle_sql()
    args = sys.argv[1:]
    if args and args[0] == "--all-missing":
        # Run exactly the queries() entries WITHOUT a green row in the
        # latest CORRECTNESS_r*.json — the round-N gate gap in one command
        # (round-5 verdict #9). Usage: python tools/check_correctness.py
        # --all-missing [path/to/CORRECTNESS_rNN.json]
        import glob
        import json as _json

        if len(args) > 1:
            corr_path = args[1]
        else:
            repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            candidates = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
            if not candidates:
                print("no CORRECTNESS_r*.json found")
                sys.exit(2)
            corr_path = candidates[-1]
        with open(corr_path) as f:
            recorded = _json.load(f)
        # only a green row covers a query: every match flag true, no error
        seen = {
            n for n, r in recorded.items()
            if r.get("rows_match") and r.get("schema_match")
            and r.get("hash_match") and r.get("err") is None
        }
        only = {n for n in qs if n not in seen}
        print(f"# {len(only)} queries without a green row in {os.path.basename(corr_path)}: "
              f"{sorted(only)}")
        if not only:
            print("all queries match")
            return
    else:
        only = set(args)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sorted(sdf.columns)
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = sorted(rel.columns)
            odata = rel.fetchall()
            orows = [dict(zip(rel.columns, r)) for r in odata]
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            continue
        problems = []
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            problems.append(f"schema {scols} vs {ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            cols = scols
            smulti = sorted(row_key({k.lower(): v for k, v in r.items()}, [c.lower() for c in cols]) for r in srows)
            omulti = sorted(row_key({k.lower(): v for k, v in r.items()}, [c.lower() for c in cols]) for r in orows)
            if smulti != omulti:
                diff_s = [x for x in smulti if x not in set(omulti)][:3]
                diff_o = [x for x in omulti if x not in set(smulti)][:3]
                problems.append(f"values differ; spark-only={diff_s} oracle-only={diff_o}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok   {name}: {len(srows)} rows match ({time.time()-t0:.1f}s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
