"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, column names, and exact sorted values (stricter than the
driver's value hash). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from warcsum_spark.session import get_spark  # noqa: E402

TABLES = entry_mod.TABLES  # re-exported for perfbench/queries.py


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cores=16, shuffle_partitions=16, app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry_mod.queries()
    # sf-aware: the IVF oracle bakes a quantizer trained on the target data
    sqls = entry_mod.oracle_sql_for(sf_dir)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_rows = df.collect()
            spark_cols = df.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in sqls:
            print(f"ok(rows-only) {name}: {len(spark_rows)} rows")
            if len(spark_rows) == 0:
                print(f"  WARN {name}: 0 rows (weak check)")
            continue
        try:
            rel = con.sql(sqls[name])
            duck_cols = list(rel.columns)
            duck_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = []
        if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
            problems.append(f"schema: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount: spark={len(spark_rows)} duck={len(duck_rows)}")
        if not problems:
            a = canon([list(r) for r in spark_rows], [c.lower() for c in spark_cols])
            b = canon([list(r) for r in duck_rows], [c.lower() for c in duck_cols])
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            failures += 1
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            print(f"OK   {name}: {len(spark_rows)} rows match")
    print("FAILURES:", failures)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
