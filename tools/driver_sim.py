"""Simulate the DRIVER's correctness gate mechanics over the first-50
queries() window (the driver checks exactly the first 50 dict entries).

tools/check_oracle.py compares row tuples directly; the driver instead
canonicalizes through PANDAS — toPandas / DuckDB .df(), then a
sort_values lexsort over every column — which has failure modes the
tuple compare cannot see (round 4: `inverted_index` returned an
array<bigint> column and the driver's pandas lexsort died with
`TypeError: unhashable type: 'list'` even though the values matched).
This tool replays that exact path so a canonicalizer-level regression is
caught BEFORE the driver runs:

    python tools/driver_sim.py [sf_dir] [--all]   # default /root/testdata/sf0.01

`--all` sweeps every queries() entry instead of the driver's first-50
window (insurance for entries 51+, which only the tuple-compare gate
otherwise sees). Prints one line per query and a final
`SIM_FAILURES: n [...]`; exit code equals the failure count. Round-5
baseline: 50/50 clean (121/121 with --all).
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as em  # noqa: E402
from warcsum_spark.session import get_spark  # noqa: E402


def canon(df: pd.DataFrame) -> list:
    cols = sorted(df.columns, key=str.lower)
    df = df[cols]
    # the driver's lexsort step — the exact call that exploded on nested
    # cells in round 4; keeping it is the point of this simulation
    df = df.sort_values(by=cols).reset_index(drop=True)
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("<null>")
            elif isinstance(v, float):
                vals.append(f"{v:.9g}")
            elif isinstance(v, (bytes, bytearray)):
                vals.append(bytes(v).hex())
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--all"]
    window = None if "--all" in sys.argv[1:] else 50
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    spark = get_spark(cores=16, shuffle_partitions=16)
    con = duckdb.connect()
    for t in em.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    qs = em.queries()
    osql = em.oracle_sql_for(sf)
    fails = []
    for name in list(qs)[:window]:
        try:
            cs = canon(qs[name](spark, sf).toPandas())
            cd = canon(con.sql(osql[name]).df())
            if cs == cd:
                print(f"ok {name}: {len(cs)} rows")
            else:
                fails.append(name)
                print(f"MISMATCH {name}: spark {len(cs)} vs duck {len(cd)}")
        except Exception as e:  # the canonicalizer-level failure class
            fails.append(name)
            print(f"ERROR {name}: {type(e).__name__}: {e}")
    print("SIM_FAILURES:", len(fails), fails)
    spark.stop()
    return len(fails)


if __name__ == "__main__":
    sys.exit(main())
