"""Snapshot every queries() entry's exact output rows (floats as
bit-exact hex) so optimization-round changes can be proven
result-identical: run once at round start, once after each change, and
diff the JSON.

    python tools/snapshot_outputs.py <sf_dir> <out.json> [query ...]
    python tools/snapshot_outputs.py --diff a.json b.json
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401,E402  (pandas_udf type hints)


def _norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float.hex(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def canon_rows(df) -> list[str]:
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = df.collect()
    header = ",".join(sorted(cols))
    return [header] + sorted(
        "|".join(_norm(r[i]) for i in order) for r in rows
    )


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"ONLY-IN-{'B' if name not in a else 'A'}: {name}")
            bad += 1
        elif a[name] != b[name]:
            print(f"DIFF: {name}")
            va, vb = a[name], b[name]
            if isinstance(va, list) and isinstance(vb, list):
                sa, sb = set(va), set(vb)
                for x in list(sa - sb)[:3]:
                    print(f"  only-A: {x[:250]}")
                for x in list(sb - sa)[:3]:
                    print(f"  only-B: {x[:250]}")
            bad += 1
    print(f"SNAPSHOT_DIFFS: {bad}")
    return bad


def main():
    if sys.argv[1] == "--diff":
        sys.exit(min(diff(sys.argv[2], sys.argv[3]), 1))
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    import __spark_entry__ as em
    from warcsum_spark.session import get_spark

    spark = get_spark(app_name="snapshot")
    out = {}
    if os.path.exists(out_path) and only:
        with open(out_path) as f:
            out = json.load(f)
    for name, fn in em.queries().items():
        if only and name not in only:
            continue
        try:
            out[name] = canon_rows(fn(spark, sf_dir))
        except Exception as e:  # snapshot the failure itself
            out[name] = f"ERROR {type(e).__name__}: {str(e)[:300]}"
        print(f"{name}: {len(out[name])}", flush=True)
    with open(out_path, "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    main()
