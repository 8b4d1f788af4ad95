"""The driver contract, inside pytest: every SQL-expressible queries()
entry must match its oracle_sql() on DuckDB at sf0.001 — row count, column
names, and exact sorted values (a faster local twin of the driver's
sf0.01 gate; tools/check_oracle.py runs the full thing)."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_duckdb(spark, sf_dir, duck, name):
    from pyspark.sql import types as T

    df = entry_mod.queries()[name](spark, sf_dir)
    # Driver contract: the canonicalizer sorts rows via pandas, which
    # cannot hash list/dict cells — nested types in a driver-facing
    # result schema are a guaranteed red row (round-4 inverted_index).
    # Operators may return arrays; driver queries must stringify them.
    for f in df.schema.fields:
        assert not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.StructType)
        ), f"driver-facing query {name!r} column {f.name!r} is nested: {f.dataType}"
    spark_rows = [list(r) for r in df.collect()]
    # oracle_sql_for regenerates data-dependent oracles (IVF quantizer)
    # for THIS sf; the shipped oracle_sql() bakes the driver's sf0.01
    rel = duck.sql(entry_mod.oracle_sql_for(sf_dir)[name])
    duck_rows = [list(r) for r in rel.fetchall()]
    assert sorted(c.lower() for c in df.columns) == sorted(
        c.lower() for c in rel.columns
    )
    assert len(spark_rows) == len(duck_rows)
    assert _canon(spark_rows, df.columns) == _canon(duck_rows, list(rel.columns))


def test_every_query_has_an_oracle():
    """Since round 3, NO queries() entry is rows-only: minhash/simhash
    gained materialized-reference oracles (oracle_refs.py), so the driver
    gate can be 29/29 hash-green. A new rows-only query would silently
    weaken the gate — make that a conscious decision, not a drift."""
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "digest", "ext", "copy_no", "ref_doc_id"]


def test_catalogue_tables_are_driver_tables():
    tables = {table for *_, table in entry_mod.CATALOGUE if table is not None}
    assert tables <= set(entry_mod.TABLES)
