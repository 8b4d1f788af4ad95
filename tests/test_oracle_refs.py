"""The oracle reference twins (warcsum_spark/oracle_refs.py) vs the live
engine. These references feed the driver-gate oracles for
minhash_lsh_docs and simhash_docs, so each one is pinned here against
the INDEPENDENT implementation it must agree with:

- pure-Python xxh64 vs Spark's JVM ``F.xxhash64`` (seed 42) across byte
  lengths that exercise every tail branch of the algorithm;
- ref_simhash_doc vs the full Spark simhash pipeline (JVM tokenize+hash,
  Arrow bit-vote kernel) on adversarial whitespace/unicode/null shapes;
- ref_minhash_doc vs the adversarial per-row reference of
  tests/test_minhash_kernel.py (itself pinned to the fused Arrow kernel).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from test_minhash_kernel import CASES, ref_row
from warcsum_spark.operators.dedup import simhash
from warcsum_spark.oracle_refs import (
    materialize_simhash_oracle,
    ref_minhash_doc,
    ref_simhash_doc,
    xxh64,
)

XXH_TOKENS = [
    "",  # n=0: seed+P5 path, no tail
    "a", "ab", "abc",  # 1–3 byte tail
    "abcd",  # exact 4-byte branch
    "abcde", "abcdefg",  # 4-byte + byte tail
    "abcdefgh",  # exact 8-byte word
    "abcdefghi", "0123456789abc",  # word + tails
    "x" * 31,  # just below the 32-byte stripe loop
    "x" * 32,  # exactly one stripe, empty finale
    "y" * 33, "z" * 100,  # stripes + every tail branch
    "café", "ДОКУМЕНТ", "emoji😀tail",  # multi-byte UTF-8
    "\x00bin\x01",  # NULs inside the payload
]

SIMHASH_TEXTS = [
    "the quick brown fox",
    "",  # trim→""→split→[""], one empty-token vote
    " ",  # ASCII-space trim only
    "  padded  ",
    "\ta\tb",  # leading tab survives trim → leading "" token
    "a\n b \n",  # trailing java-\s → trailing "" token
    "MiXeD CaSe",
    "unicode éè café",
    None,  # null text → null simhash
    "x " * 200,  # duplicate tokens vote per occurrence
    "trail space ",
    " lead",
    "a\x0b b",  # vertical tab is java \s
    "thirty-two-byte-plus-long-token-exercises-stripes here",
]


def test_xxh64_matches_spark(spark):
    df = spark.createDataFrame([(t,) for t in XXH_TOKENS], ["t"]).select(
        "t", F.xxhash64("t").alias("h")
    )
    jvm = {r["t"]: r["h"] for r in df.collect()}
    for t in XXH_TOKENS:
        u = xxh64(t.encode("utf-8"))
        assert u - (1 << 64) * (u >> 63) == jvm[t], repr(t)


def test_ref_simhash_matches_engine(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(SIMHASH_TEXTS)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    for i, t in enumerate(SIMHASH_TEXTS):
        assert ref_simhash_doc(t) == got[i], repr(t)


@pytest.mark.parametrize("case_idx", range(len(CASES)))
def test_ref_minhash_matches_row_reference(case_idx):
    text = CASES[case_idx]
    a = ref_row(text, 64, 3, 16)
    b = ref_minhash_doc(text, num_hashes=64, k=3, bands=16)
    if a is None:
        assert b is None
        return
    assert list(a[0]) == list(b[0])
    assert list(a[1]) == list(b[1])


def test_simhash_materializer_caches(sf_dir, tmp_path, monkeypatch):
    import warcsum_spark.oracle_refs as orefs

    monkeypatch.setattr(orefs, "CACHE_DIR", str(tmp_path))
    p1 = materialize_simhash_oracle(sf_dir)
    m1 = (p1, __import__("os").stat(p1).st_mtime_ns)
    p2 = materialize_simhash_oracle(sf_dir)
    assert p2 == m1[0]
    assert __import__("os").stat(p2).st_mtime_ns == m1[1]  # cache hit, no rewrite


def test_oracle_text_ignores_source_mtimes(sf_dir, tmp_path, monkeypatch):
    """Reference caches are keyed on the source parquet's bytes, so a
    copy of the tables whose files are only touched yields the same
    oracle text (which embeds the cache paths)."""
    import __spark_entry__ as entry_mod
    import warcsum_spark.oracle_refs as orefs

    monkeypatch.setattr(orefs, "CACHE_DIR", str(tmp_path / "cache"))
    copy = tmp_path / os.path.basename(os.path.normpath(sf_dir))
    copy.mkdir()
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), copy / name)
    before = entry_mod.oracle_sql_for(str(copy))
    for name in os.listdir(copy):
        os.utime(copy / name, (1_000_000_000, 1_000_000_000))
    assert entry_mod.oracle_sql_for(str(copy)) == before
