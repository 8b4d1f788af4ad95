"""Byte pins for the four archive sinks (WARC, WET, WAT, dedup/revisit).
One fixed input — a null payload and a duplicated payload included — is
written by every sink at fixed partitioning, and each archive's
INFLATED stream is pinned by sha256 (independent of the zlib build that
compresses it). A framing change in any sink moves a hash here; the
round-trip tests only check that the output still parses."""

from __future__ import annotations

import gzip
import hashlib
import os

from pyspark.sql import functions as F

from warcsum_spark.operators.wat import write_wat_archives
from warcsum_spark.oracle import iter_gzip_members
from warcsum_spark.sources.revisit_writer import write_deduped_archives
from warcsum_spark.sources.warc_writer import (
    write_warc_archives,
    write_wet_archives,
)


def _pages(spark):
    rows = []
    for i in range(24):
        if i == 5:
            html = None  # failed fetch: no record in WARC/WET/dedup
        elif i % 6 == 1:
            html = "<html><title>dup</title><a href='/d'>d</a></html>"
        else:
            html = f"<html><title>p{i}</title><a href=\"/x/{i}\">x</a>{'z' * i}</html>"
        ts = f"2015-0{1 + i % 3}-0{1 + i % 7}T0{i % 10}:00:00"
        rows.append((f"http://h{i % 4}.test/p/{i}", html, ts))
    df = spark.createDataFrame(rows, "url string, html string, ts string")
    return (
        df.select(
            "url",
            "html",
            F.encode("html", "UTF-8").alias("body"),
            F.to_timestamp("ts").alias("ts"),
        )
        .repartition(3, "url")
        .sortWithinPartitions("url")
    )


def _inflated_sha256(manifest) -> dict[str, str]:
    out = {}
    for row in manifest:
        data = open(row["path"], "rb").read()
        assert len(list(iter_gzip_members(data))) == row["n_records"]
        assert row["bytes"] == len(data)
        out[os.path.basename(row["path"])] = hashlib.sha256(
            gzip.decompress(data)
        ).hexdigest()
    return out


WANT = {
    "warc": {
        "crawl-00000.warc.gz": "e4bfeb667441f81aefd660d00597525b6c78cd37aee5f7a977e7c6fd4695bc24",
        "crawl-00001.warc.gz": "1c0a81dccc687ee33b57e47e53edde5be75e4cae78f7dc4ca4ab46b94e797322",
        "crawl-00002.warc.gz": "b2db41df9d79c11f17350f5f059d6e9e952eb01e7a62fc36488651b6b3e59b1d",
    },
    "wet": {
        "crawl-00000.warc.wet.gz": "d88036380a4794fd2baa0ded0fc0381fb34cac5c4b71fb4af3a0764bdfe919c3",
        "crawl-00001.warc.wet.gz": "217884ece6664cc2ad34413b8e44890536ed869f0ce5c8d91e41b4bf73c4fa28",
        "crawl-00002.warc.wet.gz": "f4ef3f91fcf2712cb40099b5097b64d98bcba54b3444c8fec1bfbaeecb5e7235",
    },
    "wat": {
        "crawl-00000.warc.wat.gz": "06bc3d1b0b5efef3723c3760997ec86e80c7b2a818d251948fdb5d33505d0664",
        "crawl-00001.warc.wat.gz": "01f759e3a4f60aaa4679fc4c0dedd617a6acb2b7461498f51db60efac3997eb7",
        "crawl-00002.warc.wat.gz": "ed3f1a306cf4cb83c60db5a9d904a203c6463c664ba8cbc7d49d207b43edc730",
    },
    "dedup": {
        "dedup-00000.warc.gz": "49cc5396ac99d9c2180793a54240e6eb81e97fb6c48f2df1303ebbec1fe3738e",
    },
}


def test_sink_bytes_pinned(spark, tmp_path):
    pages = _pages(spark)
    warc = write_warc_archives(pages, str(tmp_path / "warc"), date_col="ts").collect()
    wet = write_wet_archives(pages, str(tmp_path / "wet"), text_col="html").collect()
    wat = write_wat_archives(pages, str(tmp_path / "wat"), date_col="ts").collect()
    dedup = write_deduped_archives(pages, str(tmp_path / "dedup")).collect()

    got = {
        "warc": _inflated_sha256(warc),
        "wet": _inflated_sha256(wet),
        "wat": _inflated_sha256(wat),
        "dedup": _inflated_sha256(dedup),
    }
    assert sum(r["n_records"] for r in warc) == 23
    assert sum(r["n_records"] for r in wet) == 23
    assert sum(r["n_records"] for r in wat) == 24
    assert sum(r["n_records"] for r in dedup) == 23
    assert sum(r["n_revisits"] for r in dedup) == 3
    assert got == WANT
