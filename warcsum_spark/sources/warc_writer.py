"""WARC sink — persist fetched pages as standard ``.warc.gz`` archives,
one gzip member per response record (the layout warcsum.c:822–842 walks
and every web-archive tool expects). The reference suite only READS
archives; a crawler also has to WRITE them, and writing them in the
same member-per-record framing means this engine's own scanner (and the
reference tools) can re-ingest its output — the round-trip is pinned in
tests/test_warc_writer.py byte-for-byte through the oracle manifest.

This module owns the sink format for every archive this engine writes
(WARC here, WET here, WAT in operators/wat.py, dedup/revisit in
sources/revisit_writer.py); each sink is one ``record`` function handed
to the shared runner:

- ``warc_date`` is the one WARC-Date column expression.
- ``warc_record`` is the one record framer: WARC/1.0 header block
  (Type/Target-URI/Date/extra lines/Content-Type/Payload-Digest/
  Content-Length), the record block, ``\\r\\n\\r\\n`` member separator —
  exactly like the canonical fixtures. The payload digest is taken over
  the payload, the length over the block (they differ for response
  records, whose block is HTTP headers + payload, and for revisits,
  whose block is the HTTP headers alone).
- ``write_partition_archives`` is the one ``mapInPandas`` runner: one
  output archive per non-empty input partition — the member chain
  inside a file is inherently sequential, so a partition is the natural
  write unit (mirror of the scan side, where a file is the natural read
  unit). Each record is its own gzip member (compresslevel/mtime fixed
  → byte-deterministic for a given partitioning); the sink-bytes pins
  live in tests/test_sink_bytes.py. The returned DataFrame is the write
  manifest (path, n_records, bytes) — an action on it IS the write
  (same contract as any Spark sink).

At 100 TB: archives land at partition grain, so output file size is
controlled by the upstream ``repartition`` — the standard ~1 GB WARC
targets fall out of ordinary partition sizing, and the write needs no
shuffle of its own.
"""

from __future__ import annotations

import gzip
import os
from base64 import b32encode
from collections.abc import Callable, Iterator, Sequence
from hashlib import sha1

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WRITE_MANIFEST_SCHEMA = "path string, n_records long, bytes long"

HTTP_RESPONSE_TYPE = "application/http; msgtype=response"


def warc_date(date_col: str | None, default_date: str) -> Column:
    """WARC-Date of every sink: ``date_col`` rendered as a fixed-format
    UTC string (orders lexicographically == chronologically), else the
    literal ``default_date``."""
    if date_col:
        return F.date_format(F.col(date_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return F.lit(default_date)


def http_block(content_type: str) -> bytes:
    """The HTTP response headers a response (or revisit) record keeps
    in front of its payload."""
    return b"HTTP/1.1 200 OK\r\nContent-Type: " + content_type.encode() + b"\r\n\r\n"


def warc_record(
    warc_type: str,
    uri: str,
    date: str,
    content_type: str,
    block: bytes,
    payload: bytes,
    extra: Sequence[str] = (),
) -> bytes:
    """One WARC record, framed exactly like fixtures._warc_member (the
    layout the scanner and the pure-Python oracle both parse): the
    ``extra`` header lines go between WARC-Date and Content-Type, the
    sha1 digest names ``payload``, Content-Length counts ``block``."""
    b32 = b32encode(sha1(payload).digest()).decode().rstrip("=")
    head = "\r\n".join(
        [
            f"WARC-Type: {warc_type}",
            f"WARC-Target-URI: {uri}",
            f"WARC-Date: {date}",
            *extra,
            f"Content-Type: {content_type}",
            f"WARC-Payload-Digest: sha1:{b32}",
            f"Content-Length: {len(block)}",
        ]
    )
    return b"WARC/1.0\r\n" + head.encode() + b"\r\n\r\n" + block + b"\r\n\r\n"


def write_partition_archives(
    src: DataFrame,
    out_dir: str,
    prefix: str,
    suffix: str,
    record: Callable[..., bytes],
    counts: Sequence[str] = (),
) -> DataFrame:
    """Write ``{prefix}-{partition:05d}{suffix}`` per non-empty partition
    of ``src``: ``record(*row)`` frames each row (the columns of ``src``
    in order) whose ``_payload`` is not null, one gzip member per record,
    in row order. Returns the lazy manifest (path, n_records, bytes, then
    one long per name in ``counts``: the written rows whose boolean
    column of that name is true)."""
    cols = src.columns
    payload_at = cols.index("_payload")
    count_at = [cols.index(c) for c in counts]
    schema = WRITE_MANIFEST_SCHEMA + "".join(f", {c} long" for c in counts)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fh = None
        n = 0
        tally = [0] * len(counts)
        try:
            for pdf in batches:
                for *row, pid in zip(*(pdf[c] for c in cols), pdf["_pid"]):
                    if row[payload_at] is None:
                        continue
                    if fh is None:
                        os.makedirs(out_dir, exist_ok=True)
                        name = f"{prefix}-{int(pid):05d}{suffix}"
                        fh = open(os.path.join(out_dir, name), "wb")
                    fh.write(gzip.compress(record(*row), compresslevel=6, mtime=0))
                    n += 1
                    for k, i in enumerate(count_at):
                        tally[k] += bool(row[i])
        finally:
            if fh is not None:
                fh.close()
        if fh is None:
            return
        yield pd.DataFrame(
            {
                "path": [fh.name],
                "n_records": [n],
                "bytes": [os.path.getsize(fh.name)],
                **{c: [t] for c, t in zip(counts, tally)},
            }
        )

    return src.withColumn("_pid", F.spark_partition_id()).mapInPandas(
        run, schema=schema
    )


def write_wet_archives(
    docs: DataFrame,
    out_dir: str,
    prefix: str = "crawl",
    uri_col: str = "url",
    text_col: str = "text",
    date_col: str | None = None,
    default_date: str = "2015-01-01T00:00:00Z",
) -> DataFrame:
    """T42 — WET sink: extracted text as gzip-member-per-record
    ``.warc.wet.gz`` conversion archives (what Common Crawl ships next
    to every WARC; the input most text pipelines actually read). Same
    partition-grain write and lazy manifest contract as
    ``write_warc_archives``; this engine's own scanner re-ingests the
    output (conversion members parse like any WARC member). No HTTP
    block — the payload IS the converted text."""
    src = docs.select(
        F.col(uri_col).alias("_uri"),
        F.encode(F.col(text_col), "UTF-8").alias("_payload"),
        warc_date(date_col, default_date).alias("_date"),
    )
    return write_partition_archives(
        src,
        out_dir,
        prefix,
        ".warc.wet.gz",
        lambda uri, text, date: warc_record(
            "conversion", uri, date, "text/plain", text, text
        ),
    )


def write_warc_archives(
    pages: DataFrame,
    out_dir: str,
    prefix: str = "crawl",
    uri_col: str = "url",
    payload_col: str = "body",
    date_col: str | None = None,
    content_type: str = "text/html",
    default_date: str = "2015-01-01T00:00:00Z",
) -> DataFrame:
    """Write one ``{prefix}-{partition:05d}.warc.gz`` per non-empty input
    partition under ``out_dir``; returns the lazy write manifest
    (path, n_records, bytes) — run an action on it to execute the write.
    Rows with a null payload are skipped (a failed fetch has nothing to
    archive; gate upstream on ``status`` if stricter is needed)."""
    src = pages.select(
        F.col(uri_col).alias("_uri"),
        F.col(payload_col).alias("_payload"),
        warc_date(date_col, default_date).alias("_date"),
    )
    http = http_block(content_type)
    return write_partition_archives(
        src,
        out_dir,
        prefix,
        ".warc.gz",
        lambda uri, payload, date: warc_record(
            "response", uri, date, HTTP_RESPONSE_TYPE, http + payload, payload
        ),
    )
