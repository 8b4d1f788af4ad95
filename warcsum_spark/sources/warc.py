"""Raw ``.warc.gz`` member scan (S1–S3; reference: process_file
warcsum.c:881–1011, gzip member framing warcsum.c:822–842).

Physical strategy: ``binaryFile`` scan (one row per archive file; gzip
member chains can only be walked sequentially, so a file is the natural unit
of parallelism — same as the reference, which parallelizes across files via
warcsumsplit) → ``mapInArrow`` that walks each file's gzip members with
zlib (wbits=31), parses WARC+HTTP headers, and emits one row per member.
The file is read in place from the Arrow buffer (no pandas object column,
no ``bytes`` copy of the archive), and the output batches are built column
by column against ``_ARROW_SCHEMA``. Downstream filtering/digesting is
JVM-side.

The member walk is linear in the file size, like the reference's
``libgzmulti`` streaming inflater: each member's inflater is fed
``_CHUNK``-sized slices of a ``memoryview`` until the member ends, so no
copy of compressed bytes is larger than one chunk (slicing the unread rest
of the file per member would make the walk quadratic in the members per
archive).

Scale notes (100 TB): archives are ~1 GB each, so file-granularity gives
~100k tasks — ample parallelism for 1000 executors. Peak memory per task is
one Arrow batch of files (``spark.sql.execution.arrow.maxRecordsPerBatch``
/ ``maxBytesPerBatch`` bound it) + one inflated member + up to 1024 output
rows (the early flush). Production ingest lands this output in an Iceberg
``web_pages``-shaped table once and every later stage reads columnar — the
raw scan runs exactly once per archive.
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

SEP = b"\r\n\r\n"

MEMBER_SCHEMA = (
    "warcfile string, offset long, length long, is_warc boolean, "
    "warc_type string, content_type string, uri string, date string, "
    "stored_algo string, stored_digest_b32 string, payload binary"
)

# MEMBER_SCHEMA as the Arrow schema the workers emit. Built from pyarrow
# types: deriving it from the DDL string needs a SparkContext, which a
# Python worker does not have.
_ARROW_SCHEMA = pa.schema(
    [
        ("warcfile", pa.string()),
        ("offset", pa.int64()),
        ("length", pa.int64()),
        ("is_warc", pa.bool_()),
        ("warc_type", pa.string()),
        ("content_type", pa.string()),
        ("uri", pa.string()),
        ("date", pa.string()),
        ("stored_algo", pa.string()),
        ("stored_digest_b32", pa.string()),
        ("payload", pa.binary()),
    ]
)

# compressed bytes fed to a member's inflater per call; bounds each copy of
# compressed input the walk makes (zlib's ``unused_data``). 4 KiB–64 KiB
# all walk the perfbench archives equally fast.
_CHUNK = 1 << 16

# recognized WARC header keys (warcsum.h:67–73), matched case-insensitively
_K_TYPE = b"warc-type"
_K_URI = b"warc-target-uri"
_K_DATE = b"warc-date"
_K_CTYPE = b"content-type"
_K_DIGEST = b"warc-payload-digest"


def _split_members(data) -> Iterator[tuple[int, int, bytes]]:
    """(offset, compressed_length, inflated) per gzip member, in file order.

    ``data`` is any bytes-like object; it is read through a ``memoryview``
    and never copied whole. A corrupt or truncated member ends the walk and
    the members before it are kept."""
    view = memoryview(data)
    pos, n = 0, len(view)
    while pos < n:
        dec = zlib.decompressobj(wbits=31)
        parts = []
        fed = pos
        try:
            while not dec.eof and fed < n:
                parts.append(dec.decompress(view[fed : fed + _CHUNK]))
                fed = min(fed + _CHUNK, n)
        except zlib.error:
            return  # corrupt member: stop walking this file, keep the job alive
        if not dec.eof:
            return  # truncated trailing member: stop (reference stops at EOF)
        consumed = fed - pos - len(dec.unused_data)
        if consumed <= 0:
            return
        yield pos, consumed, b"".join(parts)
        pos += consumed


def _parse(inflated: bytes) -> tuple:
    """(is_warc, warc_type, content_type, uri, date, stored_algo,
    stored_b32, payload) — header grammar per warcsum.c:280–584."""
    nl = inflated.find(b"\r\n")
    if nl < 0 or not inflated[:nl].upper().startswith(b"WARC/"):
        return (False, None, None, None, None, None, None, b"")
    hdr_end = inflated.find(SEP)
    if hdr_end < 0:
        return (True, None, None, None, None, None, None, b"")
    wtype = ctype = uri = date = salgo = sb32 = None
    for line in inflated[nl + 2 : hdr_end].split(b"\r\n"):
        c = line.find(b":")
        if c < 0:
            continue
        k = line[:c].strip().lower()
        v = line[c + 1 :].strip()
        if k == _K_TYPE:
            wtype = v.decode("utf-8", "replace")
        elif k == _K_URI:
            uri = v.decode("utf-8", "replace")
        elif k == _K_DATE:
            date = v.decode("utf-8", "replace")
        elif k == _K_CTYPE:
            ctype = v.split(b";", 1)[0].strip().decode("utf-8", "replace")
        elif k == _K_DIGEST:
            c2 = v.find(b":")
            if c2 > 0:
                salgo = v[:c2].decode("utf-8", "replace").lower()
                sb32 = v[c2 + 1 :].decode("utf-8", "replace")
    http_end = inflated.find(SEP, hdr_end + 4)
    if http_end < 0:
        payload = b""
    else:
        payload = inflated[http_end + 4 :]
        if payload.endswith(SEP):  # trailing member separator (F2)
            payload = payload[:-4]
    return (True, wtype, ctype, uri, date, salgo, sb32, payload)


def _to_batch(rows: list[tuple]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(zip(*rows), _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )


def _scan_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for rb in batches:
        paths, contents = rb.column("path"), rb.column("content")
        rows: list[tuple] = []
        for i in range(rb.num_rows):
            name = os.path.basename(paths[i].as_py())
            for off, length, inflated in _split_members(contents[i].as_buffer()):
                rows.append((name, off, length) + _parse(inflated))
                # flush early so one huge archive doesn't pin a giant batch
                if len(rows) >= 1024:
                    yield _to_batch(rows)
                    rows = []
        if rows:
            yield _to_batch(rows)


def scan_warc_members(
    spark: SparkSession, paths: str | list[str], glob: str = "*.warc.gz"
) -> DataFrame:
    """DataFrame of parsed WARC members from .warc.gz file(s)/glob/dir.
    ``glob`` widens the dir-level filename filter for sidecar formats
    (``*.warc.wet.gz`` conversion, ``*.warc.wat.gz`` metadata archives —
    same member framing, scanned by the same parser)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(paths)
        .select("path", "content")
    )
    # binaryFile is non-splittable: tasks are file-granular already (small
    # files bin-packed per maxPartitionBytes) — no repartition, no shuffle.
    return raw.mapInArrow(_scan_batches, schema=MEMBER_SCHEMA)
