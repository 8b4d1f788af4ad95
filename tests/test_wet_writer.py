"""T42 — WET sink: extracted text as WARC conversion archives.
Round-trip byte parity is pinned two ways: the raw gzip members are
re-parsed in plain Python (text verbatim), and the engine scanner
re-ingests the files (member framing, headers, stored digests)."""

from __future__ import annotations

import glob
import gzip
import hashlib
from base64 import b32encode

from pyspark.sql import functions as F

from warcsum_spark.sources.warc import scan_warc_members
from warcsum_spark.sources.warc_writer import write_wet_archives


def _docs(spark, n=40, parts=3):
    rows = [
        (f"http://w{i % 7}.test/p/{i}", f"extracted text {i}\nline two {'y' * (i % 83)}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, text string").repartition(parts)


def test_wet_round_trip_text_verbatim(spark, tmp_path):
    out = str(tmp_path / "wet")
    manifest = write_wet_archives(_docs(spark), out).collect()
    paths = sorted(glob.glob(out + "/*.warc.wet.gz"))
    assert paths == sorted(r["path"] for r in manifest)
    assert sum(r["n_records"] for r in manifest) == 40

    # plain-Python reparse: every record's text byte-identical, headers
    # carry conversion type + the sha1 payload digest of the TEXT
    got = {}
    for p in paths:
        # gzip.decompress walks every member of a multi-member file;
        # records re-split on the fixed WARC/1.0 framing marker
        blob = gzip.decompress(open(p, "rb").read())
        records = [b"WARC/1.0" + seg for seg in blob.split(b"WARC/1.0") if seg]
        for rec in records:
            hdr, _, tail = rec.partition(b"\r\n\r\n")
            headers = dict(
                line.decode().split(": ", 1)
                for line in hdr.split(b"\r\n")[1:]
                if b": " in line
            )
            text = tail[: int(headers["Content-Length"])]
            uri = headers["WARC-Target-URI"]
            assert headers["WARC-Type"] == "conversion"
            assert headers["Content-Type"] == "text/plain"
            b32 = b32encode(hashlib.sha1(text).digest()).decode().rstrip("=")
            assert headers["WARC-Payload-Digest"] == f"sha1:{b32}"
            got[uri] = text
    assert len(got) == 40
    for i in range(40):
        uri = f"http://w{i % 7}.test/p/{i}"
        want = f"extracted text {i}\nline two {'y' * (i % 83)}".encode()
        assert got[uri] == want


def test_wet_scanner_reingests_members(spark, tmp_path):
    """The engine scanner walks the gzip members and reads the WARC
    headers (type/uri/date/digest). Payload extraction is the warcsum
    response semantics (second CRLFCRLF), so conversion payloads are
    checked via the stored digest, not the payload column."""
    out = str(tmp_path / "wet2")
    write_wet_archives(_docs(spark), out, prefix="t").collect()
    rows = scan_warc_members(spark, out, glob="*.warc.wet.gz").collect()
    assert len(rows) == 40
    assert all(r["is_warc"] and r["warc_type"] == "conversion" for r in rows)
    assert all(r["content_type"] == "text/plain" for r in rows)
    by_uri = {r["uri"]: r for r in rows}
    for i in (0, 13, 39):
        uri = f"http://w{i % 7}.test/p/{i}"
        text = f"extracted text {i}\nline two {'y' * (i % 83)}".encode()
        b32 = b32encode(hashlib.sha1(text).digest()).decode().rstrip("=")
        assert by_uri[uri]["stored_algo"] == "sha1"
        assert by_uri[uri]["stored_digest_b32"] == b32


def test_wet_null_text_skipped(spark, tmp_path):
    rows = [("http://a.test/1", "ok"), ("http://a.test/2", None)]
    df = spark.createDataFrame(rows, "url string, text string").coalesce(1)
    out = str(tmp_path / "wet3")
    manifest = write_wet_archives(df, out).collect()
    assert sum(r["n_records"] for r in manifest) == 1
