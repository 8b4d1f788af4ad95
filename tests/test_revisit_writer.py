"""T57 revisit-record WARC sink (sources/revisit_writer.py): duplicate
payloads stored once, later captures as identical-payload-digest revisit
records. Round-trip pinned via the oracle's pure-Python parser AND the
engine scanner; storage shrink and plan shape asserted."""

from __future__ import annotations

from base64 import b32encode
from hashlib import sha1

from pyspark.sql import functions as F

from warcsum_spark.oracle import parse_archive
from warcsum_spark.sources.revisit_writer import (
    REVISIT_PROFILE,
    plan_revisits,
    write_deduped_archives,
)
from warcsum_spark.sources.warc_writer import write_warc_archives


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, body binary").repartition(1)


ROWS = [
    ("http://a.test/1", b"<html>unique one</html>"),
    ("http://a.test/2", b"<html>dup</html>"),
    ("http://b.test/3", b"<html>dup</html>"),
    ("http://c.test/4", b"<html>dup</html>"),
    ("http://c.test/5", b"<html>unique two</html>"),
]


def test_round_trip_revisits(spark, tmp_path):
    man = write_deduped_archives(
        _pages(spark, ROWS), str(tmp_path), prefix="t"
    ).collect()
    assert len(man) == 1 and man[0].n_records == 5 and man[0].n_revisits == 2
    recs = parse_archive(man[0].path)
    by_uri = {r["uri"]: r for r in recs}
    assert by_uri["http://a.test/2"]["type"] == "response"  # first capture
    for dup in ("http://b.test/3", "http://c.test/4"):
        r = by_uri[dup]
        assert r["type"] == "revisit"
        assert r["headers"]["WARC-Profile"] == REVISIT_PROFILE
        assert r["headers"]["WARC-Refers-To-Target-URI"] == "http://a.test/2"
        want_b32 = b32encode(sha1(b"<html>dup</html>").digest()).decode().rstrip("=")
        assert r["headers"]["WARC-Payload-Digest"] == f"sha1:{want_b32}"
        assert b"dup" not in r["body"]  # payload genuinely not stored


def test_storage_shrinks_vs_full_archive(spark, tmp_path):
    import random

    random.seed(42)
    payload = bytes(random.getrandbits(8) for _ in range(4096))  # incompressible
    big = [("http://h.test/%d" % i, payload) for i in range(20)]
    full = write_warc_archives(
        _pages(spark, big), str(tmp_path / "full"), payload_col="body"
    ).collect()
    dedup = write_deduped_archives(
        _pages(spark, big), str(tmp_path / "dedup")
    ).collect()
    assert dedup[0].n_revisits == 19
    assert dedup[0].bytes < full[0].bytes / 5


def test_scanner_reingests_responses_only(spark, tmp_path, warc_dir):
    from warcsum_spark.sources.warc import scan_warc_members

    man = write_deduped_archives(_pages(spark, ROWS), str(tmp_path)).collect()
    members = scan_warc_members(spark, str(tmp_path)).collect()
    # all 5 members parse; the digest pipeline's response filter keeps 3
    assert len(members) == 5
    types = [m.warc_type for m in members]
    assert types.count("response") == 3 and types.count("revisit") == 2


def test_first_capture_rule_is_date_then_uri(spark):
    rows = [
        ("http://z.test/late", b"same", "2015-03-01T00:00:00Z"),
        ("http://b.test/early", b"same", "2015-01-01T00:00:00Z"),
        ("http://a.test/early", b"same", "2015-01-01T00:00:00Z"),
    ]
    df = spark.createDataFrame(rows, "url string, body binary, d string")
    planned = plan_revisits(
        df.withColumn("d", F.to_timestamp("d")), date_col="d"
    ).collect()
    by_uri = {r._uri: r for r in planned}
    assert by_uri["http://a.test/early"].is_first
    assert not by_uri["http://b.test/early"].is_first
    assert not by_uri["http://z.test/late"].is_first
    assert all(r.ref_uri == "http://a.test/early" for r in planned)


def test_single_exchange_plan(spark):
    df = _pages(spark, ROWS)
    plan = (
        plan_revisits(df)._jdf.queryExecution().executedPlan().toString()
    )
    # repartition(1) is one exchange; the digest window adds exactly one
    assert plan.count("Exchange") <= 2, plan
    assert "Join" not in plan
