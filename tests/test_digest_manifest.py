"""Stage 1 parity: Spark digest manifest == pure-Python oracle, byte-for-byte."""

from __future__ import annotations

import glob
import hashlib

import pytest

from warcsum_spark.operators.digest_manifest import digest_manifest, manifest_text
from warcsum_spark.oracle import manifest_lines, oracle_manifest
from warcsum_spark.sources.warc import scan_warc_members


def spark_manifest_lines(spark, warc_dir, **kw):
    members = scan_warc_members(spark, warc_dir)
    mf = digest_manifest(members, keep_payload=False, **kw)
    return sorted(r["line"] for r in manifest_text(mf).collect())


@pytest.mark.parametrize(
    "algo,force,skip_empty",
    [
        ("sha1", True, False),
        ("sha1", False, False),  # stored-digest reuse path (F4)
        ("sha1", True, True),  # skip-empty (P7)
        ("md5", True, False),
        ("sha256", True, False),
    ],
)
def test_manifest_matches_oracle(spark, warc_dir, algo, force, skip_empty):
    paths = sorted(glob.glob(warc_dir + "/*.warc.gz"))
    expected = sorted(
        manifest_lines(oracle_manifest(paths, algo=algo, force=force, skip_empty=skip_empty))
    )
    got = spark_manifest_lines(spark, warc_dir, algo=algo, force=force, skip_empty=skip_empty)
    assert got == expected


def test_digest_values_match_hashlib(spark, warc_dir):
    """F1: engine digests equal hashlib over the exact payload bytes."""
    members = scan_warc_members(spark, warc_dir)
    mf = digest_manifest(members, algo="sha1", keep_payload=True)
    for row in mf.limit(50).collect():
        assert row["digest"] == "sha1:" + hashlib.sha1(bytes(row["payload"])).hexdigest()


def test_filters(spark, warc_dir):
    """P4–P6: non-response / non-http members are dropped."""
    members = scan_warc_members(spark, warc_dir)
    total = members.count()
    kept = digest_manifest(members, keep_payload=False).count()
    assert kept < total
    types = {r["warc_type"] for r in members.select("warc_type").distinct().collect()}
    assert "request" in types and "metadata" in types  # fixtures cover the branches


# ---------------------------------------------------------------------------
# adversarial gzip/WARC framing: header boundaries straddling buffer-size
# alignments (SURVEY §7 hard part 1) — pins the header split and the -4
# payload trim on every alignment, byte-for-byte vs the oracle
# ---------------------------------------------------------------------------


def _padded_member(uri: bytes, sep_target: int, payload: bytes) -> bytes:
    """A response member whose FIRST header separator (\\r\\n\\r\\n) starts
    at exactly ``sep_target`` bytes into the inflated record, arranged
    via an X-Pad header the parsers must skip as an unknown key."""

    def build(k: int) -> bytes:
        lines = [
            b"WARC/1.0",
            b"WARC-Type: response",
            b"WARC-Target-URI: " + uri,
            b"WARC-Date: 2015-01-01T00:00:00Z",
            b"Content-Type: application/http; msgtype=response",
            b"X-Pad: " + b"a" * k,
        ]
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        body = http + payload
        lines.append(b"Content-Length: " + str(len(body)).encode())
        return b"\r\n".join(lines) + b"\r\n\r\n" + body + b"\r\n\r\n"

    h0 = build(0).find(b"\r\n\r\n")
    if sep_target < h0:
        raise ValueError(f"sep_target {sep_target} below minimum header {h0}")
    rec = build(sep_target - h0)
    assert rec.find(b"\r\n\r\n") == sep_target
    return rec


def test_boundary_straddling_members_match_oracle(spark, tmp_path):
    """One archive of members whose header separator straddles every
    alignment around common inflate buffer sizes, crossed with payload
    tails that stress the -4 trim (empty, bare CRLFCRLF, CRLFCRLF-
    suffixed data, CRLF-rich interior). Manifest must equal the oracle
    byte-for-byte, and every member must survive the walk."""
    import gzip
    import os

    from warcsum_spark.fixtures import _gz

    payloads = {
        "empty": b"",
        "sep-only": b"\r\n\r\n",
        "sep-tail": b"data\r\n\r\n",
        "sep-rich": b"A\r\n\r\nB" * 40 + b"\r\n\r\n",
        "plain": b"x" * 100,
    }
    members = []
    n_members = 0
    for bufsz in (512, 1024, 4096, 16384, 32768):
        for delta in (-4, -3, -2, -1, 0, 1):
            for pname, payload in payloads.items():
                uri = f"http://b{bufsz}.test/{delta}/{pname}".encode()
                members.append(
                    _padded_member(uri, bufsz + delta, payload)
                )
                n_members += 1
    # mixed compression: one gzip member per record, varying compressor
    # (gzip.compress vs the fixtures' deterministic _gz) so compressed
    # member edges land at irregular offsets too
    blob = b"".join(
        _gz(m) if i % 2 else gzip.compress(m, compresslevel=1, mtime=0)
        for i, m in enumerate(members)
    )
    d = tmp_path / "boundary"
    os.makedirs(d)
    (d / "boundary.warc.gz").write_bytes(blob)

    paths = [str(d / "boundary.warc.gz")]
    expected = sorted(manifest_lines(oracle_manifest(paths, algo="sha1", force=True)))
    got = spark_manifest_lines(spark, str(d), algo="sha1", force=True)
    assert got == expected
    assert len(got) == n_members  # nothing silently dropped at any alignment
    # the -4 trim must keep payload-interior CRLFCRLF bytes: check one
    # digest against hashlib over the exact intended payload
    import hashlib

    line = next(l for l in got if "b4096.test/0/sep-tail" in l)
    assert hashlib.sha1(b"data\r\n\r\n").hexdigest() in line


def test_truncation_at_member_edges_keeps_prefix(spark, tmp_path):
    """Compressed-stream truncation at and around a member edge: the walk
    keeps every complete earlier member and never kills the job — the
    manifest of a truncated archive equals the oracle manifest of its
    complete-member prefix (the oracle itself refuses truncated input,
    so the prefix IS the parity statement)."""
    import os

    from warcsum_spark.fixtures import _gz

    m1 = _padded_member(b"http://t.test/1", 300, b"one")
    m2 = _padded_member(b"http://t.test/2", 300, b"two")
    g1, g2 = _gz(m1), _gz(m2)
    for i, cut in enumerate((len(g1), len(g1) + 1, len(g1) + len(g2) - 1)):
        d = tmp_path / f"trunc{i}"
        os.makedirs(d)
        (d / "t.warc.gz").write_bytes((g1 + g2)[:cut])
        prefix = g1 + g2 if cut >= len(g1) + len(g2) else g1
        ref = tmp_path / f"ref{i}"
        os.makedirs(ref)
        (ref / "t.warc.gz").write_bytes(prefix)
        got = spark_manifest_lines(spark, str(d), algo="sha1", force=True)
        expected = sorted(
            manifest_lines(
                oracle_manifest([str(ref / "t.warc.gz")], algo="sha1", force=True)
            )
        )
        assert got == expected
        # first member always survives; second only when fully present
        assert len(got) == (2 if cut >= len(g1) + len(g2) else 1)


# ---------------------------------------------------------------------------
# members larger than, and ending on, the scan's inflate chunk: the walk
# feeds each member's inflater _CHUNK bytes at a time, so a member that
# spans several chunks or ends exactly on a chunk edge must split the same
# way as the oracle's whole-rest-of-file walk
# ---------------------------------------------------------------------------


def _multi_chunk_members() -> list[bytes]:
    """gzip members: small ones on both sides of an incompressible member
    larger than two chunks and of members whose compressed end falls one
    byte before, exactly on and one byte after a chunk edge."""
    import gzip
    import random

    from warcsum_spark.fixtures import _gz
    from warcsum_spark.sources.warc import _CHUNK

    rng = random.Random(4)

    def small(i: int) -> bytes:
        return _gz(_padded_member(f"http://c.test/s{i}".encode(), 300, b"small %d" % i))

    big = _padded_member(b"http://c.test/big", 300, rng.randbytes(2 * _CHUNK + 5000))
    members = [small(0), _gz(big), small(1)]
    noise = rng.randbytes(_CHUNK)
    for delta in (-1, 0, 1):
        uri = f"http://c.test/edge{delta}".encode()
        # a stored (level-0) member grows by exactly one byte per payload
        # byte below the 64 KiB stored-block limit
        base = len(gzip.compress(_padded_member(uri, 300, b""), compresslevel=0, mtime=0))
        edge = gzip.compress(
            _padded_member(uri, 300, noise[: _CHUNK + delta - base]), compresslevel=0, mtime=0
        )
        assert len(edge) == _CHUNK + delta
        members += [edge, small(delta + 3)]
    return members


def test_walk_matches_oracle_across_chunk_edges():
    from warcsum_spark.oracle import iter_gzip_members
    from warcsum_spark.sources.warc import _split_members

    members = _multi_chunk_members()
    blob = b"".join(members)
    got = list(_split_members(blob))
    assert got == list(iter_gzip_members(blob))
    assert [length for _, length, _ in got] == [len(m) for m in members]


def test_walk_stops_at_bad_member_after_multi_chunk_member():
    """A corrupt member, or one truncated after more than two chunks, that
    follows a multi-chunk member ends the walk and keeps the prefix."""
    from warcsum_spark.oracle import iter_gzip_members
    from warcsum_spark.sources.warc import _CHUNK, _split_members

    small0, big, small1 = _multi_chunk_members()[:3]
    prefix = small0 + big
    for tail in (b"\x1f\x8b\x08junk" + small1, big[: 2 * _CHUNK + 7]):
        assert list(_split_members(prefix + tail)) == list(iter_gzip_members(prefix))


def test_multi_chunk_members_match_oracle(spark, tmp_path):
    import os

    d = tmp_path / "chunks"
    os.makedirs(d)
    members = _multi_chunk_members()
    (d / "chunks.warc.gz").write_bytes(b"".join(members))
    expected = sorted(
        manifest_lines(oracle_manifest([str(d / "chunks.warc.gz")], algo="sha1", force=True))
    )
    got = spark_manifest_lines(spark, str(d), algo="sha1", force=True)
    assert got == expected
    assert len(got) == len(members)
