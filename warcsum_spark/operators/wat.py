"""T46 — WAT metadata extraction + sink: the Common-Crawl companion
format this engine was still missing (T34 writes WARC, T42 writes WET;
WAT is the third member of the trio — one ``metadata`` record per page
whose payload is a JSON envelope of the page's extracted metadata:
title, outlinks, digest, lengths). Web-archive consumers that never
touch payloads (link-graph builders, SEO/search tooling, crawl
accounting) read ONLY the WAT sidecar, so emitting it next to every
archive write is standard practice (reference scope: warcsum.c reads
archives and emits a text manifest — warcsum.c:822–842 member walk; the
WAT envelope is that manifest idea carried to the metadata-record
format the rest of the ecosystem expects).

Spark-first shape:

- ``wat_metadata`` is 100% JVM codegen: links via ``regexp_extract_all``
  (Java-regex ∩ RE2 ∩ DuckDB pattern class, same contract as
  operators/anchors.py), title via ``regexp_extract``, digest via the
  built-in hash functions, and the JSON envelope via ``to_json`` over a
  struct — field order is struct order, so the envelope bytes are
  deterministic and cross-engine reproducible. No Python in the plan;
  the whole projection fuses into the scan.
- ``write_wat_archives`` frames each envelope with
  ``warc_writer.warc_record`` (``WARC-Type: metadata``, JSON payload)
  and writes it through ``warc_writer.write_partition_archives``, the
  partition-grain ``mapInPandas`` runner every sink shares: one
  ``.warc.wat.gz`` per non-empty partition, one gzip member per
  metadata record, byte-deterministic framing (fixed compresslevel/
  mtime). File size falls out of upstream partition sizing — the sink
  adds no shuffle. The WARC-Date is ``warc_writer.warc_date``, the
  same expression as the other sinks.

At 100 TB: the envelope is a map-only projection of the page scan
(links/title regex + hash), so WAT generation rides the same pass that
digests or archives pages — no extra scan of the corpus, no exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warcsum_spark.sources.warc_writer import (
    warc_date,
    warc_record,
    write_partition_archives,
)

# group 1 = href value. Mirrors functions/html.py::_HREF (no-whitespace
# value class) but stays in the Java-regex ∩ RE2 ∩ DuckDB common subset
# (explicit classes, lazy quantifier, no \b/\s shorthands inside the
# value class) so the DuckDB oracle extracts identically.
WAT_HREF_PATTERN = (
    r"""(?is)<a[^>]*?href[ \t\r\n]*=[ \t\r\n]*["']([^"'<> \t\r\n]+)["']"""
)
WAT_TITLE_PATTERN = r"(?is)<title[^>]*>([^<]*)</title"


def _sql_quote(pat: str) -> str:
    return pat.replace("\\", "\\\\").replace("'", "\\'")


def wat_envelope_cols(
    html_col: str = "html", digest: str = "sha1"
) -> dict[str, Column]:
    """The WAT envelope fields as named JVM columns over ``html_col``
    (a string column): title (trimmed; '' when absent), links (document
    order, raw hrefs — the frontier canonicalizes downstream), n_links,
    content_length (bytes of the UTF-8 payload), payload_digest
    (lowercase hex; ``digest`` in {sha1, md5, sha256} — sha1 is the
    web-archive convention, md5/sha256 are offered because some oracle
    engines lack sha1)."""
    href = _sql_quote(WAT_HREF_PATTERN)
    title = _sql_quote(WAT_TITLE_PATTERN)
    payload = F.encode(F.col(html_col), "UTF-8")
    if digest == "sha1":
        dig = F.sha1(payload)
    elif digest == "md5":
        dig = F.md5(payload)
    elif digest == "sha256":
        dig = F.sha2(payload, 256)
    else:  # pragma: no cover - caller error
        raise ValueError(f"unsupported digest {digest!r}")
    links = F.expr(f"regexp_extract_all({html_col}, '{href}', 1)")
    return {
        "title": F.trim(F.expr(f"regexp_extract({html_col}, '{title}', 1)")),
        "links": links,
        "n_links": F.size(links).cast("long"),
        "content_length": F.length(payload).cast("long"),
        "payload_digest": dig,
    }


def wat_metadata(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    date_col: str | None = None,
    default_date: str = "2015-01-01T00:00:00Z",
    digest: str = "sha1",
) -> DataFrame:
    """(url, date, title, links, n_links, content_length,
    payload_digest, envelope) — one row per page, map-only. ``envelope``
    is the JSON WAT payload, built JVM-side with ``to_json`` over a
    struct in fixed field order (url, date, title, n_links,
    content_length, payload_digest, links) — byte-deterministic, and
    every field is coalesced non-null so the envelope never depends on
    engine-specific null-field elision."""
    cols = wat_envelope_cols(html_col, digest=digest)
    base = pages.select(
        F.col(url_col).cast("string").alias("url"),
        warc_date(date_col, default_date).alias("date"),
        F.coalesce(cols["title"], F.lit("")).alias("title"),
        F.coalesce(cols["links"], F.array().cast("array<string>")).alias(
            "links"
        ),
        F.coalesce(cols["n_links"], F.lit(0)).alias("n_links"),
        F.coalesce(cols["content_length"], F.lit(0)).alias("content_length"),
        F.coalesce(cols["payload_digest"], F.lit("")).alias("payload_digest"),
    )
    return base.withColumn(
        "envelope",
        F.to_json(
            F.struct(
                "url",
                "date",
                "title",
                "n_links",
                "content_length",
                "payload_digest",
                "links",
            )
        ),
    )


def write_wat_archives(
    pages: DataFrame,
    out_dir: str,
    prefix: str = "crawl",
    url_col: str = "url",
    html_col: str = "html",
    date_col: str | None = None,
    default_date: str = "2015-01-01T00:00:00Z",
) -> DataFrame:
    """WAT sink: one ``{prefix}-{partition:05d}.warc.wat.gz`` per
    non-empty input partition, one gzip member per WARC ``metadata``
    record whose payload is the JSON envelope. Returns the lazy write
    manifest (path, n_records, bytes) — an action on it IS the write
    (same contract as write_warc_archives). Envelope construction stays
    JVM-side; the Python runner only frames bytes."""
    meta = wat_metadata(
        pages,
        url_col=url_col,
        html_col=html_col,
        date_col=date_col,
        default_date=default_date,
    )
    src = meta.select(
        F.col("url").alias("_uri"),
        F.encode("envelope", "UTF-8").alias("_payload"),
        F.col("date").alias("_date"),
    )
    return write_partition_archives(
        src,
        out_dir,
        prefix,
        ".warc.wat.gz",
        lambda uri, envelope, date: warc_record(
            "metadata", uri, date, "application/json", envelope, envelope
        ),
    )
