"""T57 — dedup-aware WARC sink: duplicate payloads become ``revisit``
records (WARC 1.1 §6.7.2, identical-payload-digest profile) that
reference the first capture instead of storing the body again. This is
the storage half of the reference pipeline's reason to exist: warcsum/
warccollres find the duplicate clusters (warccollres.h:30–36 ext/copy_no
grain, warcsumproc's first-copy refersto) and a production crawler then
writes exactly these revisit records so each payload is stored once.
The sink composes the two: first capture per payload digest → full
response record; every later capture → a payload-less revisit carrying
``WARC-Refers-To-Target-URI``/``WARC-Refers-To-Date`` of the first.

Plan shape at 100 TB: ``plan_revisits`` is ONE digest-keyed exchange —
row_number + first_value share the same window, and the shuffle carries
(digest, url, date) plus the payload that must be written anyway;
there is no self-join. The write itself is
``warc_writer.write_partition_archives``, the partition-grain
``mapInPandas`` runner shared with the WARC/WET/WAT sinks (one archive
per partition, no extra shuffle); archive size = partition size. Both
record kinds are ``warc_writer.warc_record`` calls: a response record
(HTTP block + payload), or a revisit whose block is the HTTP headers
alone while its payload digest still names the stored payload. The
runner's ``counts=("n_revisits",)`` tallies the revisits per archive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warcsum_spark.sources.warc_writer import (
    HTTP_RESPONSE_TYPE,
    http_block,
    warc_date,
    warc_record,
    write_partition_archives,
)

REVISIT_PROFILE = "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"


def plan_revisits(
    pages: DataFrame,
    uri_col: str = "url",
    payload_col: str = "body",
    date_col: str | None = None,
    default_date: str = "2015-01-01T00:00:00Z",
) -> DataFrame:
    """(_uri, _payload, _date, is_first, ref_uri, ref_date): first
    capture per payload sha1 (ordered by date then uri — the
    warcsumproc first-copy rule under a total order) keeps its payload;
    later captures point at it. ONE digest-keyed exchange (row_number
    and both first_values share the window); null payloads pass through
    as is_first (nothing to dedup against). The fixed-format UTC date
    string orders lexicographically == chronologically."""
    d = pages.select(
        F.col(uri_col).alias("_uri"),
        F.col(payload_col).alias("_payload"),
        warc_date(date_col, default_date).alias("_date"),
    ).withColumn("_digest", F.sha1(F.col("_payload")))
    w = Window.partitionBy("_digest").orderBy("_date", "_uri")
    return d.select(
        "_uri",
        "_payload",
        "_date",
        (F.col("_digest").isNull() | (F.row_number().over(w) == 1)).alias(
            "is_first"
        ),
        F.first_value("_uri").over(w).alias("ref_uri"),
        F.first_value("_date").over(w).alias("ref_date"),
    )


def write_deduped_archives(
    pages: DataFrame,
    out_dir: str,
    prefix: str = "dedup",
    uri_col: str = "url",
    payload_col: str = "body",
    date_col: str | None = None,
    content_type: str = "text/html",
    default_date: str = "2015-01-01T00:00:00Z",
) -> DataFrame:
    """Write ``{prefix}-{partition:05d}.warc.gz`` archives where each
    distinct payload is stored once and every duplicate capture is a
    revisit record referencing the first. Returns the lazy write
    manifest (path, n_records, bytes, n_revisits) — an action on it IS
    the write."""
    planned = plan_revisits(pages, uri_col, payload_col, date_col, default_date)
    src = planned.select(
        "_uri",
        "_payload",
        "_date",
        (~F.col("is_first")).alias("n_revisits"),
        "ref_uri",
        "ref_date",
    )
    http = http_block(content_type)

    def record(uri, payload, date, revisit, ref_uri, ref_date) -> bytes:
        if not revisit:
            return warc_record(
                "response", uri, date, HTTP_RESPONSE_TYPE, http + payload, payload
            )
        # identical-payload-digest profile: HTTP headers retained, body
        # omitted — the digest names the stored payload, Refers-To names
        # where it lives
        return warc_record(
            "revisit",
            uri,
            date,
            HTTP_RESPONSE_TYPE,
            http,
            payload,
            (
                f"WARC-Profile: {REVISIT_PROFILE}",
                f"WARC-Refers-To-Target-URI: {ref_uri}",
                f"WARC-Refers-To-Date: {ref_date}",
            ),
        )

    return write_partition_archives(
        src, out_dir, prefix, ".warc.gz", record, counts=("n_revisits",)
    )
