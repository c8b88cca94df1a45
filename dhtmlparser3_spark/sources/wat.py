"""WAT tier: per-capture METADATA in Common Crawl's third artifact format.

Common Crawl publishes WARC (captures → ``sources/warc.py``), WET
(extracted text → ``sources/wet.py``), and **WAT** — one ``metadata``
record per capture whose ``application/json`` block carries an Envelope
of parsed facts about the page: the WARC header fields of the record it
refers to and, for HTML responses, head metadata (title) and the
outgoing links.  This module computes that metadata with the SAME engine
parse the extraction tier uses, renders/reads the published JSON shape,
and reuses the WET tier's shard machinery (same layout, same atomicity,
same error policy) so all three artifact families ship identically.

``wat_metadata`` is the compute step: ONE parse per page in a map-only
mapInArrow stage (title + links in document order from the same tree —
never a second parse, never a shuffle; the relational ``functions/
links.outlinks`` remains the QUERY path over the node table, this is the
EXPORT path where per-page grouping is free because the page is already
in hand).  ``write_wat`` shards it; ``read_wat`` reads it back.

JSON shape (the subset of Common Crawl's envelope this pipeline is
authoritative for — stable key order, compact separators, so shards are
byte-deterministic):

    {"Envelope": {
       "WARC-Header-Metadata": {"WARC-Target-URI": ..., "WARC-Date": ...,
                                "WARC-Type": "response"},
       "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
          "Head": {"Title": ...},                      # absent if none
          "Links": [{"path": "A@/href", "url": ..., "text": ...}, ...]
       }}}}}

Reference tie-in: title and anchor semantics are the reference's own —
``find("a")``/``find("title")`` with case-insensitive parameter match
(query.py) and ``content_without_tags`` subtree text (serialize.py);
the WAT rendering is pipeline scope the reference never had.
"""

from __future__ import annotations

import json
import os
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .warc import _CRLF2, _warc_tuple, scan_record_files, warc_ts
from .wet import write_record_shard

# wat_metadata output: links as array<struct> in DOCUMENT ORDER (the
# parse order — deterministic per html bytes); title NULL when the page
# has no <title> tag
META_SCHEMA = (
    "url string, warc_ts timestamp, title string, "
    "links array<struct<url:string,text:string>>, error string"
)

# read_wat output
WAT_SCHEMA = (
    "src_file string, rec_offset bigint, url string, warc_date string, "
    "title string, links array<struct<url:string,text:string>>, "
    "error string"
)

MANIFEST_SCHEMA = "path string, records bigint, bytes bigint"


def page_metadata(html: str) -> Tuple[Optional[str], List[Tuple[str, str]]]:
    """One parsed page → (title, [(href, anchor_text), ...]) with the
    reference's own semantics: ``find`` pre-order, case-insensitive
    ``href`` key, subtree anchor text (``content_without_tags``), title
    from the FIRST <title> in document order.  Links keep document order
    and duplicates — WAT reports what the page says, dedup is the
    consumer's policy."""
    from dhtmlparser3_spark.engine.api import parse

    dom = parse(html)
    title = None
    for t in dom.find("title"):
        title = t.content_without_tags()
        break
    links = []
    for a in dom.find("a"):
        href = a.parameters.get("href")
        if href is None:
            continue
        links.append((href, a.content_without_tags()))
    return title, links


def make_wat_iterator(max_slice_bytes: int | None = None):
    """Build the mapInArrow fn behind ``wat_metadata``: batches of
    ``(url, warc_ts, html)`` → batches of ``META_SCHEMA``.  It is the
    parse family's batch loop (``functions.extract.make_parse_iterator``:
    byte-bounded slices, so a batch of multi-MB pages never materializes
    as Python strings at once; error rows for poison and unencodable
    pages) with :func:`page_metadata` per document.  Exposed so the
    byte-slice discipline is testable without Spark."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions.extract import make_parse_iterator

    link_t = pa.list_(
        pa.struct([("url", pa.string()), ("text", pa.string())])
    )

    def one(html):
        try:
            title, links = page_metadata(html)
        except Exception as e:  # noqa: BLE001 — poison page → error row
            return None, None, f"{type(e).__name__}: {e}"
        return title, [{"url": u, "text": t} for u, t in links], None

    return make_parse_iterator(
        one,
        [("title", pa.string()), ("links", link_t), ("error", pa.string())],
        ("url", "warc_ts"),
        max_slice_bytes,
    )


def wat_metadata(
    pages: DataFrame, max_slice_bytes: int | None = None
) -> DataFrame:
    """pages(url, warc_ts, html, ...) → ``META_SCHEMA`` rows: ONE parse
    per page, map-only (zero exchanges — pinned), the extract tier's
    error policy (a poison page yields an error ROW keyed by url, never
    a task failure).  Worker memory is byte-bounded: each Arrow batch is
    processed in ``max_slice_bytes`` runs (default the extract tier's
    1 MiB worker slice, ``functions.extract._WORKER_BATCH_BYTES``), so a
    batch of big pages never unboxes at once."""
    return pages.select("url", "warc_ts", "html").mapInArrow(
        make_wat_iterator(max_slice_bytes), META_SCHEMA
    )


def _envelope_json(
    url: str, date_iso: str, title: Optional[str], links
) -> bytes:
    html_meta: dict = {}
    if title is not None:
        html_meta["Head"] = {"Title": title}
    html_meta["Links"] = [
        {"path": "A@/href", "url": l["url"], "text": l["text"]}
        for l in (links or [])
    ]
    env = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": url,
                "WARC-Date": date_iso,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {"HTML-Metadata": html_meta}
            },
        }
    }
    return json.dumps(
        env, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    ).encode("utf-8")


def build_wat_record(
    url: str, date_iso: str, envelope: bytes, warc_type: str = "metadata"
) -> bytes:
    """One uncompressed WAT record: ``metadata`` type,
    ``application/json`` block."""
    if warc_type == "metadata":
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: metadata\r\n"
            + b"WARC-Target-URI: %s\r\n" % url.encode()
            + b"WARC-Date: %s\r\n" % date_iso.encode()
            + b"Content-Type: application/json\r\n"
            + b"Content-Length: %d\r\n" % len(envelope)
        )
    else:  # warcinfo lead
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: warcinfo\r\n"
            + b"WARC-Date: %s\r\n" % date_iso.encode()
            + b"Content-Type: application/warc-fields\r\n"
            + b"Content-Length: %d\r\n" % len(envelope)
        )
    return head + b"\r\n" + envelope + _CRLF2


_WARCINFO_BODY = b"software: dhtmlparser3_spark write_wat\r\nformat: WARC File Format 1.0\r\n"


def write_wat(df: DataFrame, dest_dir: str, prefix: str = "part") -> DataFrame:
    """Distributed WAT sink over ``wat_metadata`` rows (or any frame with
    ``url``, ``warc_ts``, ``title``, ``links``): each partition → one
    ``dest_dir/<prefix>-<pid:05d>.warc.wat.gz`` shard; returns the
    manifest ``(path, records, bytes)``.  Same layout/atomicity/
    determinism contract as ``write_wet`` (shared ``write_record_shard``).
    Error rows (``error`` non-NULL, if present) are excluded — failures
    stay in the metadata table."""
    os.makedirs(dest_dir, exist_ok=True)
    cols = [
        F.col("url"),
        F.date_format(F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias(
            "wat_date"
        ),
        F.col("title"),
        F.col("links"),
    ]
    src = df
    if "error" in df.columns:
        src = src.where(F.col("error").isNull())
    src = src.select(*cols)

    def run(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from dhtmlparser3_spark.functions.extract import arrow_column

        pid = TaskContext.get().partitionId()
        path = os.path.join(dest_dir, f"{prefix}-{pid:05d}.warc.wat.gz")

        def members():
            for rb in batches:
                urls = rb.column(rb.schema.get_field_index("url")).to_pylist()
                dates = rb.column(
                    rb.schema.get_field_index("wat_date")
                ).to_pylist()
                titles = rb.column(
                    rb.schema.get_field_index("title")
                ).to_pylist()
                links = rb.column(
                    rb.schema.get_field_index("links")
                ).to_pylist()
                for url, date, title, lk in zip(urls, dates, titles, links):
                    date = date or "1970-01-01T00:00:00Z"
                    yield build_wat_record(
                        url, date, _envelope_json(url, date, title, lk)
                    )

        lead = build_wat_record(
            "", "2024-01-01T00:00:00Z", _WARCINFO_BODY, "warcinfo"
        )
        n, size = write_record_shard(path, lead, members())
        if n == 0:
            os.remove(path)
            return
        yield pa.RecordBatch.from_arrays(
            [
                arrow_column([path], pa.string()),
                arrow_column([n], pa.int64()),
                arrow_column([size], pa.int64()),
            ],
            ["path", "records", "bytes"],
        )

    return src.mapInArrow(run, MANIFEST_SCHEMA)


def parse_wat_envelope(block: bytes):
    """JSON envelope → (title, links list) — tolerant of absent branches
    (a WAT consumer must accept envelopes richer or poorer than its
    own).  Raises ValueError on non-JSON."""
    try:
        env = json.loads(block)
    except (ValueError, UnicodeDecodeError) as e:
        raise ValueError(f"wat envelope: {e}")
    html_meta = (
        (env.get("Envelope") or {})
        .get("Payload-Metadata", {})
        .get("HTTP-Response-Metadata", {})
        .get("HTML-Metadata", {})
    )
    title = (html_meta.get("Head") or {}).get("Title")
    links = [
        {"url": l.get("url"), "text": l.get("text")}
        for l in html_meta.get("Links", [])
    ]
    return title, links


def _wat_row(path: str, off: int, _length, hdr: dict, block: bytes):
    """One ``metadata`` record → WAT_SCHEMA row tuple; an envelope that
    is not JSON is a ``wat:`` error row keyed by url/offset."""
    _wtype, url, date, block = _warc_tuple(hdr, block)
    try:
        title, links = parse_wat_envelope(block)
    except ValueError as e:
        return (path, off, url, date, None, None, f"wat: {e}")
    return (path, off, url, date, title, links, None)


def read_wat(
    spark: SparkSession,
    path: str,
    batch_rows: int = 2048,
) -> DataFrame:
    """WAT file(s) → ``(src_file, rec_offset, url, wat_ts, title, links,
    error)`` — same reader contract as ``read_wet`` (both layouts,
    globs, replayable offsets, shared error policy; non-``metadata``
    records skip).
    Batches are cut at ``batch_rows`` rows or the worker slice of
    top-level string bytes (url, title), whichever comes first."""
    import pyarrow as pa

    out_t = {
        "src_file": pa.string(),
        "rec_offset": pa.int64(),
        "url": pa.string(),
        "warc_date": pa.string(),
        "title": pa.string(),
        "links": pa.list_(
            pa.struct([("url", pa.string()), ("text", pa.string())])
        ),
        "error": pa.string(),
    }
    raw = scan_record_files(
        spark, path, "metadata", _wat_row, WAT_SCHEMA, out_t, batch_rows
    )
    return raw.select(
        "src_file",
        "rec_offset",
        "url",
        warc_ts("warc_date").alias("wat_ts"),
        "title",
        "links",
        "error",
    )
