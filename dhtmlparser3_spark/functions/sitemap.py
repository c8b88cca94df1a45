"""Sitemap tier: parse sitemap.xml captures into a crawl-frontier table.

Sitemaps are the crawl-discovery side of the robots tier (robots.py —
the two files a polite crawler fetches first).  A capture's body is
either a ``<urlset>`` of page entries or a ``<sitemapindex>`` of child
sitemap locations (sitemaps.org protocol); this module turns both into
rows, using THE SAME engine parse as the extraction tier — the
reference's own lenient parser handles real-world sitemap XML (BOM,
stray entities, unclosed tags) identically on both sides of the
differential test, so sitemap parsing inherits the byte-identity north
star instead of adding a second XML-parser dependency.

Reference tie-in: ``find`` pre-order + case-insensitive tag match
(/root/reference/src/dhtmlparser3/tags/tag.py find) and
``content_without_tags`` subtree text — the exact query surface
test_sitemap.py replays against the vendored reference.

Scale shape: map-only mapInArrow over (url, body) captures — one parse
per document, byte-bounded worker slices (the extract tier's giant-doc
discipline), no shuffle; a poison body yields an error ROW keyed by the
capture url, never a task failure.  ``lastmod``/``priority`` stay raw
strings (W3C-Datetime / decimal text) so nothing is silently coerced;
``with_lastmod_ts`` adds the JVM-parsed timestamp column on request.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dhtmlparser3_spark.functions.extract import decode_html

SITEMAP_SCHEMA = (
    "src_url string, kind string, ord int, loc string, lastmod string, "
    "changefreq string, priority string, error string"
)

_FIELDS = ("lastmod", "changefreq", "priority")


def _child_text(tag, name: str) -> Optional[str]:
    found = tag.find(name)
    if not found:
        return None
    return found[0].content_without_tags().strip()


def sitemap_entries_py(
    xml: str,
) -> List[Tuple[str, str, Optional[str], Optional[str], Optional[str]]]:
    """One sitemap body → [(kind, loc, lastmod, changefreq, priority)]:
    ``kind`` is ``"url"`` (page entry) or ``"sitemap"`` (child sitemap
    from an index), each kind in document order.  Entries without a
    ``<loc>`` are skipped — they name nothing fetchable (protocol
    requires loc).  Lenient by construction: the engine parser never
    raises on malformed markup, it just finds fewer tags."""
    from dhtmlparser3_spark.engine.api import parse

    dom = parse(xml)
    out = []
    for kind in ("url", "sitemap"):
        for entry in dom.find(kind):
            loc = _child_text(entry, "loc")
            if not loc:
                continue
            out.append(
                (kind, loc) + tuple(_child_text(entry, f) for f in _FIELDS)
            )
    return out


def _error_row(url: str, msg: str) -> tuple:
    return (url, None, None, None, None, None, None, msg)


def _doc_rows(url: str, body) -> list:
    """One capture's ``SITEMAP_SCHEMA`` rows: its entries, or one error
    row when the body does not decode or parse."""
    try:
        entries = sitemap_entries_py(decode_html(body))
    except Exception as e:  # poison body → error row
        return [_error_row(url, f"{type(e).__name__}: {e}")]
    counts = {"url": 0, "sitemap": 0}
    rows = []
    for kind, loc, lm, cf, pr in entries:
        rows.append((url, kind, counts[kind], loc, lm, cf, pr, None))
        counts[kind] += 1
    return rows


def make_sitemap_iterator(max_slice_bytes: int | None = None):
    """Build the mapInArrow fn behind ``sitemap_entries``: batches of
    ``(url, body)`` → batches of ``SITEMAP_SCHEMA`` (exposed for
    no-Spark slice testing, the WAT tier's pattern), each capture's rows
    appended as parsed.  A capture whose entries cannot be encoded as
    UTF-8 (a lone surrogate from ``&#55296;``) becomes one
    ``UnicodeEncodeError`` error row, as in ``make_parse_iterator``; its
    neighbours' rows are unchanged."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions.extract import (
        append_rows, arrow_slices, column_builder,
    )

    fields = [f.split() for f in SITEMAP_SCHEMA.split(", ")]
    names = [n for n, _ in fields]
    types = [pa.int32() if t == "int" else pa.string() for _, t in fields]

    def run(batches):
        for rb in arrow_slices(batches, "body", max_slice_bytes):
            cols = [column_builder(t) for t in types]
            for u, b in zip(
                rb.column("url").to_pylist(), rb.column("body").to_pylist()
            ):
                try:
                    append_rows(cols, _doc_rows(u, b))
                except UnicodeEncodeError as e:
                    append_rows(cols, [_error_row(u, f"UnicodeEncodeError: {e}")])
            yield pa.RecordBatch.from_arrays([c.finish() for c in cols], names)

    return run


def sitemap_entries(
    captures: DataFrame,
    url_col: str = "url",
    body_col: str = "body",
    max_slice_bytes: int | None = None,
) -> DataFrame:
    """(url, body) sitemap captures → ``SITEMAP_SCHEMA`` rows: one row
    per ``<url>``/``<sitemap>`` entry, ``ord`` the entry's document
    order within its kind.  Map-only; error rows per the shared
    policy."""
    src = captures.select(
        F.col(url_col).alias("url"), F.col(body_col).alias("body")
    )
    return src.mapInArrow(
        make_sitemap_iterator(max_slice_bytes), SITEMAP_SCHEMA
    )


def with_lastmod_ts(entries: DataFrame) -> DataFrame:
    """Adds ``lastmod_ts``: the W3C-Datetime lastmod parsed JVM-side
    (date-only and second/fraction datetimes; anything else NULL, the
    raw string stays)."""
    c = F.col("lastmod")
    return entries.withColumn(
        "lastmod_ts",
        F.coalesce(
            F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ssX")),
            F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSX")),
            F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mmX")),
            F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        ),
    )
