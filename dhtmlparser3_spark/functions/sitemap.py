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


def make_sitemap_iterator(max_slice_bytes: int | None = None):
    """Build the mapInArrow fn behind ``sitemap_entries``: batches of
    ``(url, body)`` → batches of ``SITEMAP_SCHEMA`` (exposed for
    no-Spark slice testing, the WAT tier's pattern)."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions.extract import (
        arrow_column,
        arrow_slices,
        decode_html,
    )

    def run(batches):
        for rb in arrow_slices(batches, "body", max_slice_bytes):
            urls = rb.column("url").to_pylist()
            bodies = rb.column("body").to_pylist()
            cols = {
                k: []
                for k in (
                    "src_url", "kind", "ord", "loc",
                    "lastmod", "changefreq", "priority", "error",
                )
            }

            def emit(u, kind, ordn, loc, lm, cf, pr, err):
                cols["src_url"].append(u)
                cols["kind"].append(kind)
                cols["ord"].append(ordn)
                cols["loc"].append(loc)
                cols["lastmod"].append(lm)
                cols["changefreq"].append(cf)
                cols["priority"].append(pr)
                cols["error"].append(err)

            for u, b in zip(urls, bodies):
                try:
                    entries = sitemap_entries_py(decode_html(b))
                except Exception as e:  # poison body → error row
                    emit(u, None, None, None, None, None, None,
                         f"{type(e).__name__}: {e}")
                    continue
                counts = {"url": 0, "sitemap": 0}
                for kind, loc, lm, cf, pr in entries:
                    emit(u, kind, counts[kind], loc, lm, cf, pr, None)
                    counts[kind] += 1
            yield pa.RecordBatch.from_arrays(
                [
                    arrow_column(cols["src_url"], pa.string()),
                    arrow_column(cols["kind"], pa.string()),
                    arrow_column(cols["ord"], pa.int32()),
                    arrow_column(cols["loc"], pa.string()),
                    arrow_column(cols["lastmod"], pa.string()),
                    arrow_column(cols["changefreq"], pa.string()),
                    arrow_column(cols["priority"], pa.string()),
                    arrow_column(cols["error"], pa.string()),
                ],
                list(cols),
            )

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
