"""Sitemap tier (functions/sitemap.py): fixtures, reference-engine
differential, the Spark loop from WARC captures, and error policy."""

from __future__ import annotations

import pytest

from dhtmlparser3_spark.functions.sitemap import (
    sitemap_entries,
    sitemap_entries_py,
    with_lastmod_ts,
)

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
 <url><loc>http://a.example/p1</loc><lastmod>2024-01-05</lastmod>
  <changefreq>daily</changefreq><priority>0.8</priority></url>
 <url><loc> http://a.example/p2 </loc></url>
 <url><priority>0.1</priority></url>
 <url><loc>http://a.example/p3?a=1&amp;b=2</loc></url>
</urlset>"""

INDEX = """<sitemapindex>
 <sitemap><loc>http://h.example/s1.xml</loc>
  <lastmod>2024-02-02T01:02:03Z</lastmod></sitemap>
 <sitemap><loc>http://h.example/s2.xml</loc></sitemap>
</sitemapindex>"""

# mojibake BOM, uppercase LOC, an unclosed <lastmod> — the lenient-parse
# surface; expectations below are the REFERENCE's own (pinned by the
# differential test): the unclosed lastmod's text reshapes OUT of the
# tag, so lastmod comes back '' not the date
MESSY = (
    "\xef\xbb\xbf<urlset><url><LOC>http://m.example/x</LOC>"
    "<lastmod>2024-03-03T04:05</url>"
    "<url><loc>http://m.example/y</loc></url></urlset>"
)


def test_sitemap_entries_py_urlset():
    got = sitemap_entries_py(URLSET)
    assert got == [
        ("url", "http://a.example/p1", "2024-01-05", "daily", "0.8"),
        ("url", "http://a.example/p2", None, None, None),  # loc stripped
        ("url", "http://a.example/p3?a=1&b=2", None, None, None),  # entity
    ]


def test_sitemap_entries_py_index_and_messy():
    assert sitemap_entries_py(INDEX) == [
        ("sitemap", "http://h.example/s1.xml", "2024-02-02T01:02:03Z", None, None),
        ("sitemap", "http://h.example/s2.xml", None, None, None),
    ]
    assert sitemap_entries_py(MESSY) == [
        ("url", "http://m.example/x", "", None, None),
        ("url", "http://m.example/y", None, None, None),
    ]
    assert sitemap_entries_py("") == []
    assert sitemap_entries_py("not xml at all <<<>") == []


def test_sitemap_matches_reference_engine():
    """The extraction IS the reference's query surface: find(kind) +
    find('loc') + content_without_tags must agree with the vendored
    dhtmlparser3 on every fixture."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    try:
        import dhtmlparser3 as ref
    finally:
        sys.path.pop(0)

    for xml in (URLSET, INDEX, MESSY):
        dom = ref.parse(xml)
        want = []
        for kind in ("url", "sitemap"):
            for entry in dom.find(kind):
                locs = entry.find("loc")
                if not locs:
                    continue
                loc = locs[0].content_without_tags().strip()
                if not loc:
                    continue
                row = (kind, loc)
                for f in ("lastmod", "changefreq", "priority"):
                    t = entry.find(f)
                    row += (t[0].content_without_tags().strip() if t else None,)
                want.append(row)
        assert sitemap_entries_py(xml) == want


def test_sitemap_entries_spark_end_to_end(spark):
    captures = spark.createDataFrame(
        [
            ("http://a.example/sitemap.xml", URLSET.encode()),
            ("http://h.example/sitemap_index.xml", INDEX.encode()),
            ("http://m.example/sitemap.xml", MESSY.encode("utf-8", "replace")),
        ],
        "url string, body binary",
    )
    rows = sitemap_entries(captures).collect()
    assert all(r.error is None for r in rows)
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src_url, []).append(r)
    a = sorted(by_src["http://a.example/sitemap.xml"], key=lambda r: r.ord)
    assert [(r.kind, r.ord, r.loc, r.lastmod, r.changefreq, r.priority) for r in a] == [
        ("url", 0, "http://a.example/p1", "2024-01-05", "daily", "0.8"),
        ("url", 1, "http://a.example/p2", None, None, None),
        ("url", 2, "http://a.example/p3?a=1&b=2", None, None, None),
    ]
    idx = sorted(by_src["http://h.example/sitemap_index.xml"], key=lambda r: r.ord)
    assert [r.kind for r in idx] == ["sitemap", "sitemap"]

    ts = {
        (r.src_url, r.ord): r.lastmod_ts
        for r in with_lastmod_ts(sitemap_entries(captures)).collect()
        if r.lastmod is not None
    }
    got = {
        k: v.strftime("%Y-%m-%dT%H:%M:%S") if v else None
        for k, v in ts.items()
    }
    assert got[("http://a.example/sitemap.xml", 0)] == "2024-01-05T00:00:00"
    assert got[("http://h.example/sitemap_index.xml", 0)] == "2024-02-02T01:02:03"
    # MESSY's reshaped-empty lastmod parses to NULL, raw '' preserved
    assert got[("http://m.example/sitemap.xml", 0)] is None


def test_sitemap_from_warc_and_error_row(spark, tmp_path):
    """Crawl-native loop: sitemap captures through WARC ingest; an
    undecodable body yields an error ROW, never a task failure."""
    from dhtmlparser3_spark.sources.warc import read_warc, write_warc_gz

    path = str(tmp_path / "maps.warc.gz")
    write_warc_gz(
        [
            ("http://a.example/sitemap.xml", "2024-01-01T00:00:00Z", URLSET.encode()),
            ("http://h.example/sitemap_index.xml", "2024-01-01T00:00:00Z", INDEX.encode()),
        ],
        path,
    )
    caps = read_warc(spark, path).where("error IS NULL")
    rows = sitemap_entries(
        caps.select("url", caps.html.alias("body"))
    ).collect()
    assert sorted(r.loc for r in rows if r.kind == "url") == [
        "http://a.example/p1", "http://a.example/p2",
        "http://a.example/p3?a=1&b=2",
    ]
    assert sorted(r.loc for r in rows if r.kind == "sitemap") == [
        "http://h.example/s1.xml", "http://h.example/s2.xml",
    ]

    # poison body: None decodes fine (empty) — force an error via a body
    # the decoder rejects is impossible (decode replaces), so assert the
    # None-body path instead: no rows, no crash
    none_caps = spark.createDataFrame(
        [("http://n.example/s.xml", None)], "url string, body binary"
    )
    assert sitemap_entries(none_caps).collect() == []


def test_sitemap_giant_body_byte_bounded_slicing():
    """Multi-MB sitemap bodies through make_sitemap_iterator with a small
    bound: >=3 output batches, entries equal the pure-python parse."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions.sitemap import make_sitemap_iterator

    unit = "<url><loc>http://g.example/%d</loc></url>"
    bodies = []
    for i in range(6):
        n = (2 << 20) // len(unit % 0) + 1
        bodies.append(
            ("<urlset>" + "".join(unit % (i * 100000 + j) for j in range(n)) + "</urlset>").encode()
        )
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([f"http://g.example/s{i}.xml" for i in range(6)], pa.string()),
            pa.array(bodies, pa.binary()),
        ],
        ["url", "body"],
    )
    out = list(make_sitemap_iterator(max_slice_bytes=4 << 20)(iter([rb])))
    assert len(out) >= 3
    total = sum(b.num_rows for b in out)
    assert total == sum(len(sitemap_entries_py(b.decode())) for b in bodies)


def test_sitemap_unencodable_capture_becomes_error_row():
    """A capture whose <loc> holds a lone surrogate (``&#55296;``, kept
    for parity with the reference's ``chr()``) gives one
    ``UnicodeEncodeError`` error row keyed by its url, not a failed task;
    the rows of the captures around it are unchanged."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions.sitemap import make_sitemap_iterator

    def run(captures):
        rb = pa.RecordBatch.from_arrays(
            [
                pa.array([u for u, _ in captures], pa.string()),
                pa.array([b.encode() for _, b in captures], pa.binary()),
            ],
            ["url", "body"],
        )
        return [
            r for b in make_sitemap_iterator()(iter([rb])) for r in b.to_pylist()
        ]

    bad = ("http://x.example/bad.xml", "<urlset><url><loc>a&#55296;</loc></url></urlset>")
    clean = [("http://a.example/s.xml", URLSET), ("http://h.example/i.xml", INDEX)]
    want = run(clean)
    got = run([clean[0], bad, clean[1]])
    err = [r for r in got if r["src_url"] == bad[0]]
    assert len(err) == 1
    assert err[0]["error"].startswith("UnicodeEncodeError: ")
    assert all(err[0][k] is None for k in err[0] if k not in ("src_url", "error"))
    assert [r for r in got if r["src_url"] != bad[0]] == want
    assert len(want) == 5 and all(r["error"] is None for r in want)
