"""WAT tier (sources/wat.py): one-parse page metadata, the Common Crawl
JSON envelope, the distributed sink, and the reader — plus differential
pins against the reference engine (title/anchor semantics) and the
relational outlinks query (same facts, two execution strategies).
"""

from __future__ import annotations

import glob as _glob
import gzip
import os

from dhtmlparser3_spark.sources.wat import (
    build_wat_record,
    page_metadata,
    parse_wat_envelope,
    read_wat,
    wat_metadata,
    write_wat,
    _envelope_json,
)

SF = "/root/testdata/sf0.001"


# --- pure-python metadata semantics -------------------------------------------


def test_page_metadata_reference_semantics():
    html = (
        "<html><head><title>The <b>Title</b></title></head><body>"
        '<a href="/x">first</a>'
        '<a HREF="/y"><span>nested </span>anchor</a>'
        "<a name=anchor-no-href>skip</a>"
        '<a href="/x">first</a>'  # duplicate kept, document order
        "</body></html>"
    )
    title, links = page_metadata(html)
    assert title == "The Title"  # subtree text, tags stripped
    assert links == [
        ("/x", "first"),
        ("/y", "nested anchor"),  # case-insensitive HREF, subtree anchor
        ("/x", "first"),
    ]
    assert page_metadata("<p>no title no links</p>") == (None, [])


def test_page_metadata_matches_reference_engine():
    """Title/anchor extraction IS the reference's own query surface:
    find('a')/find('title') + content_without_tags must agree with the
    vendored dhtmlparser3 on the corpus fixtures."""
    import sys

    sys.path.insert(0, "/root/reference/src")
    try:
        import dhtmlparser3 as ref
    finally:
        sys.path.pop(0)

    import duckdb

    from dhtmlparser3_spark.sources.pages import TEMPLATES, compile_py

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') "
        "ORDER BY doc_id LIMIT 100"
    ).fetchall()
    for doc_id, text in rows:
        html = compile_py(TEMPLATES[doc_id % 5], doc_id, text)
        dom = ref.parse(html)
        want_title = None
        ts = dom.find("title")
        if ts:
            want_title = ts[0].content_without_tags()
        want_links = [
            (a.parameters["href"], a.content_without_tags())
            for a in dom.find("a")
            if "href" in a.parameters
        ]
        assert page_metadata(html) == (want_title, want_links), doc_id


def test_envelope_roundtrip():
    blob = _envelope_json(
        "http://u/", "2024-01-01T00:00:00Z", "Tītle ✓",
        [{"url": "/a", "text": "x"}, {"url": "/b", "text": ""}],
    )
    title, links = parse_wat_envelope(blob)
    assert title == "Tītle ✓"
    assert links == [
        {"url": "/a", "text": "x"},
        {"url": "/b", "text": ""},
    ]
    # no title → no Head branch, and the parser tolerates its absence
    blob2 = _envelope_json("http://u/", "2024-01-01T00:00:00Z", None, [])
    assert b'"Head"' not in blob2
    assert parse_wat_envelope(blob2) == (None, [])


# --- Spark compute + sink + reader --------------------------------------------


def _meta(spark):
    from dhtmlparser3_spark.sources.pages import build_pages

    return wat_metadata(build_pages(spark, SF))


def test_wat_metadata_matches_relational_outlinks(spark):
    """The one-parse WAT export and the relational node-table outlinks
    query (functions/links.py, subtree anchors) report the SAME link
    facts — two execution strategies, one truth.  (outlinks aggregates
    per (url, a_id): multiset equality per url.)"""
    from collections import Counter

    from dhtmlparser3_spark.functions.links import outlinks
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, SF).limit(120).cache()
    try:
        got = {}
        for r in wat_metadata(pages).collect():
            assert r.error is None
            got[r.url] = Counter((l.url, l.text) for l in r.links)
        want: dict = {}
        for r in outlinks(pages, anchor_mode="subtree").collect():
            want.setdefault(r.url, Counter())[(r.href, r.anchor)] += 1
        assert {u: c for u, c in got.items() if c} == want
    finally:
        pages.unpersist()


def test_wat_metadata_plan_is_map_only(spark):
    plan = (
        _meta(spark)._jdf.queryExecution().executedPlan().toString()
    )
    # build_pages' own round-robin spread is the only allowed exchange
    assert plan.count("Exchange") <= 1, plan


def test_wat_roundtrip(spark, tmp_path):
    dest = str(tmp_path / "wat")
    meta = _meta(spark).cache()
    try:
        want = {
            r.url: (r.title, [(l.url, l.text) for l in r.links], r.warc_ts)
            for r in meta.collect()
        }
        manifest = write_wat(meta, dest).collect()
    finally:
        meta.unpersist()
    assert sum(m.records for m in manifest) == len(want)
    assert not _glob.glob(os.path.join(dest, "*.inprogress"))

    got_rows = read_wat(spark, os.path.join(dest, "*.warc.wat.gz")).collect()
    assert all(r.error is None for r in got_rows)
    got = {
        r.url: (r.title, [(l.url, l.text) for l in r.links], r.wat_ts)
        for r in got_rows
    }
    assert got == want


def test_wat_stream_io_and_determinism(spark, tmp_path):
    """Same input partitioning → byte-identical WAT shards, which the
    reader's path-only scan reads back as identical rows."""
    meta = _meta(spark).cache()
    try:
        d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        write_wat(meta, d1).collect()
        write_wat(meta, d2).collect()
    finally:
        meta.unpersist()
    f1 = sorted(_glob.glob(os.path.join(d1, "*")))
    f2 = sorted(_glob.glob(os.path.join(d2, "*")))
    for a, b in zip(f1, f2):
        assert open(a, "rb").read() == open(b, "rb").read()

    def rows(d):
        return sorted(
            (os.path.basename(r.src_file), r.rec_offset, r.url, r.title,
             r.error)
            for r in read_wat(spark, os.path.join(d, "*.warc.wat.gz")).collect()
        )

    got = rows(d1)
    assert got and all(r[4] is None for r in got)
    assert got == rows(d2)


def test_read_wat_error_policy(spark, tmp_path):
    good = gzip.compress(
        build_wat_record(
            "http://a/", "2024-01-01T00:00:00Z",
            _envelope_json("http://a/", "2024-01-01T00:00:00Z", "T", []),
        ),
        mtime=0,
    )
    bad_json = gzip.compress(
        build_wat_record("http://b/", "2024-01-01T00:00:01Z", b"not json"),
        mtime=0,
    )
    truncated = gzip.compress(b"x", mtime=0)[:-4]
    p = tmp_path / "broken.warc.wat.gz"
    p.write_bytes(good + bad_json + truncated)
    rows = read_wat(spark, str(p)).collect()
    oks = [r for r in rows if r.error is None]
    errs = sorted(r.error for r in rows if r.error is not None)
    assert [(r.url, r.title) for r in oks] == [("http://a/", "T")]
    assert len(errs) == 2
    assert errs[0].startswith("gzip: ")  # truncated member ended the file
    assert errs[1].startswith("wat: ")  # bad envelope continued the scan


def test_read_wat_microsecond_date(spark, tmp_path):
    """A WARC/1.1 microsecond ``WARC-Date`` round-trips into ``wat_ts``
    (the one ``warc_ts`` parser), not NULL."""
    date = "2024-01-02T03:04:05.123456Z"
    p = tmp_path / "us.warc.wat.gz"
    p.write_bytes(gzip.compress(build_wat_record(
        "http://us.example/", date,
        _envelope_json("http://us.example/", date, "T", []),
    ), mtime=0))
    (row,) = read_wat(spark, str(p)).collect()
    assert (row.url, row.title, row.error) == ("http://us.example/", "T", None)
    assert row.wat_ts.isoformat() == "2024-01-02T03:04:05.123456"


def test_wat_giant_docs_byte_bounded_slicing():
    """Multi-MB pages through make_wat_iterator with a small slice bound
    must be processed in MULTIPLE output batches (worker never unboxes
    every page at once) and each batch's metadata must equal the
    pure-python page_metadata on the same html."""
    import pyarrow as pa

    from dhtmlparser3_spark.sources.wat import make_wat_iterator

    unit = '<li><a href="/deep/page">anchor &amp; text</a>' + "z" * 300 + "</li>"
    reps = (2 << 20) // len(unit.encode()) + 1
    htmls = [
        f"<html><head><title>giant {i}</title></head><body><ul>"
        + unit * reps
        + "</ul></body></html>"
        for i in range(6)
    ]
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([f"https://g.example/{i}" for i in range(6)], pa.string()),
            pa.array([None] * 6, pa.timestamp("us")),
            pa.array([h.encode() for h in htmls], pa.binary()),
        ],
        ["url", "warc_ts", "html"],
    )
    out = list(make_wat_iterator(max_slice_bytes=4 << 20)(iter([rb])))
    assert len(out) >= 3, f"expected >=3 byte-bounded slices, got {len(out)}"
    got = []
    for b in out:
        urls = b.column(0).to_pylist()
        titles = b.column(2).to_pylist()
        links = b.column(3).to_pylist()
        errs = b.column(4).to_pylist()
        got.extend(zip(urls, titles, links, errs))
    assert [g[0] for g in got] == [f"https://g.example/{i}" for i in range(6)]
    for i, (_, title, links, err) in enumerate(got):
        want_title, want_links = page_metadata(htmls[i])
        assert err is None
        assert title == want_title == f"giant {i}"
        assert [(l["url"], l["text"]) for l in links] == want_links
        assert len(links) == reps


def test_wat_unencodable_page_becomes_error_row():
    """A page whose title or anchor text holds a lone surrogate (numeric
    entity ``&#55296;``) yields an error row; its neighbours are kept."""
    import pyarrow as pa

    from dhtmlparser3_spark.sources.wat import make_wat_iterator

    htmls = [
        "<title>ok</title><a href=/a>a</a>",
        "<title>t&#55296;</title>",
        "<a href=/b>x&#xDFFF;</a>",
    ]
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([f"u{i}" for i in range(3)], pa.string()),
            pa.array([None] * 3, pa.timestamp("us")),
            pa.array([h.encode() for h in htmls], pa.binary()),
        ],
        ["url", "warc_ts", "html"],
    )
    rows = pa.Table.from_batches(list(make_wat_iterator()(iter([rb])))).to_pylist()
    assert [r["url"] for r in rows] == ["u0", "u1", "u2"]
    assert rows[0]["title"] == "ok" and rows[0]["error"] is None
    assert rows[0]["links"] == [{"url": "/a", "text": "a"}]
    for r in rows[1:]:
        assert r["error"].startswith("UnicodeEncodeError: ")
        assert r["title"] is None and r["links"] is None
