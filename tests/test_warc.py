"""WARC ingest (sources/warc.py): deterministic writer → Spark reader
round-trip, CDX-offset lineage, error policy, and byte-identical flow into
the extract tier.

Reference tie-in: dhtmlparser3 has no I/O beyond parse_file
(dhtmlparser3/__init__.py:14-23); WARC is pipeline scope, but the html
bytes it emits must reach the byte-identical parse → content_str path
unchanged — the last test pins that end-to-end.
"""

from __future__ import annotations

import gzip
import zlib

import pytest

from dhtmlparser3_spark.sources.warc import (
    build_warc_record,
    http_response,
    parse_warc_record,
    read_warc,
    split_gzip_members,
    warc_pages,
    write_warc_gz,
)

DOCS = [
    ("http://a.example/x", "2024-01-02T03:04:05Z", b"<html><p a=1>x &amp; y</p><br></html>"),
    ("http://b.example/y", "2024-06-07T08:09:10Z", "<div>café &lt;3</div>".encode()),
    ("http://c.example/z", "2024-12-31T23:59:59Z", b"<!-- c --><b>bold"),
]


# --- pure-python units -------------------------------------------------------


def test_split_gzip_members_offsets_and_payloads():
    payloads = [b"alpha", b"beta" * 100, b"\x00\xff binary"]
    blob = b""
    starts = []
    for p in payloads:
        starts.append(len(blob))
        blob += gzip.compress(p, mtime=0)
    got = list(split_gzip_members(blob))
    assert [off for off, _ in got] == starts
    assert [data for _, data in got] == payloads


def test_split_gzip_members_truncated_raises():
    blob = gzip.compress(b"ok", mtime=0) + gzip.compress(b"cut", mtime=0)[:-5]
    it = split_gzip_members(blob)
    assert next(it)[1] == b"ok"
    with pytest.raises(zlib.error):
        next(it)


def test_parse_warc_record_roundtrip_and_errors():
    rec = build_warc_record("http://u/", "2024-01-01T00:00:00Z", b"<p>hi</p>")
    wtype, url, date, block = parse_warc_record(rec)
    assert (wtype, url, date) == ("response", "http://u/", "2024-01-01T00:00:00Z")
    assert http_response(block)[1] == b"<p>hi</p>"
    with pytest.raises(ValueError):
        parse_warc_record(b"no terminator at all")
    with pytest.raises(ValueError):
        parse_warc_record(b"HTTP/1.1 200 OK\r\n\r\nbody")  # not a WARC version line
    with pytest.raises(ValueError):
        parse_warc_record(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nx")  # no length
    with pytest.raises(ValueError):
        parse_warc_record(
            b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort"
        )  # block shorter than declared


def test_http_body_non_http_block_passthrough():
    assert http_response(b"raw resource bytes")[1] == b"raw resource bytes"
    assert http_response(b"HTTP/1.1 200 OK\r\nno terminator")[1] == b""


# --- HTTP payload decoding (chunked / content-encoding) ----------------------

ENCODINGS = [
    (None, None),
    (None, "chunked"),
    ("gzip", None),
    ("gzip", "chunked"),
    ("deflate", None),
    ("deflate-raw", None),  # raw-deflate bytes under a `deflate` header
    ("deflate", "chunked"),
]

# content codings sent as one header LINE each, in the order applied
# (RFC 9110 §5.3: repeated lines are one comma-joined list)
REPEATED_CODINGS = [
    # gzip'd twice: must decode twice
    pytest.param(("gzip", "gzip"), None, id="gzip-line-gzip-line"),
    # gzip undone first, then br has no codec: an error, not br bytes
    pytest.param(
        ("br", "gzip"), "unsupported coding 'br'", id="br-line-gzip-line"
    ),
]


def _repeated_coding_block(html: bytes, codings) -> bytes:
    body = html
    for c in codings:  # br has no codec here: left verbatim under its line
        body = gzip.compress(body, mtime=0) if c == "gzip" else body
    lines = b"".join(b"Content-Encoding: %s\r\n" % c.encode() for c in codings)
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + lines
        + b"\r\n" + body
    )


@pytest.mark.parametrize("ce,te", ENCODINGS + REPEATED_CODINGS)
def test_http_body_decodes_encoded_payloads(ce, te):
    """Every wire encoding a CC capture realistically carries decodes back
    to the exact original payload — the byte-identity precondition.  A
    coding repeated over several header lines is decoded once per line
    (never passed on half-decoded), and an undecodable coding among them
    raises (the record loop's ``http:`` error row)."""
    html = "<div id=a>café &amp; x</div>".encode() * 9
    if isinstance(ce, tuple):
        block = _repeated_coding_block(html, ce)
        if te is None:
            assert http_response(block)[1] == html
        else:
            with pytest.raises(ValueError, match=te):
                http_response(block)
        return
    rec = build_warc_record(
        "http://e/", "2024-01-01T00:00:00Z", html,
        content_encoding=ce, transfer_encoding=te,
    )
    wtype, url, date, block = parse_warc_record(rec)
    assert wtype == "response"
    assert http_response(block)[1] == html
    if te == "chunked":  # chunked responses carry no Content-Length
        head = block.split(b"\r\n\r\n", 1)[0].lower()
        assert b"content-length" not in head
        assert b"transfer-encoding: chunked" in head


def test_http_body_chunked_lenient_lf_and_extensions():
    from dhtmlparser3_spark.sources.warc import _chunked_body, _dechunk

    html = b"0123456789abcdef" * 5
    body = _chunked_body(html, 7)
    # bare-LF endings (sloppy server) and chunk extensions both tolerated
    assert _dechunk(body.replace(b"\r\n", b"\n")) == html
    ext = body.replace(b"7\r\n", b"7;name=val\r\n", 1)
    assert _dechunk(ext) == html


def test_http_body_undecodable_raises():
    # br: header present, no codec in this environment
    rec = build_warc_record(
        "http://b/", "2024-01-01T00:00:00Z", b"<p>x</p>",
        content_encoding="br",
    )
    block = parse_warc_record(rec)[3]
    with pytest.raises(ValueError, match="unsupported coding 'br'"):
        http_response(block)
    # corrupt gzip payload under a gzip header
    with pytest.raises(ValueError, match="gzip payload"):
        http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnot gzip"
        )
    # malformed chunk framing
    with pytest.raises(ValueError, match="chunked"):
        http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nzz\r\nx"
        )


def test_read_warc_decodes_and_errors_encoded_records(spark, tmp_path):
    """Spark-side: encoded records decode byte-identically; an undecodable
    record yields an `http:` error row that KEEPS url/date (so it stays
    lineage-addressable), html NULL."""
    path = str(tmp_path / "enc.warc.gz")
    recs = [
        ("http://ok.example/id", "2024-01-01T00:00:01Z", b"<p>plain</p>"),
        ("http://ok.example/ch", "2024-01-01T00:00:02Z",
         b"<div>chunky</div>" * 40, None, "chunked"),
        ("http://ok.example/gz", "2024-01-01T00:00:03Z",
         "<b>gzip café</b>".encode() * 30, "gzip"),
        ("http://ok.example/gzch", "2024-01-01T00:00:04Z",
         b"<i>both</i>" * 25, "gzip", "chunked"),
        ("http://ok.example/df", "2024-01-01T00:00:05Z",
         b"<u>deflate</u>" * 20, "deflate-raw"),
        ("http://bad.example/br", "2024-01-01T00:00:06Z",
         b"<p>brotli</p>", "br"),
    ]
    write_warc_gz(recs, path)
    rows = {r.url: r for r in read_warc(spark, path).collect()}
    assert len(rows) == len(recs)
    for rec in recs:
        url, _date, html = rec[0], rec[1], rec[2]
        r = rows[url]
        if url.startswith("http://bad."):
            assert r.error == "http: unsupported coding 'br'"
            assert r.html is None
            assert r.warc_ts is not None  # lineage-addressable error row
        else:
            assert r.error is None
            assert bytes(r.html) == html

    # and the random-access path shares the decode (same records by offset)
    from dhtmlparser3_spark.sources.warc import read_warc_at

    idx = spark.createDataFrame(
        [(r.src_file, r.rec_offset) for r in rows.values()],
        "src_file string, rec_offset bigint",
    )
    refetched = {r.url: r for r in read_warc_at(idx).collect()}
    for url, r in rows.items():
        r2 = refetched[url]
        assert (r2.html is None) == (r.html is None)
        if r.html is not None:
            assert bytes(r2.html) == bytes(r.html)
        assert (r2.error or "").split(":")[0] == (r.error or "").split(":")[0]


def test_warc_encoded_to_extract_byte_identical(spark, tmp_path, ref):
    """North star through the wire codings: chunked+gzipped captures →
    warc_pages → extract is byte-identical to the reference parse."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages

    path = str(tmp_path / "enc2e.warc.gz")
    encs = [(None, None), ("gzip", "chunked"), ("deflate", None)]
    recs = [
        (u, d, h, *encs[i]) for i, (u, d, h) in enumerate(DOCS)
    ]
    write_warc_gz(recs, path)
    out = extract_pages(
        warc_pages(spark, path), parallelism=4, with_metrics=False
    )
    got = {
        r.url: r.extracted_text
        for r in out.select("url", "extracted_text").collect()
    }
    for url, _date, html in DOCS:
        assert got[url] == ref.parse(html.decode()).content_str()


def test_warc_date_fractional_seconds(spark, tmp_path):
    """WARC/1.1 fractional-second dates parse (ms + µs); a malformed date
    yields NULL warc_ts without failing the task (try_to_timestamp)."""
    path = str(tmp_path / "ts.warc.gz")
    write_warc_gz(
        [
            ("http://t/s", "2026-01-01T00:00:00Z", b"<p>s</p>"),
            ("http://t/ms", "2026-01-01T00:00:00.123Z", b"<p>ms</p>"),
            ("http://t/us", "2026-01-01T00:00:00.123456Z", b"<p>us</p>"),
            ("http://t/bad", "not-a-date", b"<p>bad</p>"),
        ],
        path,
    )
    rows = {r.url: r for r in read_warc(spark, path).collect()}
    assert rows["http://t/s"].warc_ts.isoformat() == "2026-01-01T00:00:00"
    assert rows["http://t/ms"].warc_ts.isoformat() == (
        "2026-01-01T00:00:00.123000"
    )
    assert rows["http://t/us"].warc_ts.isoformat() == (
        "2026-01-01T00:00:00.123456"
    )
    bad = rows["http://t/bad"]
    assert bad.warc_ts is None and bad.error is None  # html still usable
    assert bytes(bad.html) == b"<p>bad</p>"


# --- Spark round-trip --------------------------------------------------------


def test_read_warc_roundtrip_offsets_and_bytes(spark, tmp_path):
    path = str(tmp_path / "a.warc.gz")
    # a warcinfo member FIRST, like real CC files lead with
    info = build_warc_record("", "2024-01-01T00:00:00Z", b"robots: x", "warcinfo")
    offsets = write_warc_gz(DOCS, path, extra_members=[gzip.compress(info, mtime=0)])
    # writer returns one offset per member: 3 responses + 1 extra
    assert len(offsets) == 4 and offsets[0] == 0

    rows = read_warc(spark, path).orderBy("rec_offset").collect()
    # warcinfo skipped (not data loss: every WARC consumer's contract)
    assert len(rows) == len(DOCS)
    for r, (url, date, html), off in zip(rows, DOCS, offsets):
        assert r.error is None
        assert r.url == url
        assert bytes(r.html) == html  # byte-identical payload
        assert r.rec_offset == off  # CDX-replayable lineage key
        assert r.src_file.endswith("a.warc.gz")
        # session is UTC-pinned; WARC-Date is Zulu
        assert r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ") == date


def test_read_warc_error_rows(spark, tmp_path):
    path = str(tmp_path / "bad.warc.gz")
    bad_rec = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nmissing length"
    write_warc_gz(
        DOCS[:1],
        path,
        extra_members=[
            gzip.compress(bad_rec, mtime=0),  # parses as gzip, fails as WARC
            gzip.compress(b"tail", mtime=0)[:-4],  # corrupt member: ends the file
            gzip.compress(build_warc_record(*DOCS[1]), mtime=0),  # unreachable
        ],
    )
    rows = read_warc(spark, path).orderBy("rec_offset").collect()
    errs = [r for r in rows if r.error is not None]
    ok = [r for r in rows if r.error is None]
    # corrupt gzip ends THIS file's scan: the record after it is not read
    assert [r.url for r in ok] == [DOCS[0][0]]
    assert sorted(e.error.split(":")[0] for e in errs) == ["gzip", "warc"]
    gz = next(e for e in errs if e.error.startswith("gzip"))
    assert gz.rec_offset == -1 and gz.html is None


def test_warc_pages_shape_and_glob(spark, tmp_path):
    # two files + a glob: binaryFile gives one task per file at scale
    write_warc_gz(DOCS[:2], str(tmp_path / "s1.warc.gz"))
    write_warc_gz(DOCS[2:], str(tmp_path / "s2.warc.gz"))
    pages = warc_pages(spark, str(tmp_path / "*.warc.gz"))
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    assert dict(pages.dtypes)["html"] == "binary"
    got = {r.url: bytes(r.html) for r in pages.collect()}
    assert got == {u: h for (u, _d, h) in DOCS}


def test_warc_to_extract_byte_identical(spark, tmp_path, ref):
    """End-to-end: .warc.gz → warc_pages → extract_pages is byte-identical
    per url to the reference's parse → content_str on the same html."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages

    path = str(tmp_path / "e2e.warc.gz")
    write_warc_gz(DOCS, path)
    out = extract_pages(
        warc_pages(spark, path), parallelism=4, with_metrics=False
    )
    got = {
        r.url: r.extracted_text
        for r in out.select("url", "extracted_text").collect()
    }
    for url, _date, html in DOCS:
        assert got[url] == ref.parse(html.decode()).content_str()


def test_write_warc_gz_deterministic(tmp_path):
    p1, p2 = str(tmp_path / "d1.warc.gz"), str(tmp_path / "d2.warc.gz")
    assert write_warc_gz(DOCS, p1) == write_warc_gz(DOCS, p2)
    assert open(p1, "rb").read() == open(p2, "rb").read()


def test_record_batches_byte_bounded(tmp_path, monkeypatch):
    """The decode worker cuts its Arrow batches by html BYTES as well as
    rows: ~300 KB bodies (far fewer than ``batch_rows``) come out in >=2
    batches, each within the worker slice or a single row, whose rows
    equal a run with the byte bound lifted.  No Spark."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions import extract as fx
    from dhtmlparser3_spark.sources.warc import (
        _OUT_TYPES,
        _response_row,
        _scan_iterator,
    )

    unit = b"<p>big &amp; body</p>"
    docs = [
        (f"http://big.example/{i}", "2024-01-01T00:00:00Z",
         b"<html>" + unit * (300_000 // len(unit)) + b"</html>")
        for i in range(8)
    ]
    path = str(tmp_path / "big.warc.gz")
    write_warc_gz(docs, path)
    rb = pa.RecordBatch.from_pydict({"path": [path]})

    def run():
        it = _scan_iterator("response", _response_row, _OUT_TYPES, 2048)
        return list(it(iter([rb])))

    bounded = run()
    monkeypatch.setattr(fx, "_WORKER_BATCH_BYTES", 1 << 40)
    whole = run()
    assert len(whole) == 1
    assert len(bounded) >= 2, f"expected >=2 byte-bounded batches, got {len(bounded)}"
    for b in bounded:
        html_bytes = sum(len(h) for h in b.column("html").to_pylist())
        assert b.num_rows == 1 or html_bytes <= 1 << 20, html_bytes
    rows = pa.Table.from_batches(bounded).to_pylist()
    assert rows == pa.Table.from_batches(whole).to_pylist()
    assert [r["url"] for r in rows] == [u for u, _, _ in docs]
    assert [r["html"] for r in rows] == [h for _, _, h in docs]


def test_ranged_record_batches_byte_bounded(tmp_path, monkeypatch):
    """The ranged reader (``read_warc_at``) cuts its Arrow batches by html
    bytes as well as rows: ~300 KB bodies fetched by offset come out in
    >=2 batches, each within the worker slice or a single row, whose rows
    equal a run with the byte bound lifted.  No Spark."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions import extract as fx
    from dhtmlparser3_spark.sources.warc import _fetch_iterator

    unit = b"<p>big &amp; body</p>"
    docs = [
        (f"http://big.example/{i}", "2024-01-01T00:00:00Z",
         b"<html>" + unit * (300_000 // len(unit)) + b"</html>")
        for i in range(8)
    ]
    path = str(tmp_path / "big.warc.gz")
    offsets = write_warc_gz(docs, path)
    rb = pa.RecordBatch.from_pydict(
        {"src_file": [path] * len(offsets), "rec_offset": offsets}
    )

    def run():
        return list(_fetch_iterator(2048)(iter([rb])))

    bounded = run()
    monkeypatch.setattr(fx, "_WORKER_BATCH_BYTES", 1 << 40)
    whole = run()
    assert len(whole) == 1
    assert len(bounded) >= 2, f"expected >=2 byte-bounded batches, got {len(bounded)}"
    for b in bounded:
        html_bytes = sum(len(h) for h in b.column("html").to_pylist())
        assert b.num_rows == 1 or html_bytes <= 1 << 20, html_bytes
    rows = pa.Table.from_batches(bounded).to_pylist()
    assert rows == pa.Table.from_batches(whole).to_pylist()
    assert [(r["url"], r["html"], r["error"]) for r in rows] == [
        (u, h, None) for u, _, h in docs
    ]


def test_fetch_null_index_fields_become_error_rows(tmp_path):
    """An index row with a NULL ``src_file`` or ``rec_offset`` becomes one
    ``fetch:`` error row keyed by what the row has; the rows around it
    are fetched as usual.  No Spark."""
    import pyarrow as pa

    from dhtmlparser3_spark.sources.warc import _fetch_iterator

    docs = [
        (f"http://null.example/{i}", "2024-01-01T00:00:00Z", f"<p>{i}</p>".encode())
        for i in range(2)
    ]
    path = str(tmp_path / "null.warc.gz")
    offsets = write_warc_gz(docs, path)
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([path, None, path, path], pa.string()),
            pa.array([offsets[0], offsets[1], None, offsets[1]], pa.int64()),
        ],
        ["src_file", "rec_offset"],
    )
    rows = pa.Table.from_batches(
        list(_fetch_iterator(2048)(iter([rb])))
    ).to_pylist()
    assert [r["url"] for r in rows] == [docs[0][0], None, None, docs[1][0]]
    assert [r["html"] for r in (rows[0], rows[3])] == [docs[0][2], docs[1][2]]
    assert rows[0]["error"] is None and rows[3]["error"] is None
    assert (rows[1]["src_file"], rows[1]["rec_offset"]) == (None, offsets[1])
    assert (rows[2]["src_file"], rows[2]["rec_offset"]) == (path, None)
    for r in rows[1:3]:
        assert r["error"].startswith("fetch: "), r


def test_synthesize_warc_corpus_matches_build_pages(spark, tmp_path):
    """The WARC rendering of the pages corpus carries byte-identical html
    per url to the Spark-codegen build_pages construction, through all
    five rotating wire encodings; the per-shard br records become error
    rows and are filtered without losing neighbors; warcinfo leads skip."""
    from dhtmlparser3_spark.sources.pages import build_pages
    from dhtmlparser3_spark.sources.warc import (
        read_warc,
        synthesize_warc_corpus,
    )

    sf = "/root/testdata/sf0.001"
    paths = synthesize_warc_corpus(sf, str(tmp_path / "corpus"), shards=4)
    assert len(paths) == 4
    glob = str(tmp_path / "corpus" / "*.warc.gz")

    want = {
        r.url: (bytes(r.html), r.warc_ts)
        for r in build_pages(spark, sf).select("url", "html", "warc_ts").collect()
    }
    raw = read_warc(spark, glob).collect()
    errs = [r for r in raw if r.error is not None]
    probes = [
        r for r in raw
        if r.error is None and r.url.startswith("https://charset.example/")
    ]
    ok = [
        r for r in raw
        if r.error is None and not r.url.startswith("https://charset.example/")
    ]
    # one br record per shard, each a lineage-addressable http error row
    assert len(errs) == 4
    assert all(e.error == "http: unsupported coding 'br'" for e in errs)
    assert all(e.url.startswith("https://bad.example/br/") for e in errs)
    # all eight charset probes present, transcoded to valid utf-8
    assert len(probes) == 8
    for p in probes:
        bytes(p.html).decode("utf-8")  # strict — transcode produced utf-8
    got = {r.url: (bytes(r.html), r.warc_ts) for r in ok}
    assert got == want  # byte-identical html AND timestamps, every url


# --- CDX random access (read_warc_at) ----------------------------------------


def test_read_warc_at_fetches_exact_records(spark, tmp_path):
    from dhtmlparser3_spark.sources.warc import read_warc_at

    p1, p2 = str(tmp_path / "r1.warc.gz"), str(tmp_path / "r2.warc.gz")
    off1 = write_warc_gz(DOCS[:2], p1)
    off2 = write_warc_gz(DOCS[2:], p2)
    # lineage-style index: a SUBSET across two files, deliberately unsorted
    idx = spark.createDataFrame(
        [(p2, off2[0]), (p1, off1[1])], "src_file string, rec_offset bigint"
    )
    rows = {r.url: r for r in read_warc_at(idx).collect()}
    want = {DOCS[2][0]: DOCS[2], DOCS[1][0]: DOCS[1]}
    assert set(rows) == set(want)
    for url, (u, date, html) in want.items():
        r = rows[url]
        assert r.error is None
        assert bytes(r.html) == html
        assert r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ") == date


def test_read_warc_at_matches_full_scan(spark, tmp_path):
    """Resume contract: replaying the full (src_file, rec_offset) lineage
    through random access reproduces the sequential scan byte-for-byte."""
    from dhtmlparser3_spark.sources.warc import read_warc_at

    path = str(tmp_path / "all.warc.gz")
    write_warc_gz(DOCS, path)
    full = read_warc(spark, path)
    idx = full.select("src_file", "rec_offset")
    refetched = read_warc_at(idx).orderBy("rec_offset").collect()
    scanned = full.orderBy("rec_offset").collect()
    assert [(r.url, bytes(r.html), r.warc_ts) for r in refetched] == [
        (r.url, bytes(r.html), r.warc_ts) for r in scanned
    ]


def test_read_warc_at_error_rows(spark, tmp_path):
    import os

    from dhtmlparser3_spark.sources.warc import read_warc_at

    path = str(tmp_path / "err.warc.gz")
    info = build_warc_record("", "2024-01-01T00:00:00Z", b"x", "warcinfo")
    offs = write_warc_gz(DOCS[:1], path, extra_members=[
        gzip.compress(info, mtime=0)])
    size = os.path.getsize(path)
    idx = spark.createDataFrame(
        [
            (path, offs[0]),            # good
            (path, offs[1]),            # warcinfo: not a response
            (path, 7),                  # mid-member garbage offset
            (path, size),               # end of file: no record there
            (str(tmp_path / "gone.warc.gz"), 0),  # missing file
        ],
        "src_file string, rec_offset bigint",
    )
    rows = read_warc_at(idx).collect()
    assert len(rows) == 5
    by_key = {(r.src_file, r.rec_offset): r for r in rows}
    assert by_key[(path, offs[0])].error is None
    assert "not a response" in by_key[(path, offs[1])].error
    assert by_key[(path, 7)].error.startswith("fetch:")
    assert by_key[(path, size)].error == f"fetch: no record at offset {size}"
    assert by_key[(str(tmp_path / "gone.warc.gz"), 0)].error.startswith(
        "fetch:"
    )


def test_warc_lineage_resume_composition(spark, tmp_path):
    """North-star composition: WARC ingest feeds the checkpointed extract
    job; a simulated mid-job kill resumes idempotently and verify_run
    confirms every bucket's digest."""
    from dhtmlparser3_spark.pipeline.lineage import run_extract_job, verify_run

    warc = str(tmp_path / "in.warc.gz")
    # enough urls to populate several of the 8 buckets
    docs = [
        (f"http://h{i}.example/p", "2024-03-04T05:06:07Z",
         f"<div id=d{i}>doc {i} &amp; more</div>".encode())
        for i in range(40)
    ]
    write_warc_gz(docs, warc)
    pages = warc_pages(spark, warc)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")

    with pytest.raises(RuntimeError, match="simulated kill"):
        run_extract_job(
            spark, pages, out, lin, n_buckets=8,
            input_path=warc, fail_after_buckets=3,
        )
    res = run_extract_job(spark, pages, out, lin, n_buckets=8, input_path=warc)
    assert res["skipped"] == 3 and res["processed"] == 5

    # verify_run returns ONLY buckets whose re-read count/digest mismatch
    assert verify_run(spark, out, lin).collect() == []
    got = spark.read.parquet(out)
    assert got.count() == len(docs)
    # lineage rows carry the WARC file as input_path — CDX-replayable
    lrows = spark.read.parquet(lin).select("input_path").distinct().collect()
    assert [r.input_path for r in lrows] == [warc]


def test_http_decode_roundtrip_property():
    """Hypothesis: for ARBITRARY payload bytes, any supported wire coding
    composition round-trips byte-identically through build → parse →
    http_response — the decode layer can never alter the bytes entering
    parse()."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        payload=st.binary(min_size=0, max_size=2048),
        ce=st.sampled_from([None, "gzip", "deflate", "deflate-raw"]),
        te=st.sampled_from([None, "chunked"]),
        chunk=st.integers(min_value=1, max_value=97),
    )
    def check(payload, ce, te, chunk):
        rec = build_warc_record(
            "http://fuzz/", "2024-01-01T00:00:00Z", payload,
            content_encoding=ce, transfer_encoding=te, chunk_size=chunk,
        )
        wtype, _u, _d, block = parse_warc_record(rec)
        assert wtype == "response"
        assert http_response(block)[1] == payload

    check()


# --- streaming ingest (read_warc_stream) --------------------------------------


def test_warc_stream_ingest_exactly_once(spark, tmp_path, ref):
    """Streaming ingest composition: shards ARRIVING in a directory →
    warc_pages_stream → the streaming extract plan → parquet file sink
    with checkpoint.  Run 1 processes shard 1; shard 2 (the OTHER layout,
    with wire encodings) arrives; run 2 with the same checkpoint
    processes ONLY shard 2 — exactly-once across restarts, byte-identical
    to the reference parse per url."""
    import os

    from dhtmlparser3_spark.sources.warc import (
        warc_pages_stream,
        write_warc_plain,
    )
    from dhtmlparser3_spark.streaming.stream_extract import extract_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    os.makedirs(in_dir)

    batch1 = [(u, d, h, "gzip", None) for (u, d, h) in DOCS[:2]]
    batch2 = [(DOCS[2][0], DOCS[2][1], DOCS[2][2], None, "chunked")]
    write_warc_gz(batch1, os.path.join(in_dir, "s1.warc.gz"))

    def run_once():
        pages = warc_pages_stream(spark, in_dir)
        q = (
            extract_stream(pages)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got1 = {
        r.url: r.extracted_text
        for r in spark.read.parquet(out_dir).collect()
    }
    assert set(got1) == {u for (u, _d, _h) in DOCS[:2]}

    # second shard arrives — uncompressed layout, chunked payload
    write_warc_plain(batch2, os.path.join(in_dir, "s2.warc"))
    run_once()
    got2 = spark.read.parquet(out_dir).collect()
    # exactly-once: 3 rows total, not 5 (shard 1 not reprocessed)
    assert len(got2) == 3
    for url, _date, html in DOCS:
        row = next(r for r in got2 if r.url == url)
        assert row.extracted_text == ref.parse(html.decode()).content_str()
        assert row.error is None


# --- uncompressed .warc layout ------------------------------------------------


def test_read_warc_plain_matches_gz(spark, tmp_path):
    """The same records through both layouts (uncompressed .warc = wget/
    warcio default, per-record-gzip .warc.gz = Common Crawl) yield the
    same decoded rows, in the same one-glob read; offsets key each
    layout's own random-access scheme."""
    from dhtmlparser3_spark.sources.warc import (
        read_warc_at,
        write_warc_plain,
    )

    recs = [
        (u, d, h, *enc)
        for (u, d, h), enc in zip(
            DOCS, [(None, None), ("gzip", "chunked"), ("deflate", None)]
        )
    ]
    plain = str(tmp_path / "a.warc")
    gz = str(tmp_path / "b.warc.gz")
    p_offs = write_warc_plain(recs, plain)
    write_warc_gz(recs, gz)

    def rows(df):
        return sorted(
            (r.url, bytes(r.html), r.warc_ts, r.error) for r in df.collect()
        )

    got_plain = rows(read_warc(spark, plain))
    assert got_plain == rows(read_warc(spark, gz))
    assert all(e is None for (_u, _h, _t, e) in got_plain)
    # mixed-layout glob reads both files in one scan
    assert len(read_warc(spark, str(tmp_path / "*.warc*")).collect()) == 6

    # plain-mode random access: offsets are record starts
    idx = spark.createDataFrame(
        [(plain, o) for o in p_offs], "src_file string, rec_offset bigint"
    )
    fetched = rows(read_warc_at(idx))
    assert fetched == got_plain


def test_read_warc_plain_error_policy(spark, tmp_path):
    """Plain-mode boundaries come from Content-Length, so a malformed
    header ends THAT file's scan with one warc: error row; records before
    it survive."""
    from dhtmlparser3_spark.sources.warc import write_warc_plain

    path = str(tmp_path / "bad.warc")
    write_warc_plain(DOCS[:2], path)
    with open(path, "ab") as f:
        f.write(b"GARBAGE not a warc header\r\n\r\nmore bytes")
    rows = read_warc(spark, path).orderBy("rec_offset").collect()
    ok = [r for r in rows if r.error is None]
    errs = [r for r in rows if r.error is not None]
    assert [r.url for r in ok] == [u for (u, _d, _h) in DOCS[:2]]
    assert len(errs) == 1
    assert errs[0].error.startswith("warc:") and "scan ended" in errs[0].error


# --- CDX index format (the published random-access contract) -----------------


def test_parse_cdx_line_roundtrip_and_junk():
    from dhtmlparser3_spark.sources.warc import cdx_line, parse_cdx_line

    line = cdx_line(
        "https://www.example.com/a/b?q=1", "20240102030405",
        "crawl/seg/file-00001.warc.gz", 4567, 890,
    )
    # urlkey is SURT-ish: reversed host, path, query
    assert line.startswith("com,example,www)/a/b?q=1 20240102030405 {")
    rec = parse_cdx_line(line)
    assert rec == {
        "url": "https://www.example.com/a/b?q=1",
        "timestamp": "20240102030405",
        "filename": "crawl/seg/file-00001.warc.gz",
        "offset": 4567,
        "length": 890,
    }
    # junk lines skip, never raise
    for junk in ("", "  ", "no-json here", 'key 2024 {"url": "x"}',
                 'key 2024 {"url":"x","filename":"f","offset":"NaN","length":"1"}'):
        assert parse_cdx_line(junk) is None


def test_read_cdx_drives_read_warc_at(spark, tmp_path):
    """The PUBLISHED index format drives random access: write a shard +
    its CDXJ index (offsets from the writer, lengths from offset deltas),
    parse the index back with read_cdx, fetch via read_warc_at — rows
    byte-match the sequential scan."""
    import os

    from dhtmlparser3_spark.sources.warc import (
        cdx_line, read_cdx, read_warc_at,
    )

    shard = str(tmp_path / "cc-idx.warc.gz")
    offs = write_warc_gz(DOCS, shard)
    ends = offs[1:] + [os.path.getsize(shard)]
    cdx_path = str(tmp_path / "cc-idx.cdx")
    with open(cdx_path, "w") as f:
        f.write("malformed leading line\n")  # read_cdx must skip junk
        for (url, date, _html), off, end in zip(DOCS, offs, ends):
            ts14 = date.replace("-", "").replace(":", "").replace("T", "")
            ts14 = ts14.replace("Z", "")
            f.write(cdx_line(url, ts14, shard, off, end - off) + "\n")

    idx = read_cdx(spark, cdx_path)
    assert {
        (r.src_file, r.rec_offset, r.rec_length > 0) for r in idx.collect()
    } == {(shard, off, True) for off in offs}
    fetched = read_warc_at(idx.select("src_file", "rec_offset"))
    scanned = read_warc(spark, shard)
    key = lambda r: (r.url, bytes(r.html), r.warc_ts)
    assert sorted(map(key, fetched.collect())) == sorted(
        map(key, scanned.collect())
    )


# --- structural fuzz: the error policy under arbitrary corruption ------------


def test_warc_structural_fuzz_error_policy(spark, tmp_path):
    """Seeded structural corruption over multi-record shards (truncation,
    byte flips, garbage spliced between members, re-gzipped records with
    broken WARC headers), all replayed through the full Spark reader in
    ONE glob read.  Invariants, whatever the corruption: the scan never
    fails a task; every clean row decodes byte-identically to its source
    document; members strictly before the first corrupted member are
    always present; error rows carry only the documented prefixes; a
    corrupt member ends only ITS file's scan.  The CDX indexer runs over
    the same shards under the same invariants (headers only, so no
    ``http:`` rows), with the writer's offsets on the early members."""
    from dhtmlparser3_spark.sources.warc import index_warc

    import gzip as _gz
    import random

    docs = [
        (f"http://h{i}.example/p{i}", "2024-05-06T07:08:09Z",
         f"<div id=d{i}>text {i} &amp; tail</div>".encode() * (1 + i % 3),
         [None, "gzip", None, "deflate", None][i % 5],
         [None, None, "chunked", None, None][i % 5])
        for i in range(6)
    ]
    clean = str(tmp_path / "clean.warc.gz")
    offsets = write_warc_gz(docs, clean)
    blob = open(clean, "rb").read()
    want_html = {u: h for (u, _d, h, _ce, _te) in docs}

    def member_index(pos: int) -> int:
        """Index of the member whose byte range contains pos."""
        return max(
            next((j for j, off in enumerate(offsets) if off > pos),
                 len(offsets)) - 1,
            0,
        )

    rng = random.Random(20260819)
    n_files = 24
    # per file: (must_have: member idxs always present+clean,
    #            warc_error_expected: bool)
    expect = {}
    for i in range(n_files):
        mode = ["truncate", "flip", "splice", "warcbad"][i % 4]
        b = bytearray(blob)
        warc_err = False
        if mode == "truncate":
            cut = rng.randrange(1, len(b))
            b = b[:cut]
            must_have = [j for j, off in enumerate(offsets) if
                         (offsets[j + 1] if j + 1 < len(offsets) else
                          len(blob)) <= cut]
        elif mode == "flip":
            pos = rng.randrange(len(b))
            b[pos] ^= 0xFF
            must_have = list(range(member_index(pos)))
        elif mode == "splice":
            at = rng.randrange(1, len(offsets))
            b = b[: offsets[at]] + bytes([0x13, 0x37] * 8) + b[offsets[at]:]
            must_have = list(range(at))
        else:  # warcbad: valid gzip member, broken WARC header inside
            at = rng.randrange(len(offsets))
            lo = offsets[at]
            hi = offsets[at + 1] if at + 1 < len(offsets) else len(blob)
            bad_rec = _gz.compress(
                b"WARC/1.0\r\nWARC-Type: response\r\n\r\nno length", mtime=0
            )
            b = b[:lo] + bad_rec + b[hi:]
            # warc-header errors do NOT end the scan: everything else stays
            must_have = [j for j in range(len(offsets)) if j != at]
            warc_err = True
        p = str(tmp_path / f"fuzz-{i:02d}.warc.gz")
        open(p, "wb").write(bytes(b))
        expect[f"fuzz-{i:02d}.warc.gz"] = (must_have, warc_err)

    rows = read_warc(spark, str(tmp_path / "fuzz-*.warc.gz")).collect()
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r.src_file.rsplit("/", 1)[-1], []).append(r)
    for fname, (must_have, warc_err) in expect.items():
        rs = by_file.get(fname, [])
        ok = [r for r in rs if r.error is None]
        errs = [r for r in rs if r.error is not None]
        # every clean row decodes byte-identically to its source doc
        for r in ok:
            assert bytes(r.html) == want_html[r.url], fname
        clean_urls = {r.url for r in ok}
        for j in must_have:
            assert docs[j][0] in clean_urls, (fname, j, sorted(clean_urls))
        for r in errs:
            assert r.error.split(":")[0] in ("gzip", "warc", "http"), r.error
        if warc_err:
            assert any(r.error.startswith("warc:") for r in errs), fname

    idx_rows = index_warc(spark, str(tmp_path / "fuzz-*.warc.gz")).collect()
    idx_by_file: dict = {}
    for r in idx_rows:
        idx_by_file.setdefault(r.src_file.rsplit("/", 1)[-1], []).append(r)
    for fname, (must_have, warc_err) in expect.items():
        rs = idx_by_file.get(fname, [])
        indexed = {r.url: r.rec_offset for r in rs if r.error is None}
        first_bad = min(set(range(len(offsets))) - set(must_have))
        for j in must_have:
            assert docs[j][0] in indexed, (fname, j, sorted(indexed))
            if j < first_bad:  # bytes before the corruption are unmoved
                assert indexed[docs[j][0]] == offsets[j], (fname, j)
        for r in rs:
            if r.error is not None:
                assert r.error.split(":")[0] in ("gzip", "warc"), r.error
        if warc_err:
            assert any(
                r.error is not None and r.error.startswith("warc:") for r in rs
            ), fname


# --- the one byte transport: path-only scan, incremental decompress ----------


def test_stream_gzip_members_matches_split(tmp_path):
    """Incremental decompress == whole-buffer split: same offsets, same
    payloads, exercised with a tiny read chunk so members span many reads
    and member boundaries land mid-buffer; the extents tile the blob."""
    import io

    from dhtmlparser3_spark.sources.warc import stream_gzip_extents

    payloads = [b"a" * 5000, b"b", b"", b"mixed \x00\xff" * 300]
    blob = b"".join(gzip.compress(p, mtime=0) for p in payloads)
    want = list(split_gzip_members(blob))
    got = list(stream_gzip_extents(io.BytesIO(blob), chunk_bytes=7))
    assert [(off, raw) for off, _n, raw in got] == want
    assert [off + n for off, n, _raw in got] == [
        off for off, _raw in want[1:]
    ] + [len(blob)]


def test_stream_gzip_members_truncated_raises(tmp_path):
    import io

    from dhtmlparser3_spark.sources.warc import stream_gzip_extents

    blob = gzip.compress(b"ok", mtime=0) + gzip.compress(b"cut", mtime=0)[:-3]
    it = stream_gzip_extents(io.BytesIO(blob), chunk_bytes=5)
    assert next(it)[2] == b"ok"
    with pytest.raises(zlib.error):
        list(it)


def _scan_columns(plan) -> set:
    """Output column names of a physical plan's leaves (the scan nodes):
    a PROPERTY of the plan, not its rendered string (which changes
    across Spark versions)."""
    leaves = plan.collectLeaves()
    cols = set()
    for i in range(leaves.size()):
        out = leaves.apply(i).output()
        cols |= {out.apply(j).name() for j in range(out.size())}
    return cols


def test_read_warc_stream_parity(spark, tmp_path):
    """The streaming source gives the batch reader's rows — clean files
    AND the error-policy file (a corrupt member ends the file's scan in
    both, via the one member loop) — and every WARC-layout reader, batch
    or streaming, scans only the ``path`` column of its file listing:
    shard bytes never cross the JVM, each worker opens its shards."""
    from dhtmlparser3_spark.sources.warc import (
        index_warc,
        read_warc_revisits,
        read_warc_stream,
    )
    from dhtmlparser3_spark.sources.wat import read_wat
    from dhtmlparser3_spark.sources.wet import read_wet

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    clean = str(in_dir / "c.warc.gz")
    write_warc_gz(DOCS, clean)
    write_warc_gz(
        DOCS[:1],
        str(in_dir / "b.warc.gz"),
        extra_members=[
            gzip.compress(
                b"WARC/1.0\r\nWARC-Type: response\r\n\r\nx", mtime=0
            ),
            gzip.compress(b"tail", mtime=0)[:-4],
        ],
    )

    def rows(df):
        return sorted(
            (
                r.src_file,
                r.rec_offset,
                r.url,
                r.warc_ts,
                bytes(r.html) if r.html is not None else None,
                r.error,
            )
            for r in df.collect()
        )

    q = (
        read_warc_stream(spark, str(in_dir))
        .writeStream.format("memory")
        .queryName("warc_stream_parity")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        streamed = rows(spark.table("warc_stream_parity"))
        stream_plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    finally:
        q.stop()
    want = rows(read_warc(spark, str(in_dir / "*.warc.gz")))
    assert streamed == want
    assert sum(1 for r in want if r[5] is not None) == 2  # warc: + gzip:

    assert "content" not in _scan_columns(stream_plan)
    for read in (read_warc, read_warc_revisits, index_warc, read_wet, read_wat):
        plan = read(spark, clean)._jdf.queryExecution().executedPlan()
        cols = _scan_columns(plan)
        assert "path" in cols and "content" not in cols, read.__name__


def test_read_warc_refuses_non_local_paths(spark):
    """Workers open() the listed shards, so a path with another URI scheme
    is refused on the driver with a ValueError before any Spark job runs
    (instead of one ``gzip:`` error row per file)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    with pytest.raises(ValueError, match="only local paths"):
        read_warc(spark, "hdfs://nn/x/*.warc.gz")
    assert set(tracker.getJobIdsForGroup()) <= before


# --- charset detection + transcode (the decode half of the wire) -------------


def test_detect_charset_precedence_and_labels():
    """BOM > HTTP charset param > meta prescan > utf-8 default, with the
    WHATWG label remaps (iso-8859-1 IS windows-1252 on the web, shift_jis
    IS cp932, gb2312 IS gbk, euc-kr IS cp949)."""
    from dhtmlparser3_spark.sources.warc import detect_charset

    assert detect_charset(b"\xef\xbb\xbf<p>x</p>") == ("utf-8", "bom")
    assert detect_charset("x".encode("utf-16")) == ("utf-16", "bom")
    assert detect_charset(
        b"<p>x</p>", b"text/html; charset=ISO-8859-1"
    ) == ("cp1252", "http")
    assert detect_charset(
        b'<meta charset="Shift_JIS"><p>x</p>'
    ) == ("cp932", "meta")
    assert detect_charset(
        b'<meta http-equiv=Content-Type content="text/html; charset=gb2312">'
    ) == ("gbk", "meta")
    assert detect_charset(b"<p>x</p>", b"text/html; charset=EUC-KR") == (
        "cp949", "http",
    )
    assert detect_charset(b"<p>plain</p>") == ("utf-8", "default")
    # precedence: a BOM overrides a (wrong) header; a header overrides meta
    assert detect_charset(
        b"\xef\xbb\xbf<meta charset=latin1>", b"text/html; charset=gbk"
    ) == ("utf-8", "bom")
    assert detect_charset(
        b"<meta charset=latin1>", b"text/html; charset=gbk"
    ) == ("gbk", "http")
    # bogus label falls through to the next source, then default
    assert detect_charset(
        b"<p>x</p>", b"text/html; charset=bogus-x"
    ) == ("utf-8", "default")
    # a meta declaration PAST the 1024-byte prescan window is not seen
    far = b"<p>" + b"x" * 1100 + b'</p><meta charset="gbk">'
    assert detect_charset(far) == ("utf-8", "default")


def test_transcode_utf8_passthrough_and_replacement():
    from dhtmlparser3_spark.sources.warc import transcode_utf8

    raw = "<p>café</p>".encode()
    out, label = transcode_utf8(raw, b"text/html; charset=utf-8")
    assert out is raw and label == "utf-8:http"  # zero-copy fast path
    # utf-8 BOM bytes stay EXACTLY as captured (the reference's own
    # BOM-strip quirk, dom.py len>3, must see them downstream)
    bom = b"\xef\xbb\xbf<p>x</p>"
    out, label = transcode_utf8(bom)
    assert out is bom and label == "utf-8:bom"
    # windows-1252 curly quotes become real utf-8
    w = "<p>“quoted” café</p>".encode("windows-1252")
    out, label = transcode_utf8(w, b"text/html; charset=iso-8859-1")
    assert out.decode() == "<p>“quoted” café</p>"
    assert label == "cp1252:http"
    # a stray undecodable byte is replaced, never an exception
    out, label = transcode_utf8(
        b"<p>ok \x81\x39 broken</p>", b"text/html; charset=Shift_JIS"
    )
    assert label == "cp932:http" and "�" in out.decode()


def test_read_warc_transcodes_charsets_end_to_end(spark, tmp_path, ref):
    """Wire→parse correctness for non-UTF-8 captures: declared-charset
    payloads (HTTP param, meta prescan, utf-16 BOM — stacked under gzip /
    chunked codings) come out of read_warc as UTF-8 bytes whose extract is
    byte-identical to the reference parsing the properly decoded text."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages

    texts = {
        "http://cp1252.example/": "<p>“smart” café &amp; co</p>",
        "http://sjis.example/": "<div>日本語 <b>x</b></div>",
        "http://gbk.example/": '<meta charset="gb2312"><p>中文</p>',
        "http://u16.example/": "<p>русский</p>",
        "http://plain.example/": "<p>ascii only</p>",
    }
    recs = [
        ("http://cp1252.example/", "2024-01-01T00:00:01Z",
         texts["http://cp1252.example/"].encode("windows-1252"),
         "gzip", None, "ISO-8859-1"),
        ("http://sjis.example/", "2024-01-01T00:00:02Z",
         texts["http://sjis.example/"].encode("cp932"),
         None, "chunked", "Shift_JIS"),
        # meta-declared: no HTTP charset param at all
        ("http://gbk.example/", "2024-01-01T00:00:03Z",
         texts["http://gbk.example/"].encode("gbk")),
        # BOM-declared utf-16 (python's utf-16 codec emits the BOM)
        ("http://u16.example/", "2024-01-01T00:00:04Z",
         texts["http://u16.example/"].encode("utf-16")),
        ("http://plain.example/", "2024-01-01T00:00:05Z",
         texts["http://plain.example/"].encode()),
    ]
    path = str(tmp_path / "charset.warc.gz")
    write_warc_gz(recs, path)

    rows = {r.url: r for r in read_warc(spark, path).collect()}
    assert rows["http://cp1252.example/"].charset == "cp1252:http"
    assert rows["http://sjis.example/"].charset == "cp932:http"
    assert rows["http://gbk.example/"].charset == "gbk:meta"
    assert rows["http://u16.example/"].charset == "utf-16:bom"
    assert rows["http://plain.example/"].charset == "utf-8:default"
    for url, text in texts.items():
        assert bytes(rows[url].html).decode("utf-8") == text

    # the random-access path shares the transcode
    from dhtmlparser3_spark.sources.warc import read_warc_at

    idx = spark.createDataFrame(
        [(r.src_file, r.rec_offset) for r in rows.values()],
        "src_file string, rec_offset bigint",
    )
    for r in read_warc_at(idx).collect():
        assert bytes(r.html).decode("utf-8") == texts[r.url]
        assert r.charset == rows[r.url].charset

    # north star: extract over the transcoded pages is byte-identical to
    # the reference parsing the decoded text
    out = extract_pages(
        warc_pages(spark, path), parallelism=2, with_metrics=False
    )
    got = {
        r.url: r.extracted_text
        for r in out.select("url", "extracted_text").collect()
    }
    for url, text in texts.items():
        assert got[url] == ref.parse(text).content_str()


def test_charset_probes_match_reference(spark, tmp_path):
    """The CHARSET_PROBES expected constants ARE the vendored reference's
    content_str of the pipeline-decoded payloads (differential, per
    declaration mode), and the full Spark path — synthesized shards →
    read_warc → charset transcode → extract — reproduces them byte-exactly.
    Probe 5 pins the reference's mojibake-only BOM-strip quirk
    (parser.py:26-28 strips the CHARS '\\xef\\xbb\\xbf', never '\\ufeff'):
    a real utf-8 BOM survives as leading text and content_str serializes
    the whole multi-child root, <html> wrapper included."""
    import dhtmlparser3 as ref

    from dhtmlparser3_spark.functions.extract import decode_html
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages
    from dhtmlparser3_spark.sources.warc import (
        CHARSET_PROBES,
        charset_probe_expected,
        charset_probe_records,
        read_warc,
        warc_pages,
        write_warc_gz,
    )

    # (1) constants vs the reference, straight through parse_warc_record +
    # http_response + transcode (the exact worker decode path)
    import gzip as _gz

    path = str(tmp_path / "probes.warc.gz")
    write_warc_gz(
        [], path,
        extra_members=[
            _gz.compress(rec, mtime=0) for _url, rec in charset_probe_records()
        ],
    )
    rows = {r.url: r for r in read_warc(spark, path).collect()}
    assert len(rows) == len(CHARSET_PROBES)
    expected = dict(charset_probe_expected())
    for url, exp in expected.items():
        decoded = decode_html(bytes(rows[url].html))
        assert ref.parse(decoded).content_str() == exp, url
    # declared sources resolved as designed (http / meta / bom / fallback)
    srcs = {u: rows[u].charset for u in expected}
    assert srcs["https://charset.example/p0.html"] == "cp1252:http"
    assert srcs["https://charset.example/p1.html"] == "cp932:http"
    assert srcs["https://charset.example/p2.html"] == "gbk:http"
    assert srcs["https://charset.example/p3.html"] == "cp949:http"
    assert srcs["https://charset.example/p4.html"] == "cp1252:meta"
    assert srcs["https://charset.example/p5.html"] == "utf-8:bom"
    assert srcs["https://charset.example/p6.html"] == "utf-16:bom"
    assert srcs["https://charset.example/p7.html"] == "utf-8:default"

    # (2) end-to-end through the product extraction operator
    out = extract_pages(
        warc_pages(spark, path), parallelism=2, with_metrics=False
    )
    got = {
        r.url: r.extracted_text
        for r in out.select("url", "extracted_text").collect()
    }
    assert got == expected


def test_transcode_utf8_property():
    """Hypothesis over ARBITRARY payload bytes × ARBITRARY declared labels:
    transcode never raises; when the resolved codec is utf-8 the payload
    passes through as the SAME object (zero copy — downstream decode owns
    replacement); for every other codec the output decodes as STRICT utf-8
    (the 'html column is always utf-8' contract) and equals the local
    decode-replace/re-encode model; the charset column value always names
    a real codec and one of the four sources."""
    import codecs as _codecs

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dhtmlparser3_spark.sources.warc import transcode_utf8

    labels = st.sampled_from(
        [None, b"utf-8", b"ISO-8859-1", b"latin1", b"Shift_JIS", b"gb2312",
         b"EUC-KR", b"big5", b"utf-16", b"utf-16le", b"windows-874",
         b"x-bogus-enc", b"charset", b"''", b"\xff\xfe"]
    )

    @settings(max_examples=250, deadline=None)
    @given(payload=st.binary(min_size=0, max_size=512), label=labels)
    def check(payload, label):
        ct = None if label is None else b"text/html; charset=" + label
        out, tag = transcode_utf8(payload, ct)
        codec, _, source = tag.partition(":")
        assert source in ("bom", "http", "meta", "default")
        assert _codecs.lookup(codec)  # always a real codec name
        if codec == "utf-8":
            assert out is payload  # zero-copy, bytes reach parse untouched
        else:
            # strict: the html column contract is valid utf-8, always
            text = out.decode("utf-8")
            assert text == payload.decode(codec, errors="replace")
        # idempotence of the edge: a second pass with NO declaration sees
        # utf-8 (bom or default) and must not rewrite the bytes — except a
        # payload that ITSELF begins with a utf-16 BOM, which a second pass
        # would legitimately re-route through the BOM branch
        if not out.startswith((b"\xff\xfe", b"\xfe\xff")):
            out2, _tag2 = transcode_utf8(out)
            assert out2 is out

    check()


# --- CDX index generation (index_warc / write_cdx) ---------------------------


def test_index_warc_exact_extents(spark, tmp_path):
    """index_warc publishes each response record's exact on-disk byte
    extent: offsets equal the writer's member offsets, extents tile the
    file exactly (offset[k] + length[k] == offset[k+1], last member ends
    at EOF)."""
    import os as _os

    from dhtmlparser3_spark.sources.warc import index_warc

    path = str(tmp_path / "a.warc.gz")
    info = build_warc_record("", "2024-01-01T00:00:00Z", b"x", "warcinfo")
    offsets = write_warc_gz(
        DOCS, path, extra_members=[gzip.compress(info, mtime=0)]
    )
    size = _os.path.getsize(path)
    # every member's extent, derived from the writer's own offsets
    want_extent = {
        off: (offsets + [size])[i + 1] - off for i, off in enumerate(offsets)
    }

    rows = index_warc(spark, path).orderBy("rec_offset").collect()
    assert [r.error for r in rows] == [None] * len(DOCS)  # warcinfo skipped
    assert [r.url for r in rows] == [d[0] for d in DOCS]
    assert [r.warc_date for r in rows] == [d[1] for d in DOCS]
    for r in rows:
        assert r.rec_length == want_extent[r.rec_offset]


def test_index_warc_plain_layout_extents(spark, tmp_path):
    """Uncompressed .warc: the published extent is the record's byte
    length WITHOUT the CRLFCRLF inter-record trailer — exactly the bytes
    read_warc_at's plain fetch reads (header + Content-Length) — and
    offset+length+trailer lands on the next record's offset."""
    from dhtmlparser3_spark.sources.warc import index_warc

    recs = [build_warc_record(u, d, h) for u, d, h in DOCS]
    p = tmp_path / "plain.warc"
    p.write_bytes(b"".join(recs))
    rows = index_warc(spark, str(p)).orderBy("rec_offset").collect()
    assert [r.error for r in rows] == [None] * len(DOCS)
    pos = 0
    for r, rec in zip(rows, recs):
        assert rec.endswith(b"\r\n\r\n")
        assert (r.rec_offset, r.rec_length) == (pos, len(rec) - 4)
        pos += len(rec)


def test_index_warc_error_policy(spark, tmp_path):
    """A truncated member yields one error row and ends THAT file's scan;
    intact records before it are still indexed; cdx_lines drops the
    error row (no fetchable extent)."""
    from dhtmlparser3_spark.sources.warc import cdx_lines, index_warc

    good = gzip.compress(build_warc_record(*DOCS[0]), mtime=0)
    truncated = gzip.compress(build_warc_record(*DOCS[1]), mtime=0)[:-6]
    p = tmp_path / "broken.warc.gz"
    p.write_bytes(good + truncated)
    idx = index_warc(spark, str(p))
    rows = idx.collect()
    oks = [r for r in rows if r.error is None]
    errs = [r for r in rows if r.error is not None]
    assert [(r.rec_offset, r.rec_length, r.url) for r in oks] == [
        (0, len(good), DOCS[0][0])
    ]
    assert len(errs) == 1 and errs[0].error.startswith("gzip: ")
    lines = cdx_lines(idx, shards=1).collect()
    assert len(lines) == 1 and DOCS[0][0] in lines[0].line


def test_cdx_lines_microsecond_warc_date(spark, tmp_path):
    """A WARC/1.1 microsecond ``WARC-Date`` keeps its capture time in the
    CDX line (the one ``warc_ts`` parser), not the 1970 fallback."""
    from dhtmlparser3_spark.sources.warc import cdx_lines, index_warc

    path = str(tmp_path / "us.warc.gz")
    write_warc_gz(
        [("http://us.example/p", "2024-01-02T03:04:05.123456Z", b"<p>u</p>")],
        path,
    )
    lines = cdx_lines(index_warc(spark, path), shards=1).collect()
    assert [r.line.split(" ")[1] for r in lines] == ["20240102030405"]


def test_write_cdx_roundtrip_sorted_fetchable(spark, tmp_path):
    """The full index loop: shards → index_warc → write_cdx →
    (1) shard files in name order concatenate to one globally-sorted
    key sequence, (2) read_cdx recovers every (filename, offset, length)
    triple byte-for-byte, (3) read_warc_at over the read-back index
    fetches html byte-identical to the full scan."""
    import glob as _glob

    from dhtmlparser3_spark.sources.warc import (
        index_warc, parse_cdx_line, read_cdx, read_warc_at, surt_key,
        write_cdx,
    )

    docs = [
        (f"http://{h}.example/p{i}?q={i}", "2024-03-04T05:06:07Z",
         f"<p>doc {h}{i}</p>".encode())
        for i, h in enumerate(
            ["zz", "aa", "mm", "aa", "zz", "bb", "sub.aa", "mm"]
        )
    ]
    for shard in range(2):
        write_warc_gz(
            docs[shard::2], str(tmp_path / f"s{shard}.warc.gz")
        )
    glob = str(tmp_path / "*.warc.gz")
    idx = index_warc(spark, glob)
    dest = str(tmp_path / "cdx")
    write_cdx(idx, dest, shards=3)

    # (1) global sort order across shard files in name order
    lines = []
    for f in sorted(_glob.glob(dest + "/part-*.txt.gz")):
        lines += gzip.decompress(open(f, "rb").read()).decode().splitlines()
    assert len(lines) == len(docs)
    keys = [l.split(" ", 1)[0] for l in lines]
    assert keys == sorted(keys)
    assert keys == sorted(surt_key(u) for u, _, _ in docs)

    # (2) read_cdx recovers the exact triples index_warc published
    got = {
        (r.src_file, r.rec_offset, r.rec_length)
        for r in read_cdx(spark, dest + "/*.txt.gz").collect()
    }
    want = {
        (r.src_file, r.rec_offset, r.rec_length)
        for r in idx.where("error IS NULL").collect()
    }
    assert got == want
    # ts14 round-trips through parse_cdx_line
    rec = parse_cdx_line(lines[0])
    assert rec is not None and rec["timestamp"] == "20240304050607"

    # (3) the read-back index drives byte-identical random access
    fetched = {
        r.url: bytes(r.html)
        for r in read_warc_at(read_cdx(spark, dest + "/*.txt.gz")).collect()
        if r.error is None
    }
    scanned = {
        r.url: bytes(r.html)
        for r in read_warc(spark, glob).collect()
        if r.error is None
    }
    assert fetched == scanned == {u: h for u, _, h in docs}


# --- HTTP status column + warc_pages status policy ---------------------------


def test_http_response_status_codes():
    from dhtmlparser3_spark.sources.warc import http_response

    ok = build_warc_record("http://u/", "2024-01-01T00:00:00Z", b"<p>x</p>")
    _, _, _, block = parse_warc_record(ok)
    assert http_response(block)[0] == 200
    nf = build_warc_record(
        "http://u/404", "2024-01-01T00:00:00Z", b"<h1>gone</h1>",
        status=404, reason="Not Found",
    )
    _, _, _, block = parse_warc_record(nf)
    status, body, _, _ = http_response(block)
    assert (status, body) == (404, b"<h1>gone</h1>")
    # status decodes UNDER wire codings too
    mv = build_warc_record(
        "http://u/301", "2024-01-01T00:00:00Z", b"<a>moved</a>",
        status=301, reason="Moved Permanently",
        content_encoding="gzip", transfer_encoding="chunked",
    )
    _, _, _, block = parse_warc_record(mv)
    assert http_response(block) == (301, b"<a>moved</a>", b"text/html", None)
    # lenient: malformed status line → None status, body still decoded
    assert http_response(b"HTTP/1.1 weird\r\nX: y\r\n\r\nbody") == (
        None, b"body", None, None,
    )
    # non-HTTP block: None status, verbatim pass-through
    assert http_response(b"raw resource bytes") == (
        None, b"raw resource bytes", None, None,
    )


def test_warc_pages_status_policy(spark, tmp_path):
    """read_warc surfaces every capture's status; warc_pages defaults to
    the CC WET rule (200s + non-HTTP NULL-status captures only)."""
    recs = [
        build_warc_record(
            "http://ok.example/", "2024-01-01T00:00:00Z", b"<p>page</p>"
        ),
        build_warc_record(
            "http://gone.example/", "2024-01-01T00:00:01Z",
            b"<h1>404</h1>", status=404, reason="Not Found",
        ),
        build_warc_record(
            "http://moved.example/", "2024-01-01T00:00:02Z",
            b"<a>here</a>", status=301, reason="Moved Permanently",
        ),
        build_warc_record(
            "http://err.example/", "2024-01-01T00:00:03Z",
            b"<h1>boom</h1>", status=500, reason="Internal Server Error",
        ),
    ]
    # a response record whose block is NOT an HTTP message (raw resource
    # capture): status must be NULL and the bytes pass through verbatim
    raw_block = b"<p>raw capture</p>"
    raw_rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://raw.example/\r\n"
        b"WARC-Date: 2024-01-01T00:00:04Z\r\n"
        b"Content-Length: %d\r\n\r\n" % len(raw_block)
    ) + raw_block + b"\r\n\r\n"
    path = str(tmp_path / "status.warc.gz")
    write_warc_gz([], path, extra_members=recs + [raw_rec])

    rows = {r.url: r for r in read_warc(spark, path).collect()}
    assert {u: rows[u].http_status for u in rows} == {
        "http://ok.example/": 200,
        "http://gone.example/": 404,
        "http://moved.example/": 301,
        "http://err.example/": 500,
        "http://raw.example/": None,
    }
    # every capture decodes regardless of status (read_warc keeps all)
    assert bytes(rows["http://gone.example/"].html) == b"<h1>404</h1>"
    assert bytes(rows["http://raw.example/"].html) == raw_block

    # default policy: 200 + NULL-status only
    kept = {r.url for r in warc_pages(spark, path).collect()}
    assert kept == {"http://ok.example/", "http://raw.example/"}
    # custom allow-list admits the redirect capture
    kept301 = {
        r.url for r in warc_pages(spark, path, statuses=(200, 301)).collect()
    }
    assert kept301 == kept | {"http://moved.example/"}
    # statuses=None restores keep-everything
    all_kept = {r.url for r in warc_pages(spark, path, statuses=None).collect()}
    assert all_kept == set(rows)


# --- redirect_to + truncated columns ------------------------------------------


def test_resolve_redirect_reference_resolution():
    from dhtmlparser3_spark.sources.warc import resolve_redirect

    base = "http://a.example/dir/page?x=1"
    # absolute target passes through
    assert (
        resolve_redirect(base, b"https://b.example/p") == "https://b.example/p"
    )
    # relative forms resolve per RFC 3986
    assert resolve_redirect(base, b"other") == "http://a.example/dir/other"
    assert resolve_redirect(base, b"/root") == "http://a.example/root"
    assert resolve_redirect(base, b"../up") == "http://a.example/up"
    # protocol-relative (common on real servers)
    assert resolve_redirect(base, b"//c.example/q") == "http://c.example/q"
    # None / empty header → None
    assert resolve_redirect(base, None) is None
    assert resolve_redirect(base, b"  ") is None


def test_read_warc_redirects_and_truncated(spark, tmp_path):
    """3xx Location surfaces resolved in redirect_to; WARC-Truncated
    surfaces its reason; both NULL on plain 200 captures.  Identical
    through the scan AND random-access paths."""
    from dhtmlparser3_spark.sources.warc import read_warc_at

    recs = [
        build_warc_record(
            "http://ok.example/a", "2024-01-01T00:00:00Z", b"<p>fine</p>"
        ),
        # relative Location must resolve against the capture url
        build_warc_record(
            "http://mv.example/dir/old", "2024-01-01T00:00:01Z", b"",
            status=301, reason="Moved Permanently", location="../new",
        ),
        # absolute Location, 302, UNDER wire codings
        build_warc_record(
            "http://tmp.example/x", "2024-01-01T00:00:02Z", b"<a>see</a>",
            status=302, reason="Found", location="https://cdn.example/x",
            content_encoding="gzip", transfer_encoding="chunked",
        ),
        # a 200 with a (nonsensical but legal) Location header: surfaced,
        # but redirect_candidates must NOT treat it as a redirect
        build_warc_record(
            "http://odd.example/", "2024-01-01T00:00:03Z", b"<p>odd</p>",
            status=200, location="http://elsewhere.example/",
        ),
        # crawler cut this body short
        build_warc_record(
            "http://cut.example/", "2024-01-01T00:00:04Z", b"<p>part",
            truncated="length",
        ),
    ]
    path = str(tmp_path / "redir.warc.gz")
    write_warc_gz([], path, extra_members=recs)

    df = read_warc(spark, path)
    rows = {r.url: r for r in df.collect()}
    assert {u: rows[u].redirect_to for u in rows} == {
        "http://ok.example/a": None,
        "http://mv.example/dir/old": "http://mv.example/new",
        "http://tmp.example/x": "https://cdn.example/x",
        "http://odd.example/": "http://elsewhere.example/",
        "http://cut.example/": None,
    }
    assert {u: rows[u].truncated for u in rows} == {
        "http://ok.example/a": None,
        "http://mv.example/dir/old": None,
        "http://tmp.example/x": None,
        "http://odd.example/": None,
        "http://cut.example/": "length",
    }
    # truncated bodies still decode (the flag is the signal, not a drop)
    assert bytes(rows["http://cut.example/"].html) == b"<p>part"

    # random-access path carries the same columns
    idx = df.select("src_file", "rec_offset")
    fetched = {r.url: r for r in read_warc_at(idx).collect()}
    assert {
        u: (fetched[u].redirect_to, fetched[u].truncated) for u in fetched
    } == {u: (rows[u].redirect_to, rows[u].truncated) for u in rows}


def test_frontier_redirect_discovery(spark, tmp_path):
    """Redirect targets feed the crawl frontier: discovered urls pass
    canonical dedup (against sitemap spellings too), robots compliance,
    and the crawled anti-join."""
    from dhtmlparser3_spark.pipeline.frontier import (
        crawl_frontier,
        redirect_candidates,
    )

    recs = [
        # advertises a url the sitemap ALSO advertises (different spelling)
        build_warc_record(
            "http://a.example/from1", "2024-01-01T00:00:00Z", b"",
            status=301, reason="Moved", location="http://a.example:80/new1",
        ),
        # brand-new discovery
        build_warc_record(
            "http://a.example/from2", "2024-01-01T00:00:01Z", b"",
            status=302, reason="Found", location="http://a.example/fresh",
        ),
        # robots-disallowed target must drop
        build_warc_record(
            "http://a.example/from3", "2024-01-01T00:00:02Z", b"",
            status=301, reason="Moved", location="http://a.example/private/p",
        ),
        # already-crawled target must drop
        build_warc_record(
            "http://a.example/from4", "2024-01-01T00:00:03Z", b"",
            status=307, reason="Temporary", location="http://a.example/have",
        ),
        # 200 with Location: NOT a redirect, must not enter the frontier
        build_warc_record(
            "http://a.example/from5", "2024-01-01T00:00:04Z", b"<p>x</p>",
            status=200, location="http://a.example/not-a-redirect",
        ),
    ]
    path = str(tmp_path / "hops.warc.gz")
    write_warc_gz([], path, extra_members=recs)
    captures = read_warc(spark, path)

    cands = {
        (r.url, r.src_url) for r in redirect_candidates(captures).collect()
    }
    assert cands == {
        ("http://a.example:80/new1", "http://a.example/from1"),
        ("http://a.example/fresh", "http://a.example/from2"),
        ("http://a.example/private/p", "http://a.example/from3"),
        ("http://a.example/have", "http://a.example/from4"),
    }

    sitemap = spark.createDataFrame(
        [(
            "http://a.example/sitemap.xml",
            b"<urlset><url><loc>http://a.example/new1</loc></url></urlset>",
        )],
        "url string, body binary",
    )
    robots = spark.createDataFrame(
        [(
            "http://a.example/robots.txt",
            b"User-agent: *\nDisallow: /private/\n",
        )],
        "url string, body binary",
    )
    crawled = spark.createDataFrame(
        [("http://a.example/have?utm_source=x",)], "url string"
    )
    rows = {
        r.canonical_url: r
        for r in crawl_frontier(
            sitemap,
            robots_captures=robots,
            crawled=crawled,
            redirect_captures=captures,
        ).collect()
    }
    assert set(rows) == {"http://a.example/new1", "http://a.example/fresh"}
    # both spellings of new1 collapsed; the redirect spelling + source win
    # lexically ('http://a.example/new1' > 'http://a.example:80/new1'? no:
    # ':' (0x3a) < '/' (0x2f) is false — '/' 0x2f < ':' 0x3a, so the
    # sitemap spelling sorts first) — pin whichever is lexically smallest
    keep = rows["http://a.example/new1"]
    assert keep.url == min("http://a.example/new1", "http://a.example:80/new1")
    assert rows["http://a.example/fresh"].src_url == "http://a.example/from2"


# --- revisit records ----------------------------------------------------------


def test_read_warc_revisits(spark, tmp_path):
    """revisit records (the archive's own dedup markers) surface with
    their back-references; read_warc skips them; the error policy
    matches the response loop."""
    from dhtmlparser3_spark.sources.warc import (
        read_warc_revisits,
        revisit_counts,
    )

    digest = "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ"
    recs = [
        build_warc_record(
            "http://a.example/page", "2024-01-01T00:00:00Z", b"<p>orig</p>",
            payload_digest=digest,
        ),
        build_warc_record(
            "http://a.example/page", "2024-02-01T00:00:00Z", b"",
            warc_type="revisit",
            refers_to_url="http://a.example/page",
            refers_to_date="2024-01-01T00:00:00Z",
            payload_digest=digest,
        ),
        build_warc_record(
            "http://a.example/page", "2024-03-01T00:00:00.250Z", b"",
            warc_type="revisit",
            refers_to_url="http://a.example/page",
            refers_to_date="2024-01-01T00:00:00Z",
            payload_digest=digest,
        ),
        build_warc_record(
            "http://b.example/other", "2024-02-02T00:00:00Z", b"",
            warc_type="revisit",
            refers_to_url="http://b.example/other",
            refers_to_date="2024-01-15T00:00:00Z",
            payload_digest="sha1:OTHERDIGESTOTHERDIGESTOTHERDIGEST",
        ),
    ]
    path = str(tmp_path / "revisit.warc.gz")
    write_warc_gz([], path, extra_members=recs)

    rv = read_warc_revisits(spark, path)
    rows = rv.collect()
    assert all(r.error is None for r in rows)
    assert len(rows) == 3  # the response record is NOT a revisit row
    a = [r for r in rows if r.url == "http://a.example/page"]
    assert len(a) == 2
    assert {r.refers_to_url for r in a} == {"http://a.example/page"}
    assert {r.payload_digest for r in a} == {digest}
    assert all(
        r.profile.endswith("identical-payload-digest") for r in rows
    )
    assert all(r.refers_to_ts is not None for r in rows)
    # fractional-second revisit date parsed, not nulled
    assert all(r.warc_ts is not None for r in rows)

    # response reader still sees exactly the one response record
    resp = read_warc(spark, path).collect()
    assert [r.url for r in resp] == ["http://a.example/page"]

    # dedup credit aggregation
    credit = {
        r.refers_to_url: r for r in revisit_counts(rv).collect()
    }
    assert credit["http://a.example/page"].n_revisits == 2
    assert credit["http://b.example/other"].n_revisits == 1
    ap = credit["http://a.example/page"]
    assert str(ap.first_ts) < str(ap.last_ts)


def test_read_warc_revisits_error_policy(spark, tmp_path):
    """Corrupt member → one error row then end-this-file, matching the
    response loop's policy."""
    from dhtmlparser3_spark.sources.warc import read_warc_revisits

    good = build_warc_record(
        "http://a.example/x", "2024-01-01T00:00:00Z", b"",
        warc_type="revisit", refers_to_url="http://a.example/x",
        refers_to_date="2023-12-01T00:00:00Z",
        payload_digest="sha1:AAAA",
    )
    import gzip as _gz

    blob = _gz.compress(good, mtime=0) + b"\x1f\x8b\x08garbage-not-gzip"
    path = str(tmp_path / "bad.warc.gz")
    with open(path, "wb") as f:
        f.write(blob)
    rows = read_warc_revisits(spark, path).collect()
    assert len(rows) == 2
    ok = [r for r in rows if r.error is None]
    bad = [r for r in rows if r.error is not None]
    assert len(ok) == 1 and ok[0].url == "http://a.example/x"
    assert len(bad) == 1 and bad[0].error.startswith("gzip:")


# --- distributed WARC sink ----------------------------------------------------


def test_write_warc_roundtrip(spark, tmp_path):
    """Curated captures → write_warc shards → read_warc returns the same
    (url, warc_ts, html) set byte-identically; error rows skip; empty
    partitions publish no shard; manifest counts match."""
    import datetime as dt

    from dhtmlparser3_spark.sources.warc import read_warc, write_warc

    rows = [
        ("http://a.example/1", dt.datetime(2024, 1, 1, 0, 0, 0),
         "<p>uno &amp; one</p>".encode()),
        ("http://a.example/2", dt.datetime(2024, 2, 2, 2, 2, 2),
         "<div>café</div>".encode()),
        ("http://b.example/3", dt.datetime(2024, 3, 3, 3, 3, 3),
         b"<!-- c --><b>bold"),
        ("http://err.example/x", dt.datetime(2024, 4, 4), None),  # skips
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    ).repartition(3)
    dest = str(tmp_path / "republish")
    manifest = write_warc(df, dest).collect()

    assert sum(m.records for m in manifest) == 3
    import os

    for m in manifest:
        assert os.path.getsize(m.path) == m.bytes
        assert m.path.endswith(".warc.gz")

    back = read_warc(spark, dest + "/*.warc.gz").collect()
    assert all(r.error is None for r in back)
    got = {(r.url, str(r.warc_ts), bytes(r.html)) for r in back}
    want = {
        (u, str(ts), h) for u, ts, h in rows if h is not None
    }
    assert got == want
    # identity-encoded 200s: status surfaced, no redirect/truncation
    assert {r.http_status for r in back} == {200}
    assert all(r.redirect_to is None and r.truncated is None for r in back)


def test_write_warc_empty_partition_publishes_nothing(spark, tmp_path):
    from dhtmlparser3_spark.sources.warc import write_warc

    df = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary"
    ).repartition(4)
    dest = str(tmp_path / "empty")
    manifest = write_warc(df, dest).collect()
    assert manifest == []
    import glob

    assert glob.glob(dest + "/*.warc.gz") == []


def test_crawl_health_per_host(spark, tmp_path):
    """Status classes, raw captures, decode errors, and truncations
    tally per host; shard-level errors land under an empty host."""
    from dhtmlparser3_spark.sources.warc import crawl_health

    recs = [
        build_warc_record("http://a.example/1", "2024-01-01T00:00:00Z",
                          b"<p>ok</p>"),
        build_warc_record("http://a.example/2", "2024-01-01T00:00:01Z",
                          b"<p>ok2</p>", truncated="length"),
        build_warc_record("http://a.example/3", "2024-01-01T00:00:02Z", b"",
                          status=301, reason="Moved", location="/x"),
        build_warc_record("http://a.example/4", "2024-01-01T00:00:03Z",
                          b"x", status=404, reason="Not Found"),
        build_warc_record("http://b.example/5", "2024-01-01T00:00:04Z",
                          b"y", status=503, reason="Unavailable"),
        # undecodable content-encoding → error row for b.example
        build_warc_record("http://b.example/6", "2024-01-01T00:00:05Z",
                          b"z", content_encoding="br"),
    ]
    path = str(tmp_path / "health.warc.gz")
    write_warc_gz([], path, extra_members=recs)
    got = {
        r.host: r for r in crawl_health(read_warc(spark, path)).collect()
    }
    a, b = got["a.example"], got["b.example"]
    assert (a.n_captures, a.n_ok, a.n_redirect, a.n_client_err,
            a.n_server_err, a.n_raw, a.n_errors, a.n_truncated) == (
        4, 2, 1, 1, 0, 0, 0, 1
    )
    assert (b.n_captures, b.n_ok, b.n_server_err, b.n_errors) == (
        2, 0, 1, 1
    )
