"""WET tier (sources/wet.py): the extraction pipeline's output in Common
Crawl's own format — distributed sink round-trip, byte identity vs the
extract output, determinism, atomicity, plan shape, and error policy.

Reference tie-in: the text each conversion record carries is the
byte-identical dhtmlparser3 extraction the north star pins
(functions/extract.py); the WET container is pipeline scope on top.
"""

from __future__ import annotations

import glob as _glob
import gzip
import os

import pytest

from dhtmlparser3_spark.sources.warc import read_warc, write_warc_gz
from dhtmlparser3_spark.sources.wet import (
    build_wet_record,
    read_wet,
    write_wet,
)

SF = "/root/testdata/sf0.001"


def _extracted(spark, parallelism=4):
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, SF)
    return extract_pages(
        pages, parallelism=parallelism, with_metrics=False
    ).select("url", "warc_ts", "extracted_text")


# --- pure-python record format -----------------------------------------------


def test_build_wet_record_parses_as_warc():
    from dhtmlparser3_spark.sources.warc import parse_warc_record

    rec = build_wet_record(
        "http://u/", "2024-01-01T00:00:00Z", "text ✓ body".encode()
    )
    wtype, url, date, block = parse_warc_record(rec)
    assert wtype == "conversion"
    assert url == "http://u/"
    assert date == "2024-01-01T00:00:00Z"
    assert block.decode() == "text ✓ body"


# --- sink → reader round-trip -------------------------------------------------


def test_wet_roundtrip_byte_identical(spark, tmp_path):
    """extract → write_wet → read_wet recovers every (url, text) pair
    EXACTLY — the WET rendering of the byte-identity north star — and the
    manifest accounts for every record.  Timestamps survive at second
    precision (the format's own resolution in CC snapshots)."""
    dest = str(tmp_path / "wet")
    ext = _extracted(spark).cache()
    try:
        want = {
            r.url: (r.extracted_text, r.warc_ts) for r in ext.collect()
        }
        manifest = write_wet(ext, dest).collect()
    finally:
        ext.unpersist()
    assert sum(m.records for m in manifest) == len(want)
    paths = sorted(_glob.glob(os.path.join(dest, "*.warc.wet.gz")))
    assert paths == sorted(m.path for m in manifest)
    assert all(os.path.getsize(m.path) == m.bytes for m in manifest)
    # no half-written temp files survive
    assert not _glob.glob(os.path.join(dest, "*.inprogress"))

    got = read_wet(spark, os.path.join(dest, "*.warc.wet.gz")).collect()
    assert all(r.error is None for r in got)
    assert {r.url: (r.text, r.wet_ts) for r in got} == want


def test_read_wet_microsecond_date(spark, tmp_path):
    """A WARC/1.1 microsecond ``WARC-Date`` round-trips into ``wet_ts``
    (the one ``warc_ts`` parser), not NULL."""
    path = tmp_path / "us.warc.wet.gz"
    path.write_bytes(gzip.compress(build_wet_record(
        "http://us.example/", "2024-01-02T03:04:05.123456Z", b"text"
    ), mtime=0))
    (row,) = read_wet(spark, str(path)).collect()
    assert (row.url, row.text, row.error) == ("http://us.example/", "text", None)
    assert row.wet_ts.isoformat() == "2024-01-02T03:04:05.123456"


def test_wet_write_deterministic(spark, tmp_path):
    """Same input partitioning → byte-identical shards (gzip mtime=0,
    partition-id naming, row order preserved)."""
    ext = _extracted(spark).cache()
    try:
        d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        write_wet(ext, d1).collect()
        write_wet(ext, d2).collect()
    finally:
        ext.unpersist()
    f1 = sorted(_glob.glob(os.path.join(d1, "*")))
    f2 = sorted(_glob.glob(os.path.join(d2, "*")))
    assert [os.path.basename(p) for p in f1] == [
        os.path.basename(p) for p in f2
    ]
    for a, b in zip(f1, f2):
        assert open(a, "rb").read() == open(b, "rb").read()


def test_wet_skips_null_text_and_empty_partitions(spark, tmp_path):
    """NULL-text rows (extraction failures) are excluded from WET output;
    a partition with nothing to publish leaves NO shard file behind."""
    df = spark.createDataFrame(
        [
            ("http://ok/1", "2024-01-01 00:00:00", "alpha"),
            ("http://bad/2", "2024-01-01 00:00:01", None),
        ],
        "url string, ts string, extracted_text string",
    ).selectExpr(
        "url", "cast(ts as timestamp) as warc_ts", "extracted_text"
    )
    # 4 partitions: at least two are empty, one holds only the NULL row
    dest = str(tmp_path / "wet")
    manifest = write_wet(df.repartition(4, "url"), dest).collect()
    assert sum(m.records for m in manifest) == 1
    shards = _glob.glob(os.path.join(dest, "*.warc.wet.gz"))
    assert len(shards) == len(manifest)  # empty partitions published nothing
    got = read_wet(spark, os.path.join(dest, "*.warc.wet.gz")).collect()
    assert [(r.url, r.text) for r in got] == [("http://ok/1", "alpha")]


def test_wet_sink_plan_shape(spark):
    """Chained after extract_pages(repartition='none'), the sink adds ZERO
    exchanges — scan → extract UDF → WET shard is one map-only stage;
    extracted text never crosses the cluster fabric."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages
    from dhtmlparser3_spark.sources.pages import build_pages

    ext = extract_pages(
        build_pages(spark, SF), repartition="none", with_metrics=False
    ).select("url", "warc_ts", "extracted_text")

    def n_exchanges(df):
        return (
            df._jdf.queryExecution().executedPlan().toString().count("Exchange")
        )

    # build_pages carries its own round-robin spread; the SINK must add
    # zero exchanges on top of whatever the upstream plan already has
    assert n_exchanges(write_wet(ext, "/tmp/_wet_plan_probe")) == n_exchanges(
        ext
    )


# --- reader error policy (shared with the WARC loop) --------------------------


def test_read_wet_error_policy(spark, tmp_path):
    """Corrupt gzip member ends that FILE's scan with one error row after
    yielding the clean records before it; the warcinfo lead skips; a
    malformed record inside an intact stream errors and continues."""
    good = gzip.compress(
        build_wet_record("http://a/", "2024-01-01T00:00:00Z", b"alpha"),
        mtime=0,
    )
    bad_member = gzip.compress(b"x", mtime=0)[:-4]  # truncated
    bad_record = gzip.compress(b"NOT A WARC RECORD\r\n\r\n", mtime=0)
    tail = gzip.compress(
        build_wet_record("http://b/", "2024-01-01T00:00:01Z", b"beta"),
        mtime=0,
    )
    p1 = tmp_path / "broken.warc.wet.gz"
    p1.write_bytes(good + bad_record + tail + bad_member)
    rows = sorted(
        read_wet(spark, str(p1)).collect(),
        key=lambda r: (r.rec_offset, str(r.url)),
    )
    errs = [r for r in rows if r.error is not None]
    oks = [r for r in rows if r.error is None]
    assert [(r.url, r.text) for r in oks] == [
        ("http://a/", "alpha"),
        ("http://b/", "beta"),
    ]
    assert len(errs) == 2  # one bad record row + one end-of-scan gzip row
    assert any(e.error.startswith("warc: ") for e in errs)
    assert any(e.error.startswith("gzip: ") for e in errs)


def test_read_warc_skips_wet_conversions(spark, tmp_path):
    """The WARC reader's response-only contract means pointing it at a WET
    file yields zero rows and zero errors — conversions skip cleanly, the
    two readers never mis-ingest each other's format."""
    dest = str(tmp_path / "wet")
    write_wet(_extracted(spark), dest).collect()
    got = read_warc(spark, os.path.join(dest, "*.warc.wet.gz")).collect()
    assert got == []


def test_read_wet_skips_warc_responses(spark, tmp_path):
    p = str(tmp_path / "caps.warc.gz")
    write_warc_gz(
        [("http://a/", "2024-01-01T00:00:00Z", b"<p>x</p>")], p
    )
    assert read_wet(spark, p).collect() == []


# --- streaming composition: live WARC drop → WET shards ------------------------


def test_streaming_warc_to_wet_exactly_once(spark, tmp_path):
    """The streaming Common Crawl loop: .warc.gz shards ARRIVING in a drop
    directory → warc_pages_stream → foreachBatch batch extract →
    epoch-named WET shards.  Run 1 publishes shard 1's docs; shard 2
    arrives; run 2 on the same checkpoint publishes ONLY the new docs
    (no re-publish, no duplicates), and read_wet over everything matches
    the reference parse per url."""
    import sys

    from dhtmlparser3_spark.sources.warc import (
        warc_pages_stream,
        write_warc_gz,
    )
    from dhtmlparser3_spark.sources.wet import read_wet, start_wet_sink

    sys.path.insert(0, "/root/reference/src")
    try:
        import dhtmlparser3 as ref
    finally:
        sys.path.pop(0)

    docs = [
        ("http://s1.example/a", "2024-01-01T00:00:00Z",
         b"<div id=a>alpha &amp; beta</div>", "gzip", None),
        ("http://s1.example/b", "2024-01-01T00:00:01Z",
         "<p>café</p>".encode(), None, "chunked"),
        ("http://s2.example/c", "2024-01-01T00:00:02Z",
         b"<b>late arrival", None, None),
    ]
    in_dir, wet_dir = tmp_path / "in", str(tmp_path / "wet")
    ck = str(tmp_path / "ck")
    in_dir.mkdir()
    write_warc_gz(docs[:2], str(in_dir / "s1.warc.gz"))

    def run_once():
        q = start_wet_sink(
            warc_pages_stream(spark, str(in_dir)), wet_dir, ck
        )
        q.awaitTermination(120)

    run_once()
    glob = os.path.join(wet_dir, "*.warc.wet.gz")
    got1 = {r.url: r.text for r in read_wet(spark, glob).collect()}
    assert set(got1) == {u for (u, *_rest) in docs[:2]}

    write_warc_gz([docs[2]], str(in_dir / "s2.warc.gz"))
    run_once()
    rows = read_wet(spark, glob).collect()
    assert len(rows) == 3  # exactly-once: no re-publish of shard 1
    for url, _d, html, *_enc in docs:
        row = next(r for r in rows if r.url == url)
        assert row.text == ref.parse(html.decode()).content_str()
        assert row.error is None


@pytest.mark.parametrize("listing", ["stream", "content"])
def test_wet_record_batches_byte_bounded(tmp_path, monkeypatch, listing):
    """``read_wet``'s scan cuts its Arrow batches by ``text`` bytes as well
    as rows: ten ~1.2 MB WET records (far fewer than ``batch_rows``) come
    out in >=2 batches, each within the worker slice or a single row,
    whose rows equal a run with the byte bound lifted.  No Spark.

    ``stream`` feeds the scan the path-only listing it gets in the job.
    ``content`` also hands it an unpruned ``binaryFile`` ``content``
    column holding empty bytes: the scan still opens the path and reads
    every record from the file, never from the column."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions import extract as fx
    from dhtmlparser3_spark.sources.warc import _scan_iterator
    from dhtmlparser3_spark.sources.wet import (
        _WET_TYPES,
        _wet_row,
        _write_shard,
    )

    docs = [
        (f"http://big.example/{i}", "2024-01-01T00:00:00Z",
         f"line {i} café 数据\n" * 60_000)
        for i in range(10)
    ]
    path = str(tmp_path / "big.warc.wet.gz")
    _write_shard(path, iter(docs))
    cols = {"path": [path]}
    if listing == "content":
        cols["content"] = [b""]
    rb = pa.RecordBatch.from_pydict(cols)

    def run():
        it = _scan_iterator("conversion", _wet_row, _WET_TYPES, 2048)
        return list(it(iter([rb])))

    bounded = run()
    monkeypatch.setattr(fx, "_WORKER_BATCH_BYTES", 1 << 40)
    whole = run()
    assert len(whole) == 1
    assert len(bounded) >= 2, f"expected >=2 byte-bounded batches, got {len(bounded)}"
    for b in bounded:
        text_bytes = sum(len(t.encode()) for t in b.column("text").to_pylist())
        assert b.num_rows == 1 or text_bytes <= 1 << 20, text_bytes
    rows = pa.Table.from_batches(bounded).to_pylist()
    assert rows == pa.Table.from_batches(whole).to_pylist()
    assert [(r["url"], r["text"]) for r in rows] == [(u, t) for u, _, t in docs]
