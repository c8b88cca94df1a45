"""The worker-side Arrow builder and the pandas-free job workers.  No Spark.

``functions.extract.arrow_column`` builds every typed column a job worker
emits from buffers, because ``pa.array`` imports pandas (~35 MB RSS per
Python worker).  Pinned here:

* parity: ``arrow_column(v, t)`` equals ``pa.array(v, t)`` and validates,
  for every field type the workers emit and for nested lists and structs
  with NULLs at every level, whether the builder takes the values at once
  or one at a time;
* ``arrow_slices`` reads byte lengths from a sliced column's offsets, a
  NULL counting 0;
* a fresh interpreter runs the job's worker functions (extract, stats,
  serialize, nodes, WAT, sitemaps, the WARC decode) and never loads
  pandas or ``pyarrow.compute``;
* a document whose output is not encodable as UTF-8 (a lone surrogate from
  a numeric entity) becomes an error row, not a failed slice, and leaves
  the rows around it in the same slice unchanged.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pytest

from dhtmlparser3_spark.functions.extract import (
    _ARROW_NODE_FIELD_TYPES,
    EXTRACT_FIELDS,
    STATS_FIELDS,
    append_rows,
    arrow_column,
    arrow_slices,
    byte_slices,
    column_builder,
    extract_one,
    make_extract_arrow_iterator,
    make_nodes_arrow_iterator,
    make_serialize_iterator,
)
from dhtmlparser3_spark.sources.warc import _OUT_TYPES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCALARS = {
    pa.string(): ["", "plain", "café 数据 😀", "a&b <x>"],
    pa.binary(): [b"", b"\x00\xff\xfe", "é".encode(), b"<p>x</p>"],
    pa.int8(): [0, -128, 127, 5],
    pa.int32(): [0, -(2**31), 2**31 - 1, 7],
    pa.int64(): [0, -(2**63), 2**63 - 1, 11],
    pa.bool_(): [True, False, False, True],
}


def _samples(t: pa.DataType) -> list:
    """Four non-null values of ``t`` (lists and structs built from their
    children's samples, nested spans included), plus nulls."""
    if pa.types.is_list(t):
        child = _samples(t.value_type)
        vals = [[], child[:1], child, child[::-1]]
    elif pa.types.is_struct(t):
        kids = {f.name: _samples(f.type) for f in t}
        vals = [{k: v[i] for k, v in kids.items()} for i in range(4)]
    else:
        vals = list(_SCALARS[t])
    return vals + [None] + vals[:2]


def _field_types():
    types = [t for _, t in EXTRACT_FIELDS]
    types += [t for _, t in STATS_FIELDS]
    types += list(_ARROW_NODE_FIELD_TYPES.values())
    types.append(
        pa.list_(pa.struct(list(_ARROW_NODE_FIELD_TYPES.items())))
    )
    types += [pa.type_for_alias(a) for a in _OUT_TYPES.values()]
    return list(dict.fromkeys(types))


@pytest.mark.parametrize("t", _field_types(), ids=str)
def test_arrow_column_matches_pa_array(t):
    for values in (_samples(t), [], [None] * 3, _samples(t)[:4]):
        got = arrow_column(values, t)
        got.validate(full=True)
        want = pa.array(values, t)
        assert got.type == t
        assert got.equals(want), (t, got, want)
        assert got.null_count == want.null_count
        assert got.to_pylist() == want.to_pylist()


def test_arrow_column_matches_extract_output():
    """The extraction kernel's own rows: nested spans, counts, NULLs of
    the error rows, non-ASCII text."""
    docs = [
        "<div>café <b>数据</b> &amp; more<p>x</p></div>",
        "",
        "<p>pre &#1114112; post</p>",
        "<script>s</script><p>a</p><!-- c -->tail",
    ]
    rows = [extract_one(d) for d in docs]
    for (name, t), col in zip(EXTRACT_FIELDS, zip(*rows)):
        got = arrow_column(col, t)
        got.validate(full=True)
        assert got.equals(pa.array(col, t)), name


_NESTED = [
    (
        pa.list_(pa.list_(pa.int32())),
        [[[1, None], None, []], None, [], [[None]], [[2**31 - 1, -1]]],
    ),
    (
        pa.struct(
            [("s", pa.string()), ("b", pa.bool_()), ("l", pa.list_(pa.int8()))]
        ),
        [
            {"s": "x", "b": True, "l": [1, None]},
            None,
            {"s": None, "b": None, "l": None},
            {},
            {"s": "é", "b": False, "l": []},
        ],
    ),
    (
        pa.list_(
            pa.struct([("k", pa.string()), ("v", pa.list_(pa.binary()))])
        ),
        [
            [{"k": "a", "v": [b"x", None]}, None, {"k": None, "v": None}],
            None,
            [],
            [None, None],
            [{"k": "数据", "v": []}],
        ],
    ),
]


@pytest.mark.parametrize("t,values", _NESTED, ids=lambda x: str(x)[:40])
def test_builder_matches_pa_array_nested_with_nulls(t, values):
    """NULLs at every nesting level, missing struct keys, empty lists: the
    builder fed all values at once, or one per append (a worker loop's
    way), equals ``pa.array``, sliced views included."""
    want = pa.array(values, t)
    one_by_one = column_builder(t)
    for v in values:
        one_by_one.append(v)
    for got in (arrow_column(values, t), one_by_one.finish()):
        got.validate(full=True)
        assert got.equals(want), (got, want)
        assert got.null_count == want.null_count
        for start in range(len(values)):
            assert got.slice(start).to_pylist() == want.slice(start).to_pylist()


def test_append_rows_is_all_or_nothing():
    """A row with one unencodable value, however deep and in whichever
    column, leaves every builder as it was."""
    types = [
        pa.string(),
        pa.int32(),
        pa.list_(pa.struct([("url", pa.string()), ("text", pa.string())])),
    ]
    good = [("a", 1, [{"url": "/x", "text": "t"}]), (None, None, None)]
    bad = [
        ("b\ud800", 2, []),
        ("c", 3, [{"url": "/y", "text": "ok"}, {"url": "/z", "text": "\udfff"}]),
    ]
    cols = [column_builder(t) for t in types]
    append_rows(cols, good[:1])
    for row in bad:
        with pytest.raises(UnicodeEncodeError):
            append_rows(cols, [row])
    append_rows(cols, good[1:])
    got = [c.finish() for c in cols]
    for i, t in enumerate(types):
        assert got[i].equals(pa.array([r[i] for r in good], t)), i


def test_arrow_slices_reads_offsets_of_a_sliced_column():
    """``arrow_slices`` plans slices from the offsets of a column that
    starts at a non-zero ``offset`` and holds NULLs (0 bytes each)."""
    htmls = [b"a" * 300, None, b"b" * 500, None, b"c" * 200, b"d" * 700, None]
    rb = _pages_raw([f"u{i}" for i in range(len(htmls))], htmls)
    part = rb.slice(1, 6)
    assert part.column("html").offset == 1
    sizes = [0, 500, 0, 200, 700, 0]
    got = list(arrow_slices(iter([part]), "html", 800))
    plan = byte_slices(sizes, 800)
    assert plan == [(0, 4), (4, 2)]
    assert [b.num_rows for b in got] == [n for _, n in plan]
    urls = [u for b in got for u in b.column("url").to_pylist()]
    assert urls == [f"u{i}" for i in range(1, 7)]
    assert [h for b in got for h in b.column("html").to_pylist()] == htmls[1:]


def test_arrow_column_rejects_lone_surrogate_and_unknown_types():
    with pytest.raises(UnicodeEncodeError):
        arrow_column(["a\ud800b"], pa.string())
    with pytest.raises(TypeError):
        arrow_column([1.5], pa.float64())


# --- lone surrogates become error rows --------------------------------------

_SURROGATE_DOCS = ("<p>a&#55296;b</p>", "<p>&#xD800;</p>", "x&#57343;y")
_CLEAN = "<div>clean <b>café</b> &amp; text</div>"


def _pages_raw(urls, htmls):
    return pa.RecordBatch.from_arrays(
        [pa.array(urls, pa.string()), pa.array(htmls, pa.binary())],
        ["url", "html"],
    )


def _pages(htmls):
    return _pages_raw(
        [f"u{i}" for i in range(len(htmls))], [h.encode() for h in htmls]
    )


def _run(iterator, htmls):
    return pa.Table.from_batches(list(iterator(iter([_pages(htmls)])))).to_pylist()


@pytest.mark.parametrize("doc", _SURROGATE_DOCS)
def test_unencodable_document_becomes_error_row(doc):
    assert any(0xD800 <= ord(c) <= 0xDFFF for c in extract_one(doc)[0])
    clean_alone = _run(make_extract_arrow_iterator(("url",)), [_CLEAN])[0]
    rows = _run(make_extract_arrow_iterator(("url",)), [_CLEAN, doc])
    assert rows[0] == clean_alone
    bad = rows[1]
    assert bad["error"].startswith("UnicodeEncodeError: ")
    assert bad["url"] == "u1"
    assert all(v is None for k, v in bad.items() if k not in ("url", "error"))


@pytest.mark.parametrize("doc", _SURROGATE_DOCS)
def test_unencodable_document_other_parse_outputs(doc):
    """The node table gives a NULL ``nodes`` row; the serializers put the
    error in every ``*_error`` slot.  The clean row is unchanged."""
    nodes = _run(make_nodes_arrow_iterator(), [_CLEAN, doc, _CLEAN])
    assert nodes[1]["nodes"] is None
    assert nodes[0]["nodes"] == nodes[2]["nodes"] and nodes[0]["nodes"]
    ser = _run(
        make_serialize_iterator(["content_str", "to_string"]), [doc, _CLEAN]
    )
    assert ser[0]["content_str_value"] is None
    assert ser[0]["content_str_error"].startswith("UnicodeEncodeError: ")
    assert ser[0]["to_string_error"] == ser[0]["content_str_error"]
    assert ser[1]["content_str_error"] is None
    assert ser[1]["content_str_value"] == extract_one(_CLEAN)[0]


def _sitemap(xml):
    return f"<urlset><url><loc>{xml}</loc></url><url><loc>b</loc></url></urlset>"


def _mid_slice_runs():
    """name → (iterator, the field holding the bad row's error, the bad
    document)."""
    from dhtmlparser3_spark.functions.sitemap import make_sitemap_iterator
    from dhtmlparser3_spark.sources.wat import make_wat_iterator

    def wat(batches):
        for rb in batches:
            ts = pa.array([None] * rb.num_rows, pa.timestamp("us"))
            yield from make_wat_iterator()(
                iter([rb.append_column("warc_ts", ts)])
            )

    def sitemap(batches):
        for rb in batches:
            yield from make_sitemap_iterator()(
                iter([rb.rename_columns(["url", "body"])])
            )

    return {
        "extract": (
            make_extract_arrow_iterator(("url",)), "error", "<p>a&#55296;b</p>"
        ),
        "serialize": (
            make_serialize_iterator(["to_string", "main_text"]),
            "to_string_error",
            "<b>ok</b>x&#57343;y",
        ),
        "nodes": (make_nodes_arrow_iterator(), "nodes", "<a x=1>t&#xD800;</a>"),
        "wat": (wat, "error", '<title>t</title><a href="/b">x&#xDFFF;</a>'),
        "sitemap": (sitemap, "error", _sitemap("a&#55296;")),
    }


@pytest.mark.parametrize(
    "name", ["extract", "serialize", "nodes", "wat", "sitemap"]
)
def test_unencodable_document_mid_slice_poisons_only_its_row(name):
    """[clean, bad, clean] in ONE slice: the bad document's row is its
    error row (a NULL ``nodes`` for the node table), and the clean rows
    equal a run without it — a half-appended row would shift or corrupt
    them.  The bad value sits in a later column or a later struct field
    than values that encode, so the append must be all or nothing."""
    run, key, bad = _mid_slice_runs()[name]
    clean = [
        _sitemap("http://a.example/1") if name == "sitemap" else _CLEAN,
        _sitemap("http://a.example/2") if name == "sitemap" else "<p>two</p>",
    ]
    with_bad = _run(run, [clean[0], bad, clean[1]])
    alone = _run(run, clean)
    first_url = "src_url" if name == "sitemap" else "url"
    bad_rows = [r for r in with_bad if r[first_url] == "u1"]
    assert len(bad_rows) == 1
    if name == "nodes":
        assert bad_rows[0]["nodes"] is None
    else:
        assert bad_rows[0][key].startswith("UnicodeEncodeError: ")
    rest = [r for r in with_bad if r[first_url] != "u1"]
    relabel = {"u0": "u0", "u2": "u1"}
    assert [dict(r, **{first_url: relabel[r[first_url]]}) for r in rest] == alone
    assert alone and all(
        r.get("error") is None and r.get("to_string_error") is None
        for r in alone
    )


# --- the job's workers never load pandas ------------------------------------

_PANDAS_FREE = r'''
import array, gzip, os, sys, tempfile
import pyarrow as pa

from dhtmlparser3_spark.functions.extract import (
    STATS_FIELDS, arrow_column, make_extract_arrow_iterator,
    make_nodes_arrow_iterator, make_parse_iterator, make_serialize_iterator,
    stats_one,
)
from dhtmlparser3_spark.sources.pages import TEMPLATES, compile_py
from dhtmlparser3_spark.sources.warc import (
    _OUT_TYPES, _response_row, _scan_iterator, build_warc_record,
)
from dhtmlparser3_spark.sources.wat import make_wat_iterator
from dhtmlparser3_spark.functions.sitemap import make_sitemap_iterator

htmls = [compile_py(TEMPLATES[i % 5], i, "text café " * 40).encode()
         for i in range(40)]
htmls[7] = b"<p>pre &#1114112; post</p>"
n = len(htmls)
pages = pa.RecordBatch.from_arrays(
    [
        arrow_column([f"https://p.example/{i}" for i in range(n)], pa.string()),
        pa.Array.from_buffers(
            pa.timestamp("us", tz="UTC"), n,
            [None, pa.py_buffer(array.array("q", range(n)))],
        ),
        arrow_column(["en"] * n, pa.string()),
        arrow_column(htmls, pa.binary()),
    ],
    ["url", "warc_ts", "lang", "html"],
)
outs = [
    make_extract_arrow_iterator(),
    make_parse_iterator(stats_one, STATS_FIELDS),
    make_serialize_iterator(["content_str", "main_text"], ("url",)),
    make_nodes_arrow_iterator(),
    make_wat_iterator(),
]
for run in outs:
    got = sum(b.num_rows for b in run(iter([pages])))
    assert got == n, got

warc = b"".join(
    gzip.compress(build_warc_record(f"http://h{i}.example/", "2024-01-01T00:00:00Z",
                                    h), mtime=0)
    for i, h in enumerate(htmls)
)
with tempfile.TemporaryDirectory() as td:
    path = os.path.join(td, "mem.warc.gz")
    with open(path, "wb") as f:
        f.write(warc)
    files = pa.RecordBatch.from_arrays([arrow_column([path], pa.string())], ["path"])
    scan = _scan_iterator("response", _response_row, _OUT_TYPES, 2048)
    rows = sum(b.num_rows for b in scan(iter([files])))
assert rows == n, rows

caps = pa.RecordBatch.from_arrays(
    [
        arrow_column(["s0", "s1"], pa.string()),
        arrow_column(
            [b"<urlset><url><loc>http://a.example/1</loc></url></urlset>", None],
            pa.binary(),
        ),
    ],
    ["url", "body"],
)
got = sum(b.num_rows for b in make_sitemap_iterator()(iter([caps])))
assert got == 1, got
print("pandas" in sys.modules, "pyarrow.compute" in sys.modules)
'''


def test_job_workers_never_import_pandas():
    """A fresh interpreter runs the job path's worker functions — the
    parse family and sitemaps over pages batches and the WARC scan over a
    small ``.warc.gz`` file — and neither pandas nor ``pyarrow.compute``
    (~7 MB of RSS per worker) is ever imported."""
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, "-c", _PANDAS_FREE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert p.stdout.strip() == "False False", p.stdout
