"""The parse family's worker boundary — the Python hot path.

Per BASELINE.json ``input_hint``: *no per-row Python objects cross the JVM
boundary*.  Every parse-family operator (extraction, counts-only stats,
the serializations, the node table) reaches the Python worker through ONE
``mapInArrow`` batch loop, :func:`make_parse_iterator`: rows arrive as
Arrow RecordBatches, the per-document tokenize→tree-build→serialize work
runs inside the worker, and typed Arrow columns go back.  The per-doc
algorithm is the exact-parity engine (dhtmlparser3_spark.engine); errors
(the reference raises on out-of-range numeric entities — chr(ValueError))
become an error value instead of killing the job at 10^12-row scale.

Every worker-side output column (this loop, WAT, sitemaps, the WARC
readers) is a :class:`ColumnBuilder`, filled as each document is parsed.
No worker loads pandas or ``pyarrow.compute``.

Spans: per-text-node (src_start, src_end) offsets into the decoded html —
``html[src_start:src_end]`` is the raw slice each text node came from.
"""

from __future__ import annotations

import array
import gc
from itertools import accumulate
from typing import TYPE_CHECKING, Iterator, List

import pyarrow as pa

from dhtmlparser3_spark.engine import serialize
from dhtmlparser3_spark.engine.dom import Arena, parse_arena
from dhtmlparser3_spark.engine.lexer import TAG, TEXT

if TYPE_CHECKING:
    import pandas as pd

_BOILERPLATE_NAMES = frozenset({"script", "style"})

# output schema of make_extract_arrow_iterator (url/ts/lang passed through)
EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "extracted_text string, main_text string, "
    "n_nodes int, n_tags int, n_text_nodes int, n_chars_out bigint, "
    "spans array<struct<node_id:int,src_start:int,src_end:int>>, "
    "error string"
)
EXTRACT_FIELDS = (
    ("extracted_text", pa.string()),
    ("main_text", pa.string()),
    ("n_nodes", pa.int32()),
    ("n_tags", pa.int32()),
    ("n_text_nodes", pa.int32()),
    ("n_chars_out", pa.int64()),
    (
        "spans",
        pa.list_(
            pa.struct(
                [
                    ("node_id", pa.int32()),
                    ("src_start", pa.int32()),
                    ("src_end", pa.int32()),
                ]
            )
        ),
    ),
    ("error", pa.string()),
)
_EXTRACT_COLS = tuple(f for f, _ in EXTRACT_FIELDS)

STATS_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "n_nodes int, n_tags int, n_text_nodes int, error string"
)
STATS_FIELDS = (
    ("n_nodes", pa.int32()),
    ("n_tags", pa.int32()),
    ("n_text_nodes", pa.int32()),
    ("error", pa.string()),
)

# full node-struct field set; node_table can prune to a subset — Catalyst
# cannot push column pruning through a Python map, so the pruning is done
# by hand at the worker boundary (smaller Python lists AND less Arrow)
NODE_FIELD_TYPES = {
    "node_id": "int",
    "parent_id": "int",
    "kind": "tinyint",
    "name": "string",
    "attrs": "array<struct<key:string,value:string>>",
    "text": "string",
    "is_non_pair": "boolean",
    "depth": "int",
    "subtree_end": "int",
    "src_start": "int",
    "src_end": "int",
}
_ARROW_NODE_FIELD_TYPES = {
    "node_id": pa.int32(),
    "parent_id": pa.int32(),
    "kind": pa.int8(),
    "name": pa.string(),
    "attrs": pa.list_(pa.struct([("key", pa.string()), ("value", pa.string())])),
    "text": pa.string(),
    "is_non_pair": pa.bool_(),
    "depth": pa.int32(),
    "subtree_end": pa.int32(),
    "src_start": pa.int32(),
    "src_end": pa.int32(),
}


def node_schema(fields=None) -> str:
    fields = list(NODE_FIELD_TYPES) if fields is None else list(fields)
    inner = ",".join(f"{f}:{NODE_FIELD_TYPES[f]}" for f in fields)
    return f"array<struct<{inner}>>"


def decode_html(raw) -> str:
    if raw is None:
        return ""
    if isinstance(raw, (bytes, bytearray, memoryview)):
        return bytes(raw).decode("utf-8", errors="replace")
    return str(raw)


def _preorder(a: Arena):
    """The node tables' walk: (arena ids in pre-order, depths, structural
    parents as pre-order ranks, subtree ends)."""
    order: List[int] = []
    depths: List[int] = []
    parents: List[int] = []
    rank = {}
    stack = [(a.result_root, 0, -1)]
    while stack:
        nid, depth, par = stack.pop()
        rank[nid] = len(order)
        order.append(nid)
        depths.append(depth)
        parents.append(par)
        if a.kind[nid] == TAG:
            for ch in reversed(a.children[nid]):
                stack.append((ch, depth + 1, rank[nid]))
    # a parent's subtree extends to max(subtree_end of its children)
    sub_end = list(range(1, len(order) + 1))
    for i in range(len(order) - 1, 0, -1):
        p = parents[i]
        if sub_end[i] > sub_end[p]:
            sub_end[p] = sub_end[i]
    return order, depths, parents, sub_end


def flatten_nodes(a: Arena, fields=None):
    """Arena → flat pre-order node records for the relational tier.

    node_id == pre-order rank from the result root; ``subtree_end`` is one
    past the last descendant, so descendant containment is the interval test
    ``anc.node_id < d.node_id < anc.subtree_end`` — a Catalyst-friendly
    range predicate (used for descendant joins instead of recursion).
    Parents here are STRUCTURAL (recomputed), not the reference's sometimes
    stale pointers.  ``fields`` (ordered subset of NODE_FIELD_TYPES) prunes
    the per-node record — the big wins are dropping ``attrs`` and ``text``.
    """
    order, depths, parents, sub_end = _preorder(a)
    makers = {
        "node_id": lambda i, nid: i,
        "parent_id": lambda i, nid: parents[i],
        "kind": lambda i, nid: a.kind[nid],
        "name": lambda i, nid: a.name[nid] or None,
        "attrs": lambda i, nid: [
            {"key": k, "value": v} for k, v in a.attrs[nid]
        ]
        or None,
        "text": lambda i, nid: a.text[nid] or None,
        "is_non_pair": lambda i, nid: bool(a.non_pair[nid]),
        "depth": lambda i, nid: depths[i],
        "subtree_end": lambda i, nid: sub_end[i],
        "src_start": lambda i, nid: a.src_start[nid],
        "src_end": lambda i, nid: a.src_end[nid],
    }
    sel = [(f, makers[f]) for f in (fields or makers)]
    return [
        {f: mk(i, nid) for f, mk in sel} for i, nid in enumerate(order)
    ]


def append_nodes_columns(a: Arena, cols: dict) -> int:
    """flatten_nodes with COLUMNAR output: append this document's pre-order
    node records to per-field flat lists (the node iterator appends them
    to its column builders — no per-node Python dicts).  Same walk, same
    numbering, same values as flatten_nodes; parity pinned by
    tests/test_relational_differential.py::test_node_table_arrow_parity.
    Returns the number of nodes appended."""
    order, depths, parents, sub_end = _preorder(a)
    n = len(order)
    for f, out in cols.items():
        if f == "node_id":
            out.extend(range(n))
        elif f == "parent_id":
            out.extend(parents)
        elif f == "kind":
            out.extend(a.kind[nid] for nid in order)
        elif f == "name":
            out.extend(a.name[nid] or None for nid in order)
        elif f == "attrs":
            out.extend(
                [{"key": k, "value": v} for k, v in a.attrs[nid]] or None
                for nid in order
            )
        elif f == "text":
            out.extend(a.text[nid] or None for nid in order)
        elif f == "is_non_pair":
            out.extend(bool(a.non_pair[nid]) for nid in order)
        elif f == "depth":
            out.extend(depths)
        elif f == "subtree_end":
            out.extend(sub_end)
        elif f == "src_start":
            out.extend(a.src_start[nid] for nid in order)
        elif f == "src_end":
            out.extend(a.src_end[nid] for nid in order)
        else:  # pragma: no cover - guarded by NODE_FIELD_TYPES
            raise KeyError(f)
    return n


def _main_text_and_spans(a: Arena):
    """One fused pre-order walk: boilerplate-stripped text + text spans
    (node_id = pre-order rank, matching flatten_nodes numbering).

    main_text is OUR extraction operator (the north-star 'boilerplate-
    strip' stage), not a reference method: content_without_tags semantics
    (tag.py:75-88 — comments dropped) minus script/style subtrees, which
    match case-insensitively like find() does."""
    kind_l, name_l, text_l, ch_l = a.kind, a.name, a.text, a.children
    s0_l, s1_l = a.src_start, a.src_end
    mtext: List[str] = []
    spans = []
    idx = 0
    root = a.result_root
    stack = [(root, True)]
    while stack:
        nid, keep = stack.pop()
        k = kind_l[nid]
        if k == TEXT:
            if keep:
                mtext.append(text_l[nid])
            if s0_l[nid] >= 0:
                spans.append(
                    {"node_id": idx, "src_start": s0_l[nid], "src_end": s1_l[nid]}
                )
        elif k == TAG:
            # the root's own name is never tested (main_text strips
            # script/style DESCENDANTS, matching find()+remove() semantics)
            child_keep = keep and (
                nid == root or name_l[nid].lower() not in _BOILERPLATE_NAMES
            )
            for ch in reversed(ch_l[nid]):
                stack.append((ch, child_keep))
        idx += 1
    return "".join(mtext), spans


def extract_one(html: str):
    """Parse one document → (extracted_text, main_text, counts, spans, error)."""
    try:
        a = parse_arena(html)
    except Exception as e:  # noqa: BLE001 — error-row at scale, never a crash
        return None, None, 0, 0, 0, 0, None, f"{type(e).__name__}: {e}"
    content = serialize.content_str(a)
    mtext, spans = _main_text_and_spans(a)
    kinds = a.kind
    n_nodes = len(kinds)
    n_tags = kinds.count(TAG)
    n_text = kinds.count(TEXT)
    return (
        content,
        mtext,
        n_nodes,
        n_tags,
        n_text,
        len(content),
        spans,
        None,
    )


def stats_one(html: str):
    """Parse one document → (n_nodes, n_tags, n_text_nodes, error): the
    counts of :func:`extract_one` without any serialization."""
    try:
        a = parse_arena(html)
    except Exception as e:  # noqa: BLE001
        return 0, 0, 0, f"{type(e).__name__}: {e}"
    kinds = a.kind
    return len(kinds), kinds.count(TAG), kinds.count(TEXT), None


# per-document serializers of make_serialize_iterator (the parse itself can
# raise — the reference propagates chr() ValueError on out-of-range numeric
# entities, tokens.py:147-148, and we keep that parity in the engine)
_SERIALIZERS = {
    "content_str": serialize.content_str,
    "main_text": lambda a: _main_text_and_spans(a)[0],
    "to_string": serialize.to_string,
    "prettify": serialize.prettify,
    "content_without_tags": serialize.content_without_tags,
}


def extract_series(html: pd.Series) -> pd.DataFrame:
    """Vectorized batch extraction over a Series of html bytes/str.

    Kept only as the subject of perfbench's ``boundary_layer`` (with
    :func:`make_extract_iterator`); no pipeline runs it, so pandas is
    imported here, on call, and never by a job's worker.

    Column-wise frame construction: building a DataFrame from row tuples
    costs ~28µs/row in pandas — at 10^12 docs that is pure waste, so we
    transpose once and hand pandas ready columns.
    """
    import pandas as pd

    gc_was_enabled = gc.isenabled()
    gc.disable()  # alloc-heavy build loop, parity with parser.py:38
    try:
        rows = [extract_one(decode_html(h)) for h in html]
    finally:
        if gc_was_enabled:
            gc.enable()
    if rows:
        cols = zip(*rows)
    else:
        cols = ([] for _ in _EXTRACT_COLS)
    out = pd.DataFrame(
        {name: list(c) for name, c in zip(_EXTRACT_COLS, cols)},
        index=html.index,
        copy=False,
    )
    return out


# worker-side byte bound per processed slice — the Python worker's working
# set.  While a slice is parsed the kernel holds its unboxed html and the
# output built so far (packed column buffers), so the slice, not the input
# batch, sets the worker's peak.  The same constant bounds the input batch:
# the spark-submit job (jobs/extract_job_main.py) sets
# spark.sql.execution.arrow.maxBytesPerBatch to it unless the submitter's
# conf names that key, plans/session.get_spark sets it for every session
# it builds, and the WARC record batcher
# (sources/warc._batched_record_batches) cuts its batches at it.  1 MiB keeps
# the peak near the html bytes (measured: ~190 → ~20 MiB of growth over one
# 20 MiB batch of ~19 KB pages, tests/test_worker_slice.py) at no
# measurable per-doc cost.  Slices are planned from the html byte lengths;
# a single row always forms a slice even beyond the bound (the irreducible
# unit).
_WORKER_BATCH_BYTES = 1 << 20


def byte_slices(sizes, max_bytes: int):
    """Greedy (start, length) slices over ``sizes`` with per-slice byte
    sums ≤ max_bytes (single oversized rows get their own slice)."""
    out, start, acc = [], 0, 0
    for i, s in enumerate(sizes):
        if i > start and acc + s > max_bytes:
            out.append((start, i - start))
            start, acc = i, 0
        acc += s
    if start < len(sizes):
        out.append((start, len(sizes) - start))
    return out


def arrow_slices(batches, column: str, max_slice_bytes: int | None = None):
    """Byte-bounded row slices of each RecordBatch, planned over the byte
    lengths of the binary/string ``column`` (``max_slice_bytes`` defaults
    to ``_WORKER_BATCH_BYTES``, 1 MiB; tests pass other bounds).  This is
    the shared front half of every worker loop that unboxes documents
    (the parse family, WAT, sitemaps), so each of them holds one slice's
    Python objects at a time, whatever the size of the input batch: slice
    BEFORE ``to_pylist``, and emit each slice's output before the next is
    unboxed.  An empty batch is yielded once, so it still produces an
    output batch."""
    bound = _WORKER_BATCH_BYTES if max_slice_bytes is None else max_slice_bytes
    for whole in batches:
        sizes = _byte_lengths(whole.column(column))
        for start, length in byte_slices(sizes, bound) or [(0, 0)]:
            yield whole if length == whole.num_rows else whole.slice(start, length)


def _byte_lengths(col: pa.Array) -> list:
    """Byte length of each value of a binary/string array, read from its
    offsets buffer (``col.offset`` respected; a NULL counts 0) rather
    than with ``pyarrow.compute``, which no worker loads."""
    n = len(col)
    if not n:
        return []
    width = 8 if col.type in (pa.large_binary(), pa.large_string()) else 4
    raw = memoryview(col.buffers()[1])[col.offset * width :]
    ends = raw[: (n + 1) * width].cast("q" if width == 8 else "i").tolist()
    sizes = [e - s for s, e in zip(ends, ends[1:])]
    if col.null_count:
        bits = int.from_bytes(col.buffers()[0], "little") >> col.offset
        valid = format(bits & ((1 << n) - 1), f"0{n}b")[::-1]
        sizes = [s if v == "1" else 0 for s, v in zip(sizes, valid)]
    return sizes


# array typecode per fixed-width Arrow type a ColumnBuilder packs (a bool
# takes one byte until finish packs the bits)
_CODES = {pa.int8(): "b", pa.int32(): "i", pa.int64(): "q", pa.bool_(): "b"}
_ASCII_BITS = bytes.maketrans(b"\x00\x01", b"01")


def _bits(flags) -> pa.Buffer:
    """Arrow's bit-packed buffer of one 0/1 byte per flag (flag i = bit
    i % 8 of byte i // 8): the flags as binary digits, last first, read as
    one integer.  No ``pyarrow.compute`` (a cast to bool loads it)."""
    digits = bytes(flags).translate(_ASCII_BITS)[::-1] or b"0"
    return pa.py_buffer(int(digits, 2).to_bytes((len(flags) + 7) // 8, "little"))


class ColumnBuilder:
    """An Arrow array of one type, filled as the values come: string,
    binary, int8/32/64, bool, and lists and structs (dicts) of those;
    ``None`` is NULL.  Made by :func:`column_builder`.

    A worker loop appends each document's output as soon as it has it,
    so a slice holds it once, as ``bytearray``/``array`` buffers that
    :meth:`finish` hands to ``pa.Array.from_buffers`` without a copy; no
    pandas (``pa.array`` loads it: ~35 MB RSS and ~0.4 s per worker) and
    no ``pyarrow.compute``.  A write has two steps:
    ``encode_many`` turns values into what the buffers take (``str`` to
    UTF-8, recursively) and writes nothing, so a lone surrogate's
    ``UnicodeEncodeError`` leaves the builder as it was; ``put_many``
    writes.  Past 2 GiB of bytes a column raises ``OverflowError``."""

    def __init__(self, type: pa.DataType):
        self.type, self.n, self.kids = type, 0, []
        self.valid = None  # one 0/1 byte per value, from the first NULL on

    def encode_many(self, values):
        return values

    def append(self, value) -> None:
        self.put_many(self.encode_many((value,)))

    def _count(self, values) -> None:
        if self.valid is None and None in values:
            self.valid = bytearray(b"\x01") * self.n
        if self.valid is not None:
            self.valid += bytes([v is not None for v in values])
        self.n += len(values)

    def _buffers(self) -> list:
        return []

    def finish(self) -> pa.Array:
        """The array of everything appended; the builder is done."""
        nulls = 0 if self.valid is None else self.n - self.valid.count(1)
        bufs = [_bits(self.valid) if nulls else None] + self._buffers()
        kids = [k.finish() for k in self.kids]
        return pa.Array.from_buffers(self.type, self.n, bufs, nulls, children=kids)


class _Bytes(ColumnBuilder):
    def __init__(self, type):
        super().__init__(type)
        self.utf8 = pa.types.is_string(type)
        self.offsets, self.data = array.array("i", [0]), bytearray()

    def encode_many(self, values):
        if not self.utf8:
            return values
        return [None if v is None else v.encode("utf-8") for v in values]

    def put_many(self, parts):
        self._count(parts)
        for p in parts:
            if p is not None:
                self.data += p
            self.offsets.append(len(self.data))

    def _buffers(self):
        return [pa.py_buffer(self.offsets), pa.py_buffer(self.data)]


class _Fixed(ColumnBuilder):
    def __init__(self, type):
        super().__init__(type)
        self.data = array.array(_CODES[type])

    def put_many(self, values):
        self._count(values)
        self.data.extend(
            [0 if v is None else v for v in values] if None in values else values
        )

    def _buffers(self):
        boolean = self.type == pa.bool_()
        return [_bits(self.data) if boolean else pa.py_buffer(self.data)]


class _List(ColumnBuilder):
    def __init__(self, type):
        super().__init__(type)
        self.offsets = array.array("i", [0])
        self.kids = [column_builder(type.value_type)]

    def encode_many(self, values):
        if len(values) == 1 and isinstance(values[0], dict):
            # one list of structs given column-wise, {field: [values]}:
            # the node table's form (no per-node dicts)
            n = len(next(iter(values[0].values())))
            return [n], self.kids[0].encode_many(values[0])
        lens = [None if v is None else len(v) for v in values]
        flat = [x for v in values if v is not None for x in v]
        return lens, self.kids[0].encode_many(flat)

    def put_many(self, enc):
        lens, items = enc
        self._count(lens)
        self.kids[0].put_many(items)
        self.offsets.extend(
            accumulate((n or 0 for n in lens), initial=self.offsets.pop())
        )

    def _buffers(self):
        return [pa.py_buffer(self.offsets)]


class _Struct(ColumnBuilder):
    def __init__(self, type):
        super().__init__(type)
        self.names = [f.name for f in type]
        self.kids = [column_builder(f.type) for f in type]

    def encode_many(self, values):
        pairs = zip(self.names, self.kids)
        if isinstance(values, dict):  # column-wise, see _List.encode_many
            n = len(next(iter(values.values())))
            return [0] * n, [k.encode_many(values[f]) for f, k in pairs]
        return values, [
            k.encode_many([None if v is None else v.get(f) for v in values])
            for f, k in pairs
        ]

    def put_many(self, enc):
        values, items = enc
        self._count(values)
        for k, part in zip(self.kids, items):
            k.put_many(part)


def column_builder(type: pa.DataType) -> ColumnBuilder:
    """A :class:`ColumnBuilder` for ``type`` (``TypeError`` for a type it
    does not build)."""
    if pa.types.is_string(type) or pa.types.is_binary(type):
        return _Bytes(type)
    if type in _CODES:
        return _Fixed(type)
    if pa.types.is_list(type):
        return _List(type)
    if pa.types.is_struct(type):
        return _Struct(type)
    raise TypeError(f"column_builder: unsupported type {type}")


def append_rows(cols, rows) -> None:
    """Append row tuples to ``cols`` (one builder per field), all or
    nothing: every column is encoded before any is written."""
    if rows:
        enc = [c.encode_many(v) for c, v in zip(cols, zip(*rows))]
        for c, e in zip(cols, enc):
            c.put_many(e)


def arrow_column(values, type: pa.DataType) -> pa.Array:
    """``pa.array(values, type)`` for the types the workers emit, built
    by one :class:`ColumnBuilder` (so without loading pandas); a lone
    surrogate in a ``str`` raises ``UnicodeEncodeError``, as there."""
    b = column_builder(type)
    b.put_many(b.encode_many(values))
    return b.finish()


def make_extract_iterator(
    passthrough=("url", "warc_ts", "lang"), max_slice_bytes: int | None = None
):
    """Build a mapInPandas function: batches of pages → extraction batches.

    Kept only as the subject of perfbench's ``boundary_layer`` (with
    :func:`extract_series`); every pipeline crosses the boundary through
    :func:`make_parse_iterator`, and pandas is imported only when this
    function is called.  Delete both once that layer times the Arrow
    path (a change to the benchmark).

    Each incoming batch is processed in byte-bounded row slices (see
    ``_WORKER_BATCH_BYTES``) so output accumulation stays bounded even on
    giant-document batches."""
    bound = _WORKER_BATCH_BYTES if max_slice_bytes is None else max_slice_bytes
    out_cols = list(_EXTRACT_COLS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # BYTE lengths: the html column is binary in the standard
            # pipeline (len == bytes); a str column (extract_series
            # accepts both) counts characters, under-reading multibyte
            # text by up to 4x.  Measuring by h.encode() would allocate a
            # transient doc-sized copy for exactly the giant documents
            # this planner is defending against, so non-ASCII strings use
            # the no-copy 4x worst-case bound instead (safe direction:
            # at most finer slicing); isascii() is a C-speed scan.
            sizes = [
                0
                if h is None
                else (
                    len(h)
                    if isinstance(h, (bytes, bytearray)) or h.isascii()
                    else 4 * len(h)
                )
                for h in pdf["html"]
            ]
            for start, length in byte_slices(sizes, bound):
                part = (
                    pdf
                    if length == len(pdf)
                    else pdf.iloc[start : start + length]
                )
                out = extract_series(part["html"])
                for col in passthrough:
                    out[col] = part[col].values
                yield out[list(passthrough) + out_cols]

    return run


def make_parse_iterator(
    per_doc,
    fields,
    passthrough=("url", "warc_ts", "lang"),
    max_slice_bytes: int | None = None,
):
    """The one mapInArrow batch loop of the parse family: RecordBatches
    with an ``html`` column → RecordBatches of (passthrough…, fields…).

    Per byte-bounded slice (:func:`arrow_slices`) the html column is
    unboxed once at the C level and ``per_doc`` runs on every decoded
    document with the cyclic GC off (alloc-heavy build loop, parity with
    parser.py:38).  Each document's row goes into the slice's
    :class:`ColumnBuilder` columns as soon as ``per_doc`` returns it; the
    passthrough columns are re-emitted zero-copy.  No pandas anywhere.

    ``fields`` is ``[(name, pa.DataType)]`` and ``per_doc`` returns one
    tuple per document whose i-th slot fills field i.  ``per_doc`` never
    raises: a poison page becomes an error value, never a task failure.
    So does a row that is not encodable as UTF-8 (the engine keeps the
    reference's ``chr()``, so ``&#55296;`` yields a lone surrogate): it
    is replaced by ``UnicodeEncodeError: …`` in every field whose name
    ends in ``error`` and NULL elsewhere."""
    names = list(passthrough) + [f for f, _ in fields]
    types = [t for _, t in fields]

    def poison(msg):
        return tuple(msg if f.endswith("error") else None for f, _ in fields)

    def run(batches):
        for rb in arrow_slices(batches, "html", max_slice_bytes):
            cols = [column_builder(t) for t in types]
            gc_was_enabled = gc.isenabled()
            gc.disable()
            try:
                for h in rb.column("html").to_pylist():
                    row = per_doc(decode_html(h))
                    try:
                        append_rows(cols, [row])
                    except UnicodeEncodeError as e:
                        append_rows(cols, [poison(f"UnicodeEncodeError: {e}")])
            finally:
                if gc_was_enabled:
                    gc.enable()
            arrays = [rb.column(c) for c in passthrough]
            arrays += [c.finish() for c in cols]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return run


def make_extract_arrow_iterator(
    passthrough=("url", "warc_ts", "lang"), max_slice_bytes: int | None = None
):
    """mapInArrow function: RecordBatches of pages → extraction
    RecordBatches (``EXTRACT_SCHEMA``), one :func:`extract_one` per doc.
    Spark never runs its pandas→Arrow struct converter over the nested
    ``spans`` column, and ``warc_ts`` skips two timezone-aware datetime
    conversions, because neither side goes through pandas."""
    return make_parse_iterator(
        extract_one, EXTRACT_FIELDS, passthrough, max_slice_bytes
    )


def make_serialize_iterator(
    whats, passthrough=("url",), max_slice_bytes: int | None = None
):
    """mapInArrow function: html → ``{w}_value``/``{w}_error`` string
    columns for each serializer ``w`` in ``whats`` (keys of
    ``_SERIALIZERS``), all from ONE parse per document — the parse
    dominates the cost, so asking for several serializations must not
    pay it twice.  A parse failure poisons every slot with the same error
    (the reference raises at tokenize time); a serializer-specific
    failure errors only its own slot."""
    fns = [_SERIALIZERS[w] for w in whats]

    def one(html):
        try:
            a = parse_arena(html)
        except Exception as e:  # noqa: BLE001 — error-row at scale
            return (None, f"{type(e).__name__}: {e}") * len(fns)
        row = ()
        for fn in fns:
            try:
                row += (fn(a), None)
            except Exception as e:  # noqa: BLE001
                row += (None, f"{type(e).__name__}: {e}")
        return row

    fields = [
        (f"{w}_{part}", pa.string()) for w in whats for part in ("value", "error")
    ]
    return make_parse_iterator(one, fields, passthrough, max_slice_bytes)


def make_nodes_arrow_iterator(
    fields=None, passthrough=("url",), max_slice_bytes: int | None = None
):
    """mapInArrow function for the relational tier: RecordBatches of pages
    → (passthrough…, nodes array<struct<…>>) RecordBatches.

    Each document's nodes go into the slice's builders column-wise
    (:func:`append_nodes_columns`, no per-node dicts); an unparseable doc
    is a NULL nodes row.  Node records are several times the html size,
    so the byte-bounded slices are what keep a batch of big pages from
    building every node of the batch at once."""
    flds = list(fields) if fields else list(NODE_FIELD_TYPES)
    nodes_t = pa.list_(pa.struct([(f, _ARROW_NODE_FIELD_TYPES[f]) for f in flds]))

    def one(html):
        # this document's nodes column-wise, {field: [values]}: a parse
        # or walk that raises midway leaves the slice's builders untouched
        cols = {f: [] for f in flds}
        try:
            append_nodes_columns(parse_arena(html), cols)
        except Exception:  # noqa: BLE001 — error-row policy
            return (None,)
        return (cols,)

    return make_parse_iterator(
        one, [("nodes", nodes_t)], passthrough, max_slice_bytes
    )
