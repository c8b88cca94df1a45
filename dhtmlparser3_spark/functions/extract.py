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

Spans: per-text-node (src_start, src_end) offsets into the decoded html —
``html[src_start:src_end]`` is the raw slice each text node came from.
"""

from __future__ import annotations

import gc
from typing import Iterator, List

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from dhtmlparser3_spark.engine import serialize
from dhtmlparser3_spark.engine.dom import Arena, parse_arena
from dhtmlparser3_spark.engine.lexer import TAG, TEXT

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
    order: List[int] = []
    depths: List[int] = []
    parents: List[int] = []  # structural parent as pre-order rank
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

    n = len(order)
    sub_end = [0] * n
    # subtree_end: walk ranks backwards keeping a stack of open ancestors
    for i in range(n - 1, -1, -1):
        sub_end[i] = i + 1
    # propagate: a parent's subtree extends to max(subtree_end of children)
    for i in range(n - 1, 0, -1):
        p = parents[i]
        if sub_end[i] > sub_end[p]:
            sub_end[p] = sub_end[i]

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
    node records to per-field flat lists (the node iterator builds one
    StructArray per batch from them — no per-node Python dicts).  Same
    walk, same numbering, same values as flatten_nodes; parity pinned by
    tests/test_relational_differential.py::test_node_table_arrow_parity.
    Returns the number of nodes appended."""
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

    n = len(order)
    sub_end = list(range(1, n + 1))
    for i in range(n - 1, 0, -1):
        p = parents[i]
        if sub_end[i] > sub_end[p]:
            sub_end[p] = sub_end[i]

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
    :func:`make_extract_iterator`); no pipeline runs it.

    Column-wise frame construction: building a DataFrame from row tuples
    costs ~28µs/row in pandas — at 10^12 docs that is pure waste, so we
    transpose once and hand pandas ready columns.
    """
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


# worker-side byte bound per processed slice: the JVM already double-bounds
# its batches by rows AND bytes (plans/session.py maxBytesPerBatch), but a
# defense in depth matters at the 100 TB design point — an engine path
# that ignores the conf, or a caller-tuned giant row bound, must not make
# one worker hold a whole oversized batch's OUTPUT (extracted text ≈ input
# size, node records several times it) on top of its input.  Slices are
# planned from the html byte lengths; a single row always forms a slice
# even beyond the bound (the irreducible unit).
_WORKER_BATCH_BYTES = 64 << 20


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
    to ``_WORKER_BATCH_BYTES``; tests pass a small bound).  This is the
    shared front half of every worker loop that unboxes documents: slice
    BEFORE ``to_pylist``, because unboxing a giant batch's column in one
    go would materialize every document as a Python object at once.  An
    empty batch is yielded once, so it still produces an output batch."""
    bound = _WORKER_BATCH_BYTES if max_slice_bytes is None else max_slice_bytes
    for whole in batches:
        sizes = pc.binary_length(whole.column(column)).to_pylist()
        for start, length in byte_slices(
            [s or 0 for s in sizes], bound
        ) or [(0, 0)]:
            yield whole if length == whole.num_rows else whole.slice(start, length)


def make_extract_iterator(
    passthrough=("url", "warc_ts", "lang"), max_slice_bytes: int | None = None
):
    """Build a mapInPandas function: batches of pages → extraction batches.

    Kept only as the subject of perfbench's ``boundary_layer`` (with
    :func:`extract_series`); every pipeline crosses the boundary through
    :func:`make_parse_iterator`.  Delete both once that layer times the
    Arrow path.

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
    build=None,
):
    """The one mapInArrow batch loop of the parse family: RecordBatches
    with an ``html`` column → RecordBatches of (passthrough…, fields…).

    Per byte-bounded slice (:func:`arrow_slices`) the html column is
    unboxed once at the C level, ``per_doc`` runs on every decoded
    document with the cyclic GC off (alloc-heavy build loop, parity with
    parser.py:38), the output columns are built directly as typed Arrow
    arrays and the passthrough columns are re-emitted zero-copy — no
    pandas on either side of the boundary.  ``per_doc`` never raises: a
    poison page becomes an error value, never a task failure.

    ``fields`` is ``[(name, pa.DataType)]``.  By default ``per_doc``
    returns one tuple per document whose i-th slot fills field i;
    ``build(values) -> [pa.Array]`` replaces that for outputs assembled
    another way (the node table)."""
    names = list(passthrough) + [f for f, _ in fields]
    if build is None:
        types = [t for _, t in fields]

        def build(rows):
            cols = list(zip(*rows)) if rows else [()] * len(types)
            return [pa.array(c, t) for c, t in zip(cols, types)]

    def run(batches):
        for rb in arrow_slices(batches, "html", max_slice_bytes):
            htmls = rb.column("html").to_pylist()
            gc_was_enabled = gc.isenabled()
            gc.disable()
            try:
                values = [per_doc(decode_html(h)) for h in htmls]
            finally:
                if gc_was_enabled:
                    gc.enable()
            arrays = [rb.column(c) for c in passthrough] + build(values)
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

    The per-slice node struct is assembled as flat Arrow child arrays +
    one offsets vector (null offset = unparseable doc → NULL nodes row).
    Node records are several times the html size, so the byte-bounded
    slices are what keep a batch of big pages from building every node
    of the batch at once."""
    flds = list(fields) if fields else list(NODE_FIELD_TYPES)
    child_types = [_ARROW_NODE_FIELD_TYPES[f] for f in flds]
    nodes_t = pa.list_(pa.struct(list(zip(flds, child_types))))

    def one(html):
        # fresh per-doc lists: a parse or walk that raises midway leaves
        # nothing half-appended to the slice's columns
        cols = {f: [] for f in flds}
        try:
            append_nodes_columns(parse_arena(html), cols)
        except Exception:  # noqa: BLE001 — error-row policy
            return None
        return cols

    def build(docs):
        flat = {f: [] for f in flds}
        offsets = [0]
        for d in docs:
            if d is not None:
                for f in flds:
                    flat[f].extend(d[f])
            offsets.append(len(flat[flds[0]]))
        child = pa.StructArray.from_arrays(
            [pa.array(flat[f], t) for f, t in zip(flds, child_types)],
            names=flds,
        )
        is_null = [d is None for d in docs]
        return [
            pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                child,
                mask=pa.array(is_null) if any(is_null) else None,
            )
        ]

    return make_parse_iterator(
        one, [("nodes", nodes_t)], passthrough, max_slice_bytes, build
    )
