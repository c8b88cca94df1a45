"""WARC ingest: Common-Crawl-style ``.warc.gz`` files → the pages table.

The north-star pipeline reads an Iceberg table of Common-Crawl-style pages
(BASELINE.json ``input_hint``), but that table has to come from somewhere:
Common Crawl publishes WARC — concatenated per-record gzip members, each
member one ``WARC/1.0`` record (ISO 28500).  This module is the ingest
edge that turns those files into ``(url, warc_ts, html)`` rows feeding
``pipeline/extract_job.extract_pages`` or a pages-table sink, plus a
deterministic writer so tests and benches can synthesize WARC input with
no external data.

Scale shape (100 TB = one Common Crawl monthly snapshot, ~72k files of
~1 GiB):

* ``spark.read.format("binaryFile")`` gives one task per WARC file — 72k
  tasks is ample parallelism for a 1000-executor cluster, and the gzip
  stream decodes sequentially anyway (per-record members make records
  independently decodable, but FINDING member boundaries still means
  scanning the stream — random access needs the CDX index, below).
* The records are decoded and parsed inside ONE mapInArrow stage; raw
  html never shuffles (the repo-wide rule — layout.py docstring), and
  chaining ``extract_pages`` keeps parse+extract in the same stage.
* Memory: the ``binaryFile`` scan is pruned to the file LISTING — shard
  bytes never cross the JVM.  Each worker opens its shard (``open()``:
  local or mounted paths; ``_local_path`` is the object-store seam) and
  decompresses it incrementally, yielding records in Arrow batches cut at
  ``batch_rows`` rows or at the worker slice of str/bytes values (1 MiB,
  ``functions.extract._WORKER_BATCH_BYTES``), whichever comes first, so
  worker memory is bounded by the batch, not by the shard (~1 GiB).
* Record-level random access — resuming mid-file, or fetching single
  documents — comes from Common Crawl's CDX index, which carries
  ``(filename, offset, length)`` per record precisely because each record
  is its own gzip member.  ``rec_offset`` emitted here is that offset
  (byte position of the member in the compressed file), so a lineage
  checkpoint of ``(src_file, rec_offset)`` is replayable against the
  published index; ``read_warc_at`` is that ranged reader — it fetches
  exactly the checkpointed records via seek + single-member decompress,
  never rescanning whole shards.

Error policy (same as the extract tier — one poison record must never
fail a task at 10^12-document scale): a record whose WARC headers do not
parse yields an error ROW carrying ``(src_file, rec_offset, error)``; a
corrupt gzip member additionally ends that FILE's scan (member boundaries
after a corrupt stream cannot be trusted — the CDX offsets are how a real
pipeline would skip past it) with one error row saying so.  Non-``response``
records (warcinfo, request, metadata) are skipped: that is every WARC
consumer's contract, not data loss.  One member loop (``_record_rows``)
states this policy for every WARC-layout reader (here, ``wet.py`` and
``wat.py``); a reader contributes only its WARC-Type, its column types and
a per-record row function.

Both WARC layouts are read, detected per file (and per offset in the
ranged reader) by the gzip magic: Common Crawl's per-record-gzip
``.warc.gz`` (offsets = member starts, the CDX key) and UNCOMPRESSED
``.warc`` (wget/warcio's default; offsets = record starts).  Plain-mode
boundaries derive from each record's ``Content-Length`` header, so a
malformed header there ends that file's scan (gzip members re-sync,
plain records cannot) — same one-error-row policy.

HTTP payload decoding: real Common Crawl ``response`` blocks frequently
carry ``Transfer-Encoding: chunked`` and/or ``Content-Encoding:
gzip/deflate`` — the capture preserves the wire bytes, so the ingest edge
must dechunk and decompress or the html column silently carries chunk-size
framing / still-compressed bytes into ``parse()``.  ``http_response`` removes
transfer codings (chunked; gzip/deflate transfer codings too), then the
content coding (gzip, x-gzip, deflate — both zlib-wrapped and the raw
variant some servers send — and identity).  An encoding this module cannot
decode (``br``/``zstd``/unknown — no codec in this environment) or
malformed framing yields an error ROW (``html`` NULL, ``error`` =
``http: ...``) keyed by the record's url/offset, never a silent
pass-through and never a task failure.  Repeated ``Content-Encoding`` /
``Transfer-Encoding`` lines combine into one coding list (RFC 9110 §5.3),
so a body coded twice is decoded twice, never passed on half-decoded.

HTTP status: each response record's status code is surfaced as the
``http_status`` column (NULL for non-HTTP ``resource`` captures and
malformed status lines — lenient, the body still decodes).  The
``warc_pages`` adapters default to the 200-only policy Common Crawl's
WET conversion applies — a 404's body is an error page, not the page —
while ``read_warc`` itself keeps every record so the status mix is
still measurable (``statuses=None`` restores keep-everything).

Redirects and truncation: a 3xx capture's ``Location`` header is resolved
against the capture url (RFC 3986 reference resolution — relative
``Location`` values are common) into the ``redirect_to`` column — the
second url-discovery source a crawl frontier consumes besides sitemaps
(pipeline/frontier.py) — and a record the crawler cut short (length/time/
disconnect caps) surfaces its ``WARC-Truncated`` reason in the
``truncated`` column, so a corpus build can drop or re-fetch partial
bodies instead of training on them.  Both NULL in the common case.

Charset: after wire decoding, each payload's character encoding is
resolved browser-style (BOM → HTTP ``Content-Type`` charset → ``<meta>``
prescan of the first 1024 bytes → utf-8; WHATWG sniffing, simplified — see
the charset section below) and non-UTF-8 payloads are transcoded to UTF-8
bytes ONCE at this edge, so the ``html`` column is always UTF-8 and every
downstream decode is correct unchanged.  The ``charset`` column records
``codec:source`` per row (NULL on error rows).

Reference tie-in: dhtmlparser3 has no I/O beyond ``parse_file``
(dhtmlparser3/__init__.py:14-23 — whole-file read, encoding arg ignored);
WARC ingest is pipeline scope on top, and the decoded html bytes flow into
the byte-identical ``parse → content_str`` path unchanged.
"""

from __future__ import annotations

import codecs
import contextlib
import re
import zlib
from typing import Iterator, List, Optional, Tuple
from urllib.parse import urljoin

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# mapInArrow output; warc_date stays a STRING here and becomes a proper
# timestamp JVM-side (read_warc) — to_timestamp in the session's UTC zone,
# not a per-worker Python datetime conversion
RAW_SCHEMA = (
    "src_file string, rec_offset bigint, url string, warc_date string, "
    "html binary, error string, charset string, http_status int, "
    "redirect_to string, truncated string"
)

_CRLF2 = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b"
# cap on a plain-mode WARC header block: a record whose CRLFCRLF terminator
# has not appeared within this many bytes is malformed, not merely large
_MAX_WARC_HEADER = 1 << 20


class WarcStreamError(Exception):
    """The record STREAM is no longer trustworthy (truncated/corrupt gzip
    member, unparseable plain-mode header — whose Content-Length defines
    the next record boundary): the reader must emit one error row and end
    THIS file's scan.  Per-record errors inside an intact stream raise
    ValueError instead and the scan continues."""


def split_gzip_members(data: bytes) -> Iterator[Tuple[int, bytes]]:
    """(member_start_offset, decompressed_bytes) per gzip member.

    Common Crawl compresses each WARC record as its own gzip member and
    concatenates them; stdlib ``gzip.decompress`` would splice all members
    into one stream, losing record boundaries AND the member offsets the
    CDX index keys on.  A zlib ``decompressobj`` per member keeps both.
    Raises ``zlib.error`` mid-iteration on a corrupt member — the caller
    owns the end-this-file policy.

    A thin wrapper of ``stream_gzip_extents`` over a BytesIO view (its
    bounded-chunk feed copies O(chunk) per member, where feeding whole
    ``data[pos:]`` tails would copy O(members × remaining)).
    """
    import io

    for off, _length, raw in stream_gzip_extents(io.BytesIO(data)):
        yield off, raw


def parse_warc_fields(raw: bytes) -> Tuple[dict, bytes]:
    """One decompressed member → (WARC header dict {lower-name bytes:
    stripped value bytes}, block) or raise.

    WARC/1.0 layout: version line, header lines, CRLFCRLF, then exactly
    ``Content-Length`` bytes of block (for ``response`` records the block
    is an HTTP response), then CRLFCRLF trailer (ignored).
    """
    head_end = raw.find(_CRLF2)
    if head_end < 0:
        raise ValueError("no WARC header terminator")
    lines = raw[:head_end].split(b"\r\n")
    if not lines[0].startswith(b"WARC/"):
        raise ValueError(f"bad version line {lines[0][:40]!r}")
    hdr = {}
    for ln in lines[1:]:
        k, sep, v = ln.partition(b":")
        if sep:
            hdr[k.strip().lower()] = v.strip()
    try:
        clen = int(hdr[b"content-length"])
    except (KeyError, ValueError):
        raise ValueError("missing/invalid Content-Length")
    block = raw[head_end + 4 : head_end + 4 + clen]
    if len(block) < clen:
        raise ValueError(f"short block: {len(block)} < {clen}")
    return hdr, block


def _warc_tuple(hdr: dict, block: bytes):
    return (
        hdr.get(b"warc-type", b"").decode("ascii", "replace"),
        hdr.get(b"warc-target-uri", b"").decode("utf-8", "replace"),
        hdr.get(b"warc-date", b"").decode("ascii", "replace"),
        block,
    )


def parse_warc_record(raw: bytes):
    """``parse_warc_fields`` flattened to the (warc_type, url, date, block)
    tuple most callers want."""
    hdr, block = parse_warc_fields(raw)
    return _warc_tuple(hdr, block)


def _warc_truncated(hdr: dict) -> Optional[str]:
    """``WARC-Truncated`` reason token, or None when the header is absent.
    The spec requires a reason (length/time/disconnect/unspecified); an
    empty value is lenient-normalized to ``unspecified`` rather than
    losing the only signal that the body is partial."""
    t = hdr.get(b"warc-truncated")
    if t is None:
        return None
    return t.decode("ascii", "replace").strip().lower() or "unspecified"


# list-valued headers whose repeated lines mean ONE comma-joined list
# (RFC 9110 §5.3): dropping a repeat would leave a coding undecoded
_LIST_HEADERS = (b"content-encoding", b"transfer-encoding")


def _http_headers(head: bytes) -> dict:
    """Header section (no status line) → {lower-name: value} bytes dict.
    Repeated coding headers combine with ``, `` in arrival order; any
    other repeated name (``Content-Type``, ``Location``) keeps the LAST
    value."""
    hdr = {}
    for ln in head.split(b"\r\n"):
        k, sep, v = ln.partition(b":")
        if sep:
            k, v = k.strip().lower(), v.strip()
            if k in _LIST_HEADERS and k in hdr:
                v = hdr[k] + b", " + v
            hdr[k] = v
    return hdr


def _dechunk(body: bytes) -> bytes:
    """Remove ``Transfer-Encoding: chunked`` framing (RFC 9112 §7.1):
    ``hex-size[;ext]CRLF data CRLF`` repeated, ``0``-size chunk last,
    optional trailer ignored.  Lenient on bare-LF line endings (captures
    of sloppy servers); anything else malformed raises ValueError."""
    out = []
    pos, n = 0, len(body)
    while True:
        eol = body.find(b"\n", pos)
        if eol < 0:
            raise ValueError("chunked: missing chunk-size line")
        line = body[pos:eol].rstrip(b"\r")
        size_s = line.split(b";", 1)[0].strip()  # drop chunk extensions
        try:
            size = int(size_s, 16)
        except ValueError:
            raise ValueError(f"chunked: bad chunk size {size_s[:20]!r}")
        pos = eol + 1
        if size == 0:
            return b"".join(out)  # trailer section (if any) ignored
        if pos + size > n:
            raise ValueError(f"chunked: truncated chunk of {size} bytes")
        out.append(body[pos : pos + size])
        pos += size
        # chunk data must be followed by CRLF (LF tolerated)
        if body[pos : pos + 2] == b"\r\n":
            pos += 2
        elif body[pos : pos + 1] == b"\n":
            pos += 1
        else:
            raise ValueError("chunked: missing CRLF after chunk data")


def _gunzip_payload(data: bytes) -> bytes:
    """gzip-decode an HTTP payload; tolerates multi-member streams (rare
    but valid).  zlib.error → ValueError for the caller's error row."""
    out = []
    while data:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(data))
        except zlib.error as e:
            raise ValueError(f"gzip payload: {e}")
        if not d.eof:
            raise ValueError("gzip payload: truncated")
        data = d.unused_data
    return b"".join(out)


def _inflate_payload(data: bytes) -> bytes:
    """``deflate``-decode: RFC says zlib-wrapped, many servers send raw
    deflate — try the wrapper first, fall back to raw (the standard
    browser behavior)."""
    for wbits in (15, -15):
        d = zlib.decompressobj(wbits=wbits)
        try:
            out = d.decompress(data) + d.flush()
        except zlib.error:
            continue
        if d.eof:
            return out
    raise ValueError("deflate payload: undecodable or truncated")


def _decode_coding(body: bytes, coding: bytes) -> bytes:
    if coding in (b"gzip", b"x-gzip"):
        return _gunzip_payload(body)
    if coding == b"deflate":
        return _inflate_payload(body)
    if coding in (b"identity", b""):
        return body
    if coding == b"br":
        # brotli seam: decoded when the codec is installed (real clusters
        # ship it; this container does not) — otherwise an error row, never
        # a silent pass-through of compressed bytes into parse()
        try:
            import brotli  # type: ignore
        except ImportError:
            raise ValueError("unsupported coding 'br'")
        try:
            return brotli.decompress(body)
        except Exception as e:
            raise ValueError(f"br payload: {e}")
    # zstd / unknown
    raise ValueError(
        f"unsupported coding {coding.decode('ascii', 'replace')!r}"
    )


def http_response(
    block: bytes,
) -> Tuple[Optional[int], bytes, Optional[bytes], Optional[bytes]]:
    """(status code, decoded payload, raw ``Content-Type`` value, raw
    ``Location`` value) of an HTTP response block: headers stripped,
    transfer codings removed (``chunked`` + compress codings, applied in
    reverse of the listed order per RFC 9112), then the content coding
    (module docstring).

    ``status`` is the status line's code (``HTTP/1.1 404 Not Found`` →
    404) — a real crawl pipeline filters on it (CC's WET conversion keeps
    200s only); ``None`` when the block is not an HTTP message at all
    (WARC allows raw ``resource`` captures, which pass through verbatim)
    or the status line is malformed (lenient: the body is still decoded —
    a capture must not be lost to a sloppy status line).  ``Content-Type``
    and ``Location`` are ``None`` when absent; ``Location`` may be a
    relative reference — resolve it against the capture url
    (``resolve_redirect``).  Raises ValueError on malformed framing or a
    coding this module cannot decode — the record loop turns that into an
    ``http:``-prefixed error row."""
    if not block.startswith(b"HTTP/"):
        return None, block, None, None
    i = block.find(_CRLF2)
    if i < 0:
        return None, b"", None, None
    status_and_headers = block[:i]
    nl = status_and_headers.find(b"\r\n")
    status_line = status_and_headers[:nl] if nl >= 0 else status_and_headers
    status: Optional[int] = None
    parts = status_line.split(None, 2)
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    hdr = _http_headers(status_and_headers[nl + 2 :] if nl >= 0 else b"")
    body = block[i + 4 :]
    te = [t.strip().lower() for t in hdr.get(b"transfer-encoding", b"").split(b",") if t.strip()]
    for coding in reversed(te):
        if coding == b"chunked":
            body = _dechunk(body)
        else:
            body = _decode_coding(body, coding)
    ce = [c.strip().lower() for c in hdr.get(b"content-encoding", b"").split(b",") if c.strip()]
    for coding in reversed(ce):
        body = _decode_coding(body, coding)
    return status, body, hdr.get(b"content-type"), hdr.get(b"location")


def resolve_redirect(url: str, location: Optional[bytes]) -> Optional[str]:
    """Absolute redirect target: the ``Location`` header value resolved
    against the capture url per RFC 3986 (serves the relative ``Location``
    real servers send despite RFC 9110 asking for a URI-reference the
    client must resolve anyway).  Header bytes decode latin-1 — the HTTP
    field-value charset — so no byte sequence can raise.  None in, None
    out; a resolution failure (malformed base AND target) yields None
    rather than a task error."""
    if location is None:
        return None
    loc = location.decode("latin-1").strip()
    if not loc:
        return None
    try:
        return urljoin(url or "", loc)
    except ValueError:
        return None


# --- charset detection (the decode half of "bytes off the wire") ------------
#
# dhtmlparser3's parse() takes a *str* (__init__.py:24-26); parse_file
# ignores its encoding argument entirely (whole-file read, __init__.py:9-21).
# Decoding is therefore the PIPELINE's responsibility, and "utf-8 or bust"
# silently mojibakes the long tail of real captures (windows-1252, cp932,
# gbk, ... — a large minority of any Common Crawl snapshot).  The ingest
# edge resolves each record's charset the way a browser does (WHATWG
# Encoding sniffing, simplified): BOM first, then the HTTP Content-Type
# ``charset`` parameter, then a prescan of the first 1024 payload bytes for
# a ``<meta ... charset=...>`` declaration, else utf-8 — and transcodes
# non-UTF-8 payloads to UTF-8 bytes ONCE, here, so every downstream decode
# (functions/extract.decode_html) is correct without change.  UTF-8 input
# (the fast path, most of the web) passes through byte-untouched — the
# reference's BOM-strip quirk (dom.py len>3) still sees its exact bytes.
#
# Simplifications vs the full WHATWG algorithm, on purpose: no
# chardet-style statistical guessing (deterministic pipelines want
# declared-or-default, never model-dependent output), and unknown/bogus
# labels fall back to utf-8-with-replacement (browser behavior) rather
# than an error row — the resolved ``charset`` column says what happened.

# WHATWG encoding labels → python codecs, for labels whose python name
# differs or whose WHATWG meaning is a superset (iso-8859-1 IS
# windows-1252 on the web; shift_jis IS windows-31j/cp932; euc-kr IS
# windows-949/cp949; big5 includes HKSCS; gb2312 IS gbk).  Labels not in
# the table (windows-125x, iso-8859-x, koi8-r, ...) resolve through
# codecs.lookup directly.
_WHATWG_LABELS = {
    "utf8": "utf-8",
    "unicode-1-1-utf-8": "utf-8",
    "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252",
    "latin1": "windows-1252",
    "latin-1": "windows-1252",
    "l1": "windows-1252",
    "ascii": "windows-1252",
    "us-ascii": "windows-1252",
    "cp819": "windows-1252",
    "cp1252": "windows-1252",
    "x-cp1252": "windows-1252",
    "shift_jis": "cp932",
    "shift-jis": "cp932",
    "sjis": "cp932",
    "x-sjis": "cp932",
    "ms_kanji": "cp932",
    "windows-31j": "cp932",
    "gb2312": "gbk",
    "gb_2312": "gbk",
    "gb_2312-80": "gbk",
    "chinese": "gbk",
    "csgb2312": "gbk",
    "iso-ir-58": "gbk",
    "x-gbk": "gbk",
    "big5": "big5hkscs",
    "big5-hkscs": "big5hkscs",
    "cn-big5": "big5hkscs",
    "csbig5": "big5hkscs",
    "euc-kr": "cp949",
    "korean": "cp949",
    "ks_c_5601-1987": "cp949",
    "csksc56011987": "cp949",
    "iso-ir-149": "cp949",
    "ksc5601": "cp949",
    "ksc_5601": "cp949",
    "windows-949": "cp949",
    "utf-16": "utf-16",
    "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
    "tis-620": "cp874",
    "windows-874": "cp874",
    "dos-874": "cp874",
    "iso-8859-11": "cp874",
    "macintosh": "mac-roman",
    "x-mac-roman": "mac-roman",
}

# charset parameter inside a Content-Type value (RFC 9110 §8.3.2), and the
# WHATWG prescan's target inside the first kilobyte of markup — one
# pattern serves both <meta charset=x> and
# <meta http-equiv=Content-Type content="text/html; charset=x">
_CHARSET_PARAM_RE = re.compile(rb'charset\s*=\s*"?\s*([a-zA-Z0-9_.:\-]+)', re.I)
_META_PRESCAN_BYTES = 1024


def _resolve_label(label: bytes) -> Optional[str]:
    """Charset label bytes → python codec name, or None if unknown."""
    s = label.decode("ascii", "replace").strip().strip("'\"").lower()
    codec = _WHATWG_LABELS.get(s, s)
    try:
        return codecs.lookup(codec).name
    except (LookupError, ValueError):
        return None


def detect_charset(
    body: bytes, content_type: Optional[bytes] = None
) -> Tuple[str, str]:
    """(python codec, source) for one payload — source ∈ ``bom`` /
    ``http`` / ``meta`` / ``default``, precedence in that order (a BOM
    overrides everything, per WHATWG)."""
    if body.startswith(codecs.BOM_UTF8):
        return "utf-8", "bom"
    if body.startswith(codecs.BOM_UTF16_LE) or body.startswith(
        codecs.BOM_UTF16_BE
    ):
        return "utf-16", "bom"  # python's utf-16 codec consumes the BOM
    if content_type:
        m = _CHARSET_PARAM_RE.search(content_type)
        if m:
            codec = _resolve_label(m.group(1))
            if codec:
                return codec, "http"
    m = _CHARSET_PARAM_RE.search(body[:_META_PRESCAN_BYTES])
    if m:
        codec = _resolve_label(m.group(1))
        if codec:
            return codec, "meta"
    return "utf-8", "default"


def transcode_utf8(
    body: bytes, content_type: Optional[bytes] = None
) -> Tuple[bytes, str]:
    """(utf-8 payload bytes, resolved ``charset`` column value
    ``codec:source``).  UTF-8 input returns the SAME bytes object (zero
    copy, BOM untouched); anything else decodes with
    ``errors="replace"`` (browser behavior — a stray bad byte must not
    cost the document) and re-encodes."""
    codec, source = detect_charset(body, content_type)
    if codec == "utf-8":
        return body, f"utf-8:{source}"
    return (
        body.decode(codec, errors="replace").encode("utf-8"),
        f"{codec}:{source}",
    )


def stream_gzip_extents(
    f, chunk_bytes: int = 1 << 20
) -> Iterator[Tuple[int, int, bytes]]:
    """``(offset, length, decompressed_bytes)`` per gzip member of a FILE
    OBJECT, from its current position: ``offset``/``length`` are the
    member's COMPRESSED byte extent, what a CDX index publishes for the
    record (a ranged fetch of exactly those bytes is one whole gzip
    member).  Holds only the current member's decompressed bytes + one
    ``chunk_bytes`` read buffer, never the whole compressed shard.
    Raises ``zlib.error`` mid-iteration on a truncated member."""
    pos = f.tell()  # absolute compressed offset of the current member's start
    buf = b""  # compressed bytes read past the previous member's end
    while True:
        if not buf:
            buf = f.read(chunk_bytes)
            if not buf:
                return
        d = zlib.decompressobj(wbits=31)
        out = [d.decompress(buf)]
        fed = len(buf)
        while not d.eof:
            chunk = f.read(chunk_bytes)
            if not chunk:
                raise zlib.error(f"truncated gzip member at offset {pos}")
            out.append(d.decompress(chunk))
            fed += len(chunk)
        consumed = fed - len(d.unused_data)
        yield pos, consumed, b"".join(out)
        pos += consumed
        buf = d.unused_data


def _plain_record_extent(buf: bytes, base: int) -> Tuple[int, int]:
    """(header_end, content_length) of the plain-mode record starting at
    ``buf[0]`` (file offset ``base``, for the message); raises
    WarcStreamError if the header is malformed — in an UNCOMPRESSED
    stream the Content-Length header IS the record boundary, so an
    unparseable header means every later boundary is untrusted (unlike
    the gzip layout, where members re-sync)."""
    head_end = buf.find(_CRLF2, 0, _MAX_WARC_HEADER)
    if head_end < 0:
        raise WarcStreamError(f"no header terminator at offset {base}")
    if not buf[:5] == b"WARC/":
        raise WarcStreamError(f"bad version line at offset {base}")
    clen = None
    for ln in buf[:head_end].split(b"\r\n")[1:]:
        k, sep, v = ln.partition(b":")
        if sep and k.strip().lower() == b"content-length":
            try:
                clen = int(v.strip())
            except ValueError:
                pass
    if clen is None or clen < 0:
        raise WarcStreamError(f"missing Content-Length at offset {base}")
    return head_end, clen


def stream_warc_plain(
    f, chunk_bytes: int = 1 << 20
) -> Iterator[Tuple[int, int, bytes]]:
    """``(offset, length, record_bytes)`` per record of an UNCOMPRESSED
    ``.warc`` FILE OBJECT (wget's and warcio's default output; Common
    Crawl always ships per-record gzip, but the format is legitimate and
    silently skipping it would be data loss), from its current position.
    Offsets are record START byte positions — what a CDX over an
    uncompressed WARC publishes — and ``length`` is the record's bytes
    without the inter-record CRLFCRLF trailer.  Holds one record + one
    read buffer.  Raises WarcStreamError on a malformed header or a
    truncated record (boundary-defining, see ``_plain_record_extent``)."""
    base = f.tell()  # absolute offset of buf[0]
    buf = b""
    while True:
        # ensure a parseable header (or EOF) in the buffer
        while True:
            while buf[:2] == b"\r\n":
                base += 2
                buf = buf[2:]
            if buf.find(_CRLF2) >= 0 or len(buf) > _MAX_WARC_HEADER + 4:
                break
            chunk = f.read(chunk_bytes)
            if not chunk:
                if not buf:
                    return
                break
            buf += chunk
        head_end, clen = _plain_record_extent(buf, base)
        end = head_end + 4 + clen
        while len(buf) < end:
            chunk = f.read(chunk_bytes)
            if not chunk:
                raise WarcStreamError(f"truncated record at offset {base}")
            buf += chunk
        yield base, end, buf[:end]
        base += end
        buf = buf[end:]


def _file_members(f) -> Iterator[Tuple[int, int, bytes]]:
    """The one member iterator: ``(offset, length, raw)`` per record from
    ``f``'s current position to EOF, the layout detected THERE by the
    gzip magic (per file for a scan, per offset for a ranged fetch).
    Decompresses incrementally: O(record) memory, whatever the shard
    size."""
    start = f.tell()
    magic = f.read(2)
    f.seek(start)
    if magic == _GZ_MAGIC:
        yield from stream_gzip_extents(f)
    else:
        yield from stream_warc_plain(f)


def _local_path(path: str) -> str:
    """binaryFile / input listings emit ``file:`` URIs; open() wants a
    plain path.  (On a cluster this open() is the posix/NFS seam — an
    object store would swap in pyarrow.fs.open_input_file, same
    stream/seek contract.)"""
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    return path


def _path_members(path: str) -> Iterator[Tuple[int, int, bytes]]:
    """``_file_members`` of the file at ``path``; an unopenable file
    raises its OSError at the first ``next``, like a corrupt member."""
    with open(_local_path(path), "rb") as f:
        yield from _file_members(f)


def _err_row(
    path: str, msg: str, types: dict, off: int = -1, length=None
) -> tuple:
    """Schema-shaped error row: ``path``, the record's offset (-1: no
    record) and on-disk length if the schema has one, the message in the
    ``error`` slot, NULL everywhere else."""
    vals = {"src_file": path, "rec_offset": off, "rec_length": length,
            "error": msg}
    return tuple(vals.get(k) for k in types)


def _record_rows(path: str, wtype: str, row_fn, types: dict):
    """One file's rows: the one member loop of every WARC-layout reader,
    so the error policy (module docstring) is stated once.  A corrupt
    gzip member, a lost plain-mode boundary or an unopenable file gives
    one error row, then the scan of THIS file ends (boundaries past a
    corrupt stream are untrusted); a record whose WARC headers do not
    parse gives an error row and the scan continues; a record of another
    WARC-Type is skipped.  ``row_fn(path, offset, length, hdr, block)``
    turns each ``wtype`` record into one ``types``-shaped row."""
    want = wtype.encode()
    with contextlib.closing(_path_members(path)) as members:
        while True:
            try:
                off, length, raw = next(members)
            except StopIteration:
                return
            except (zlib.error, OSError) as e:
                yield _err_row(path, f"gzip: {e}", types)
                return
            except WarcStreamError as e:
                yield _err_row(path, f"warc: {e} (scan ended)", types)
                return
            try:
                hdr, block = parse_warc_fields(raw)
            except ValueError as e:
                yield _err_row(path, f"warc: {e}", types, off, length)
                continue
            if hdr.get(b"warc-type") == want:
                yield row_fn(path, off, length, hdr, block)


def _response_row(path: str, off: int, _length, hdr: dict, block: bytes):
    """One ``response`` record → RAW_SCHEMA row tuple (the scan and the
    ranged fetch share it): HTTP decode, charset transcode, redirect and
    truncation columns; an undecodable payload is an ``http:`` error row
    that keeps url/date (lineage-addressable, re-fetchable via
    ``read_warc_at``)."""
    _wtype, url, date, block = _warc_tuple(hdr, block)
    try:
        status, body, ctype, loc = http_response(block)
    except ValueError as e:
        return (path, off, url, date, None, f"http: {e}",
                None, None, None, None)
    body, charset = transcode_utf8(body, ctype)
    return (path, off, url, date, body, None, charset, status,
            resolve_redirect(url, loc), _warc_truncated(hdr))


# Arrow type per RAW_SCHEMA column — string keys keep pyarrow imports
# inside the worker functions
_OUT_TYPES = {
    "src_file": "string",
    "rec_offset": "int64",
    "url": "string",
    "warc_date": "string",
    "html": "binary",
    "error": "string",
    "charset": "string",
    "http_status": "int32",
    "redirect_to": "string",
    "truncated": "string",
}


def _batched_record_batches(rows, batch_rows: int, types=_OUT_TYPES):
    """Row tuples → Arrow RecordBatches of ≤ ``batch_rows`` rows and ≤
    the worker slice (``functions.extract._WORKER_BATCH_BYTES``) of
    str/bytes values, so one output batch, not one output FILE, bounds
    worker memory (a 1 GiB WARC shard holds ~50-100k records; their
    bodies must not accumulate into a single Arrow batch, and 2048
    multi-MB bodies would).  A batch always takes at least one row, so a
    body beyond the byte bound travels alone.  ``types`` maps the output
    columns, in row-tuple order, to Arrow types or their aliases (RAW by
    default).  This is the one record batcher of the WARC-layout
    readers: every :func:`scan_record_files` reader and
    ``read_warc_at``.  Rows go into column builders as they come
    (``functions.extract.column_builder``; no pandas in the worker)."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions.extract import (
        _WORKER_BATCH_BYTES,
        column_builder,
    )

    fields = list(types)
    out_t = [
        t if isinstance(t, pa.DataType) else pa.type_for_alias(t)
        for t in types.values()
    ]

    def _batch(cols):
        return pa.RecordBatch.from_arrays([c.finish() for c in cols], fields)

    cols, nbytes = [column_builder(t) for t in out_t], 0
    for row in rows:
        # encoded first, so the cut counts the bytes the batch will hold
        enc = [c.encode_many((v,)) for c, v in zip(cols, row)]
        size = sum(len(e[0]) for e in enc if isinstance(e[0], bytes))
        n = cols[0].n
        if n and (n >= batch_rows or nbytes + size > _WORKER_BATCH_BYTES):
            yield _batch(cols)
            cols, nbytes = [column_builder(t) for t in out_t], 0
        for c, e in zip(cols, enc):
            c.put_many(e)
        nbytes += size
    if cols[0].n:
        yield _batch(cols)


def _scan_iterator(wtype: str, row_fn, types: dict, batch_rows: int):
    """mapInArrow fn over path-only rows: each file's
    :func:`_record_rows`, batched by :func:`_batched_record_batches`."""

    def run(batches):
        rows = (
            row
            for rb in batches
            for path in rb.column(0).to_pylist()
            for row in _record_rows(path, wtype, row_fn, types)
        )
        yield from _batched_record_batches(rows, batch_rows, types)

    return run


def _scan_paths(
    files: DataFrame, wtype: str, row_fn, schema: str, types: dict,
    batch_rows: int,
) -> DataFrame:
    """A ``binaryFile`` frame (batch or streaming) pruned to ``path`` →
    ``schema`` rows of its files' ``wtype`` records."""
    return files.select("path").mapInArrow(
        _scan_iterator(wtype, row_fn, types, batch_rows), schema
    )


def _check_local(path: str) -> None:
    """Workers ``open()`` each listed shard, so only local (or mounted)
    paths are read: another URI scheme is refused on the driver instead
    of giving one ``gzip:`` error row per file.  ``_local_path`` is where
    an object-store opener would go."""
    m = re.match(r"([A-Za-z][A-Za-z0-9+.\-]*):", path)
    if m and m.group(1).lower() != "file":
        raise ValueError(
            f"{path!r}: only local paths are read (scheme {m.group(1)!r})"
        )


# WARC-Date is ISO-8601 Zulu — second precision in CC crawls, but WARC/1.1
# allows fractional seconds (milli and micro; nano would need one more)
_WARC_DATE_PATTERNS = (
    "yyyy-MM-dd'T'HH:mm:ssX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX",
)


def warc_ts(col: str) -> Column:
    """The one ``WARC-Date`` parser: string column ``col`` → timestamp,
    JVM-side in the session's UTC zone.  ``try_to_timestamp``, so a
    malformed date gives NULL, never an ANSI cast failure killing the
    task."""
    return F.coalesce(
        *(F.try_to_timestamp(F.col(col), F.lit(p)) for p in _WARC_DATE_PATTERNS)
    )


def _with_warc_ts(raw: DataFrame) -> DataFrame:
    return raw.select(
        *(
            warc_ts(c).alias("warc_ts") if c == "warc_date" else c
            for c in _OUT_TYPES
        )
    )


def scan_record_files(
    spark: SparkSession,
    path: str,
    wtype: str,
    row_fn,
    schema: str,
    types: dict,
    batch_rows: int = 2048,
) -> DataFrame:
    """The one WARC-layout record scan, shared by ``read_warc``,
    ``read_warc_revisits``, the WET and WAT readers and the CDX indexer:
    ``binaryFile`` over ``path`` (Hadoop globs; both on-disk layouts
    detected per file) pruned to the listing, each worker opening its
    shards and decompressing them incrementally (module docstring:
    memory).  ``row_fn(path, offset, length, hdr, block)`` turns each
    ``wtype`` record into a row tuple matching ``schema``/``types``
    (Arrow types or their aliases); the error policy is
    :func:`_record_rows`'s.  Output batches come from
    :func:`_batched_record_batches`: ≤ ``batch_rows`` rows and ≤ the
    worker slice of str/bytes values.  Raises ValueError on the driver
    for a non-local ``path`` (:func:`_check_local`)."""
    _check_local(path)
    return _scan_paths(
        spark.read.format("binaryFile").load(path),
        wtype, row_fn, schema, types, batch_rows,
    )


def read_warc(
    spark: SparkSession,
    path: str,
    batch_rows: int = 2048,
) -> DataFrame:
    """``.warc.gz`` file(s) → DataFrame
    ``(src_file, rec_offset, url, warc_ts, html, error, charset,
    http_status, redirect_to, truncated)`` — ``html`` is always UTF-8
    bytes (module docstring: wire decode, then charset transcode),
    ``charset`` the resolved ``codec:source``.

    ``path`` accepts the usual Hadoop globs (``dir/*.warc.gz``) over local
    or mounted files (:func:`scan_record_files`).  Rows with ``error IS
    NULL`` carry one ``response`` record each; ``(src_file, rec_offset)``
    is the CDX-replayable lineage key (module docstring).
    """
    return _with_warc_ts(
        scan_record_files(
            spark, path, "response", _response_row, RAW_SCHEMA, _OUT_TYPES,
            batch_rows,
        )
    )


# --- revisit records (the archive's own dedup markers) -----------------------

REVISIT_SCHEMA = (
    "src_file string, rec_offset bigint, url string, warc_date string, "
    "refers_to_url string, refers_to_date string, payload_digest string, "
    "profile string, error string"
)

_REVISIT_TYPES = {
    "src_file": "string",
    "rec_offset": "int64",
    "url": "string",
    "warc_date": "string",
    "refers_to_url": "string",
    "refers_to_date": "string",
    "payload_digest": "string",
    "profile": "string",
    "error": "string",
}


def _revisit_row(path: str, off: int, _length, hdr: dict, _block):
    """One ``revisit`` record → REVISIT_SCHEMA row tuple (headers only)."""

    def s(key: bytes) -> Optional[str]:
        v = hdr.get(key)
        return v.decode("utf-8", "replace") if v is not None else None

    return (
        path,
        off,
        s(b"warc-target-uri"),
        s(b"warc-date"),
        s(b"warc-refers-to-target-uri"),
        s(b"warc-refers-to-date"),
        s(b"warc-payload-digest"),
        s(b"warc-profile"),
        None,
    )


def read_warc_revisits(
    spark: SparkSession,
    path: str,
    batch_rows: int = 4096,
) -> DataFrame:
    """``revisit`` records of WARC file(s) → DataFrame ``(src_file,
    rec_offset, url, warc_ts, refers_to_url, refers_to_ts,
    payload_digest, profile, error)``.

    A crawler that refetches a url and finds the payload unchanged writes
    a ``revisit`` record — WARC-Refers-To-Target-URI/-Date name the
    earlier capture, WARC-Payload-Digest carries the (typically sha1)
    digest both share (ISO 28500; the identical-payload-digest profile is
    what Common Crawl and Heritrix emit).  ``read_warc`` deliberately
    skips these (no payload to extract); this reader surfaces them so a
    corpus build can credit duplicate fetches — recency weighting, crawl
    freshness stats, digest-level dedup — without refetching anything.
    Error policy/lineage key as in ``read_warc``; same one-task-per-shard
    scale shape (revisit rows are tiny — headers only)."""
    raw = scan_record_files(
        spark, path, "revisit", _revisit_row, REVISIT_SCHEMA, _REVISIT_TYPES,
        batch_rows,
    )
    return raw.select(
        "src_file",
        "rec_offset",
        "url",
        warc_ts("warc_date").alias("warc_ts"),
        "refers_to_url",
        warc_ts("refers_to_date").alias("refers_to_ts"),
        "payload_digest",
        "profile",
        "error",
    )


def revisit_counts(revisits: DataFrame) -> DataFrame:
    """Duplicate-fetch credit per original capture: clean revisit rows
    grouped by (refers_to_url, payload_digest) → ``n_revisits`` plus the
    first/last revisit times.  One map-side-partial aggregation — the
    exchange carries one row per distinct original, not per revisit —
    joinable back to the pages table on url (broadcast when the revisit
    side is small, the usual case for incremental crawls)."""
    return (
        revisits.where(F.col("error").isNull())
        .groupBy("refers_to_url", "payload_digest")
        .agg(
            F.count("*").alias("n_revisits"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
        )
    )


def _fetch_iterator(batch_rows: int):
    """mapInArrow fn over index rows (src_file, rec_offset) → RAW_SCHEMA.

    One seek + the first record of :func:`_file_members` there per index
    row (decompressed in 1 MiB slices only to the member's end — a
    record fetch never reads the rest of a 1 GiB shard), then the scan's
    own :func:`_response_row`.  A file handle is kept open across
    consecutive same-file rows (the caller repartitions and sorts by file
    so each task's rows for a file are contiguous).  Output batches are
    cut by ``_batched_record_batches`` (rows and html bytes).
    """

    def rows(batches):
        cur_path, cur_f = None, None
        try:
            for rb in batches:
                for path, off in zip(
                    rb.column(0).to_pylist(), rb.column(1).to_pylist()
                ):
                    try:
                        if path is None or off is None:
                            raise ValueError("NULL src_file or rec_offset")
                        local = _local_path(path)
                        if local != cur_path:
                            if cur_f is not None:
                                cur_f.close()
                            cur_f = open(local, "rb")
                            cur_path = local
                        cur_f.seek(off)
                        rec = next(_file_members(cur_f), None)
                        if rec is None:
                            raise ValueError(f"no record at offset {off}")
                        hdr, block = parse_warc_fields(rec[2])
                        if hdr.get(b"warc-type") != b"response":
                            wtype = _warc_tuple(hdr, block)[0]
                            raise ValueError(f"not a response record ({wtype})")
                    except (
                        OSError, zlib.error, ValueError, WarcStreamError
                    ) as e:
                        yield _err_row(path, f"fetch: {e}", _OUT_TYPES, off)
                        continue
                    yield _response_row(path, off, rec[1], hdr, block)
        finally:
            if cur_f is not None:
                cur_f.close()

    def run(batches):
        yield from _batched_record_batches(rows(batches), batch_rows)

    return run


def read_warc_at(index: DataFrame, batch_rows: int = 2048) -> DataFrame:
    """Fetch EXACTLY the records named by an index/lineage DataFrame
    ``(src_file, rec_offset)`` — the CDX random-access path (module
    docstring): sub-file resume replays a checkpoint's undone
    ``(src_file, rec_offset)`` rows without rescanning whole shards.

    Output schema == ``read_warc``.  Shape at scale: the index (tiny —
    offsets, not content) shuffles once on ``src_file`` so each task
    opens a shard at most once and seeks its offsets in ascending order;
    the shard bytes themselves never shuffle.  A missing file, bad or
    NULL offset, NULL file, corrupt member, or non-``response`` record
    yields an error ROW keyed by the index entry, never a task failure.
    """
    idx = index.select(
        F.col("src_file").cast("string"),
        F.col("rec_offset").cast("bigint"),
    )
    raw = (
        idx.repartition("src_file")
        .sortWithinPartitions("src_file", "rec_offset")
        .mapInArrow(_fetch_iterator(batch_rows), RAW_SCHEMA)
    )
    return _with_warc_ts(raw)


def _status_ok(statuses: Optional[Tuple[int, ...]]):
    """Filter expression for the pages adapters: keep rows whose
    ``http_status`` is in ``statuses`` OR is NULL (non-HTTP ``resource``
    captures pass through — they have no status to judge).  ``statuses=
    None`` disables status filtering entirely."""
    if statuses is None:
        return F.lit(True)
    return F.col("http_status").isNull() | F.col("http_status").isin(
        list(statuses)
    )


def warc_pages(
    spark: SparkSession,
    path: str,
    statuses: Optional[Tuple[int, ...]] = (200,),
) -> DataFrame:
    """Clean-record adapter to the ``input_hint`` pages shape
    ``(url, warc_ts, html, text, lang)`` — ``text`` is the extraction
    OUTPUT slot (empty at ingest) and ``lang`` is unknown until a
    language-ID pass (functions/textops) fills it.

    ``statuses`` is the HTTP status policy, default 200-only — the same
    rule Common Crawl's WET conversion applies: a 404/500 capture is a
    real response record, but its body is an error page, not the page,
    and letting it into a training corpus is silent pollution.  Non-HTTP
    ``resource`` captures (status NULL) always pass; ``statuses=None``
    keeps every decodable capture (the pre-round-5 behavior)."""
    return (
        read_warc(spark, path)
        .where(F.col("error").isNull() & _status_ok(statuses))
        .select(
            "url",
            "warc_ts",
            "html",
            F.lit("").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


# binaryFile's fixed schema, needed explicitly by the STREAMING reader
# (file stream sources require a user-supplied schema)
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length bigint, content binary"
)


def read_warc_stream(
    spark: SparkSession,
    path: str,
    batch_rows: int = 2048,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """STREAMING variant of ``read_warc``: a Structured Streaming source
    over a directory where ``.warc``/``.warc.gz`` shards ARRIVE (a live
    crawl drop point) — each micro-batch ingests up to
    ``max_files_per_trigger`` newly-seen shards through the SAME
    path-only scan and member loop as the batch reader (layout
    detection, HTTP decode, error policy all shared — parity pinned in
    test_warc).

    Composition is the rest of the streaming tier unchanged:
    ``warc_pages_stream → streaming/stream_extract.extract_stream →
    file sink`` is exactly-once end-to-end (file source + checkpoint +
    file sink), so a killed ingest job resumes at the next shard, the
    streaming twin of the batch lineage/resume contract.

    Scale shape: identical to batch — one task per shard, the source
    hands workers paths only, records leave the worker in ≤
    ``batch_rows`` Arrow batches, raw bytes never shuffle.  The
    file-listing state is the source's only driver state; at snapshot
    scale point each job at its shard prefix.
    """
    _check_local(path)
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )
    return _with_warc_ts(
        _scan_paths(
            files, "response", _response_row, RAW_SCHEMA, _OUT_TYPES,
            batch_rows,
        )
    )


def warc_pages_stream(
    spark: SparkSession,
    path: str,
    statuses: Optional[Tuple[int, ...]] = (200,),
) -> DataFrame:
    """Streaming twin of ``warc_pages``: clean records in the
    ``input_hint`` pages shape (error rows filtered, same default
    200-only status policy)."""
    return (
        read_warc_stream(spark, path)
        .where(F.col("error").isNull() & _status_ok(statuses))
        .select(
            "url",
            "warc_ts",
            "html",
            F.lit("").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


# --- CDX index (the published random-access contract) -----------------------
#
# Common Crawl publishes its per-record index in CDXJ format: one line per
# capture, `<urlkey> <timestamp14> <json>` where the json block carries at
# least {"url", "filename", "offset", "length"} — offset/length are the
# byte extent of the record's gzip member inside the named .warc.gz, i.e.
# exactly the (src_file, rec_offset) lineage key read_warc emits and
# read_warc_at consumes.  Parsing the published format (rather than only
# our own checkpoints) locks the resume contract to what a real pipeline
# would be handed.


def surt_key(url: str) -> str:
    """Minimal SURT transform of a url — the CDX sort key: host reversed
    comma-joined (lowercased by urlsplit), scheme dropped, then path and
    query.  Matching CC's index ordering contract: all captures of a host
    sort together, subdomains after their parent."""
    from urllib.parse import urlsplit

    parts = urlsplit(url)
    host = ",".join(reversed((parts.hostname or "").split(".")))
    path = parts.path or "/"
    return host + ")" + path + (("?" + parts.query) if parts.query else "")


def cdx_line(
    url: str, ts14: str, filename: str, offset: int, length: int
) -> str:
    """One CDXJ line the way Common Crawl's index writes it (urlkey via a
    minimal SURT transform: host reversed, scheme dropped)."""
    import json as _json

    urlkey = surt_key(url)
    payload = {
        "url": url,
        "filename": filename,
        "offset": str(offset),  # CC serializes these as strings
        "length": str(length),
    }
    return f"{urlkey} {ts14} {_json.dumps(payload, sort_keys=True)}"


def parse_cdx_line(line: str) -> Optional[dict]:
    """CDXJ line → {url, timestamp, filename, offset, length} (ints for the
    byte extent), or None for a malformed line — an index sweep over a
    published cdx-*.gz must skip junk, not die."""
    import json as _json

    line = line.strip()
    if not line:
        return None
    try:
        _urlkey, ts, payload = line.split(" ", 2)
        rec = _json.loads(payload)
        return {
            "url": rec["url"],
            "timestamp": ts,
            "filename": rec["filename"],
            "offset": int(rec["offset"]),
            "length": int(rec["length"]),
        }
    except (ValueError, KeyError, TypeError):
        return None


def read_cdx(spark: SparkSession, path: str) -> DataFrame:
    """CDXJ index file(s) → DataFrame ``(src_file, rec_offset, url,
    cdx_ts, rec_length)`` — the input shape ``read_warc_at`` fetches by.
    ``src_file`` is the index's ``filename`` field verbatim (CC publishes
    paths relative to its bucket; callers prefix their mount point the
    same way they would for any index consumer).  Malformed lines are
    dropped (parse_cdx_line contract).  Scale shape: the index is tiny
    next to the data (offsets, not content) and splits line-wise like any
    text source."""
    lines = spark.read.text(path)

    def parse(batches):
        import pyarrow as pa

        from dhtmlparser3_spark.functions.extract import (
            append_rows, column_builder,
        )

        keys = ("filename", "offset", "url", "timestamp", "length")
        types = [pa.string(), pa.int64(), pa.string(), pa.string(), pa.int64()]
        for rb in batches:
            cols = [column_builder(t) for t in types]
            for line in rb.column(0).to_pylist():
                rec = parse_cdx_line(line or "")
                if rec is not None:
                    append_rows(cols, [tuple(rec[k] for k in keys)])
            yield pa.RecordBatch.from_arrays(
                [c.finish() for c in cols],
                ["src_file", "rec_offset", "url", "cdx_ts", "rec_length"],
            )

    return lines.mapInArrow(
        parse,
        "src_file string, rec_offset bigint, url string, "
        "cdx_ts string, rec_length bigint",
    )


INDEX_SCHEMA = (
    "src_file string, rec_offset bigint, rec_length bigint, "
    "url string, warc_date string, error string"
)


def _index_row(path: str, off: int, length: int, hdr: dict, block: bytes):
    """One ``response`` record → INDEX_SCHEMA row tuple.  WARC headers
    only — an indexer reads framing, never HTTP payloads, so indexing a
    shard costs decompression + header splits, not parse/transcode (CC's
    index covers captures, not request/metadata records)."""
    _wtype, url, date, _block = _warc_tuple(hdr, block)
    return (path, off, length, url, date, None)


def index_warc(
    spark: SparkSession,
    path: str,
    batch_rows: int = 8192,
) -> DataFrame:
    """``.warc(.gz)`` file(s) → the CDX index table ``(src_file,
    rec_offset, rec_length, url, warc_date, error)``: one row per
    ``response`` record carrying its exact on-disk byte extent — the
    (filename, offset, length) triple CC's index publishes and ranged
    fetchers consume.  Map-only over shards (one task per file, bytes
    never shuffle); headers-only, so it is the cheap pass that makes a
    crawl randomly addressable BEFORE anyone pays for parsing.  Batches
    are cut as by every :func:`scan_record_files` reader."""
    out_t = {
        "src_file": "string",
        "rec_offset": "int64",
        "rec_length": "int64",
        "url": "string",
        "warc_date": "string",
        "error": "string",
    }
    return scan_record_files(
        spark, path, "response", _index_row, INDEX_SCHEMA, out_t, batch_rows
    )


def cdx_lines(index: DataFrame, shards: int = 4) -> DataFrame:
    """Index table → one-column ``(line)`` DataFrame of CDXJ lines in
    GLOBAL sort order: ``repartitionByRange`` on the SURT urlkey makes
    shard N's every key ≤ shard N+1's (CC's sorted-shard contract — a
    consumer binary-searches the shard list, then one shard), and the
    within-partition sort finishes the order.  Error rows and
    url-less rows drop — they have no fetchable extent.  Line text is
    rendered by ``cdx_line`` itself (one tiny Arrow-batched pass) so the
    written bytes and ``parse_cdx_line`` stay one contract; the urlkey
    the JVM range-partitions on is the SAME Python-computed string, so
    sort key and line key cannot diverge."""
    ok = index.where(
        F.col("error").isNull()
        & F.col("url").isNotNull()
        & (F.col("rec_offset") >= 0)
    ).select(
        "src_file",
        "rec_offset",
        "rec_length",
        "url",
        F.coalesce(
            F.date_format(warc_ts("warc_date"), "yyyyMMddHHmmss"),
            F.lit("19700101000000"),
        ).alias("ts14"),
    )

    def fmt(batches):
        import pyarrow as pa

        from dhtmlparser3_spark.functions.extract import (
            append_rows, column_builder,
        )

        names = ("src_file", "rec_offset", "rec_length", "url", "ts14")
        for rb in batches:
            cols = [column_builder(pa.string()) for _ in range(2)]
            for fn, off, length, url, ts in zip(
                *(rb.column(k).to_pylist() for k in names)
            ):
                line = cdx_line(url, ts, fn, off, length)
                append_rows(cols, [(surt_key(url), line)])
            yield pa.RecordBatch.from_arrays(
                [c.finish() for c in cols], ["urlkey", "line"]
            )

    return (
        ok.mapInArrow(fmt, "urlkey string, line string")
        .repartitionByRange(shards, "urlkey", "line")
        .sortWithinPartitions("urlkey", "line")
        .select("line")
    )


def write_cdx(index: DataFrame, dest_dir: str, shards: int = 4) -> None:
    """Write the CDX index as ``shards`` gzipped CDXJ shard files under
    ``dest_dir`` (Spark's native text sink — atomic via the Hadoop
    commit protocol, one sorted file per range partition, part-file name
    order == global key order).  Round-trip contract: ``read_cdx`` over
    ``dest_dir`` recovers exactly the (filename, offset, length) triples
    and ``read_warc_at`` can fetch every one of them."""
    cdx_lines(index, shards).write.mode("overwrite").option(
        "compression", "gzip"
    ).text(dest_dir)


# --- charset probes: driver-oracled non-ASCII captures ----------------------
#
# Eight deterministic non-ASCII captures appended to the synthesized corpus
# (round-robin over shards), each declaring its encoding a different way, so
# the driver's value-hash on the byte-identity row pins the WHOLE charset
# tier — HTTP label resolution (with the WHATWG remaps), the meta prescan,
# BOM precedence (including the reference's mojibake-only BOM-strip quirk:
# parser.py:26-28 strips the three CHARS "\xef\xbb\xbf", so a real utf-8 BOM
# decodes to "﻿", survives parse as leading text, and content_str of the
# multi-child root serializes the WHOLE document — probe 5's expected value
# encodes exactly that), utf-16 transcode, and the bogus-label utf-8
# fallback.  Each probe's payload is additionally wire-coded with the same
# rotation the corpus uses, so charset decode is exercised UNDER
# transfer/content codings.  Expected serializations are constants, verified
# against the vendored reference in
# tests/test_warc.py::test_charset_probes_match_reference.
#
# Fields: (mode, declared label, python codec, payload text, expected
# content_str).  mode ∈ http (Content-Type charset param) / meta (prescan
# declaration) / bom8 (utf-8 BOM, no label) / bom16 (utf-16 LE BOM, no
# label).
CHARSET_PROBES: List[Tuple[str, Optional[str], Optional[str], str, str]] = [
    (
        "http", "ISO-8859-1", "cp1252",
        "café — naïve résumé †™",
        "<body><p>café — naïve résumé †™</p></body>",
    ),
    (
        "http", "Shift_JIS", "cp932",
        "日本語のテキストとウェブ文書",
        "<body><p>日本語のテキストとウェブ文書</p></body>",
    ),
    (
        "http", "gb2312", "gbk",
        "简体中文网页正文内容",
        "<body><p>简体中文网页正文内容</p></body>",
    ),
    (
        "http", "EUC-KR", "cp949",
        "한국어 웹 문서 본문",
        "<body><p>한국어 웹 문서 본문</p></body>",
    ),
    (
        "meta", "windows-1252", "cp1252",
        "smart “quotes” €99 – dash",
        '<head><meta charset="windows-1252" /></head>'
        "<body><p>smart “quotes” €99 – dash</p></body>",
    ),
    (
        "bom8", None, "utf-8",
        "büro żółć ✓ bom",
        "﻿<html><body><p>büro żółć ✓ bom</p></body></html>",
    ),
    (
        "bom16", None, "utf-16",
        "utf-16 content ✓",
        "<body><p>utf-16 content ✓</p></body>",
    ),
    (
        "http", "x-bogus-enc", None,
        "plain ascii fallback",
        "<body><p>plain ascii fallback</p></body>",
    ),
]


def _probe_page_html(mode: str, label: Optional[str], text: str) -> str:
    if mode == "meta":
        return (
            f'<html><head><meta charset="{label}"></head>'
            f"<body><p>{text}</p></body></html>"
        )
    return f"<html><body><p>{text}</p></body></html>"


def charset_probe_url(i: int) -> str:
    return f"https://charset.example/p{i}.html"


def charset_probe_records() -> List[Tuple[str, bytes]]:
    """(url, uncompressed WARC record) per probe — payload encoded in the
    probe's charset, declared per its mode, then wire-coded with the same
    identity/gzip/chunked/gzip+chunked/raw-deflate rotation the corpus
    uses (probe index % 5)."""
    wire = [
        (None, None),
        ("gzip", None),
        (None, "chunked"),
        ("gzip", "chunked"),
        ("deflate-raw", None),
    ]
    out = []
    for i, (mode, label, codec, text, _exp) in enumerate(CHARSET_PROBES):
        html = _probe_page_html(mode, label, text)
        if mode == "bom8":
            payload, http_label = codecs.BOM_UTF8 + html.encode(), None
        elif mode == "bom16":
            payload, http_label = html.encode("utf-16"), None
        elif mode == "meta":
            payload, http_label = html.encode(codec), None
        else:
            payload = html.encode(codec) if codec else html.encode()
            http_label = label
        ce, te = wire[i % 5]
        out.append(
            (
                charset_probe_url(i),
                build_warc_record(
                    charset_probe_url(i),
                    "2024-01-01T00:00:00Z",
                    payload,
                    content_encoding=ce,
                    transfer_encoding=te,
                    charset=http_label,
                ),
            )
        )
    return out


def charset_probe_expected() -> List[Tuple[str, str]]:
    """(url, expected ``content_str``) constants for the driver oracle."""
    return [
        (charset_probe_url(i), exp)
        for i, (_m, _l, _c, _t, exp) in enumerate(CHARSET_PROBES)
    ]


def synthesize_warc_corpus(
    sf_dir: str, dest_dir: str, shards: int = 8
) -> List[str]:
    """documents.parquet → ``dest_dir/shard-%02d.warc.gz``: the same pages
    corpus ``sources.pages.build_pages`` constructs (same urls, same
    template html, same per-doc timestamps), but written as Common-Crawl-
    layout WARC shards so the driver's correctness rows can source the
    byte-identity pipeline through ``read_warc`` end-to-end.

    Wire realism, all deterministic by doc_id:

    * payload encodings rotate ``identity / gzip / chunked / gzip+chunked /
      raw-deflate`` (doc_id % 5) — a decode bug in ANY supported coding
      breaks byte identity for a fifth of the corpus, which the driver's
      value-hash catches;
    * each shard leads with a ``warcinfo`` record (skipped by contract) and
      carries one ``br``-encoded record under a non-corpus url (must become
      an error row and be FILTERED, not lose neighboring docs);
    * the eight ``CHARSET_PROBES`` are appended round-robin over shards —
      non-ASCII captures in cp1252/cp932/gbk/cp949/utf-16 declared via HTTP
      label, meta prescan, or BOM, stacked under the wire codings, with
      constant expected serializations the driver oracle UNIONs in.

    ``shards`` is the parallelism knob: one ``.warc.gz`` = one binaryFile
    task, exactly like Common Crawl's ~72k-file snapshot layout at 100 TB.
    Docs are assigned round-robin (doc_id % shards).  Returns the shard
    paths.  Synthesis is pure Python — callers cache the directory (the
    driver does, keyed on the corpus fingerprint).
    """
    import datetime
    import os

    import duckdb

    from .pages import TEMPLATES, URL_FMT, compile_py

    rows = duckdb.sql(
        "SELECT doc_id, text, source FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    encodings = [
        (None, None),
        ("gzip", None),
        (None, "chunked"),
        ("gzip", "chunked"),
        ("deflate-raw", None),
    ]
    epoch = datetime.datetime(2024, 1, 1)
    per_shard: List[List[bytes]] = [[] for _ in range(shards)]
    for doc_id, text, source in rows:
        t = doc_id % 5
        html = compile_py(TEMPLATES[t], doc_id, text).encode()
        url = URL_FMT % (doc_id % 97, source, doc_id)
        date = (epoch + datetime.timedelta(seconds=doc_id)).strftime(
            "%Y-%m-%dT%H:%M:%SZ"
        )
        ce, te = encodings[doc_id % 5]
        per_shard[doc_id % shards].append(
            build_warc_record(
                url, date, html, content_encoding=ce, transfer_encoding=te
            )
        )
    os.makedirs(dest_dir, exist_ok=True)
    import gzip as _gz

    paths = []
    for s, recs in enumerate(per_shard):
        path = os.path.join(dest_dir, f"shard-{s:02d}.warc.gz")
        info = build_warc_record(
            "", "2024-01-01T00:00:00Z", b"software: synthesize_warc_corpus",
            "warcinfo",
        )
        bad = build_warc_record(
            f"https://bad.example/br/{s}", "2024-01-01T00:00:00Z",
            b"<p>brotli-coded</p>", content_encoding="br",
        )
        probes = [
            rec
            for i, (_url, rec) in enumerate(charset_probe_records())
            if i % shards == s
        ]
        write_warc_gz(
            [], path,
            extra_members=[
                _gz.compress(m, mtime=0)
                for m in [info] + recs + probes + [bad]
            ],
        )
        paths.append(path)
    return paths


# --- deterministic writer (tests / benches; no external data) ---------------


def _chunked_body(payload: bytes, chunk_size: int) -> bytes:
    """``payload`` in RFC 9112 chunked framing (fixed ``chunk_size`` so the
    framing is deterministic and chunk boundaries land mid-payload)."""
    out = []
    for i in range(0, len(payload), chunk_size):
        chunk = payload[i : i + chunk_size]
        out.append(b"%x\r\n" % len(chunk) + chunk + b"\r\n")
    out.append(b"0\r\n\r\n")
    return b"".join(out)


def build_warc_record(
    url: str,
    date_iso: str,
    html: bytes,
    warc_type: str = "response",
    content_encoding: Optional[str] = None,
    transfer_encoding: Optional[str] = None,
    chunk_size: int = 16,
    charset: Optional[str] = None,
    status: int = 200,
    reason: str = "OK",
    location: Optional[str] = None,
    truncated: Optional[str] = None,
    refers_to_url: Optional[str] = None,
    refers_to_date: Optional[str] = None,
    payload_digest: Optional[str] = None,
) -> bytes:
    """One uncompressed WARC record; ``response`` records wrap the payload
    in a minimal HTTP/1.1 message (``status``/``reason``, default
    ``200 OK``) like Common Crawl captures do.

    ``content_encoding`` compresses the payload on the wire the way a real
    server would: ``"gzip"``, ``"deflate"`` (zlib-wrapped, the RFC form),
    ``"deflate-raw"`` (raw-deflate bytes under a ``deflate`` header — the
    common server bug the reader's fallback covers), or ``"br"`` (header
    only, payload verbatim — an encoding the reader must surface as an
    error row, since no brotli codec exists here).  ``transfer_encoding=
    "chunked"`` then applies chunked framing on top (codings nest in that
    order on a real wire: content coding first, transfer coding last).
    ``charset`` declares an encoding label on the HTTP Content-Type the
    way real servers do (``html`` must already be bytes IN that
    encoding — the writer labels, it never transcodes).  ``location``
    adds an HTTP ``Location`` header (pair with a 3xx ``status`` to
    synthesize a redirect capture); ``truncated`` adds a
    ``WARC-Truncated: <reason>`` record header (a crawler's partial-body
    marker).  ``warc_type="revisit"`` writes a duplicate-fetch marker the
    way Heritrix/Common Crawl do (identical-payload-digest profile,
    refers_to_url/refers_to_date/payload_digest record headers, block =
    the revisit fetch's HTTP headers only)."""
    if warc_type == "response":
        wire = html
        http_ct = b"Content-Type: text/html"
        if charset is not None:
            http_ct += b"; charset=%s" % charset.encode("ascii")
        http_hdrs = [http_ct]
        if location is not None:
            http_hdrs.append(b"Location: %s" % location.encode("latin-1"))
        if content_encoding == "gzip":
            import gzip as _gz

            wire = _gz.compress(wire, mtime=0)
            http_hdrs.append(b"Content-Encoding: gzip")
        elif content_encoding == "deflate":
            wire = zlib.compress(wire)
            http_hdrs.append(b"Content-Encoding: deflate")
        elif content_encoding == "deflate-raw":
            c = zlib.compressobj(wbits=-15)
            wire = c.compress(wire) + c.flush()
            http_hdrs.append(b"Content-Encoding: deflate")
        elif content_encoding == "br":
            http_hdrs.append(b"Content-Encoding: br")
        elif content_encoding is not None:
            raise ValueError(content_encoding)
        if transfer_encoding == "chunked":
            wire = _chunked_body(wire, chunk_size)
            http_hdrs.append(b"Transfer-Encoding: chunked")
        elif transfer_encoding is not None:
            raise ValueError(transfer_encoding)
        else:
            http_hdrs.append(b"Content-Length: %d" % len(wire))
        block = (
            b"HTTP/1.1 %d %s\r\n" % (status, reason.encode("ascii"))
            + b"\r\n".join(http_hdrs)
            + b"\r\n\r\n"
            + wire
        )
        ctype = b"application/http; msgtype=response"
    elif warc_type == "revisit":
        # duplicate-fetch marker: the block is the revisit fetch's HTTP
        # headers (no body — that's the point), the WARC headers carry
        # the back-reference
        block = b"HTTP/1.1 %d %s\r\nContent-Type: text/html\r\n\r\n" % (
            status, reason.encode("ascii"),
        )
        ctype = b"application/http; msgtype=response"
    else:
        block = html
        ctype = b"application/warc-fields"
    revisit_hdrs = b""
    if warc_type == "revisit":
        revisit_hdrs += (
            b"WARC-Profile: http://netpreserve.org/warc/1.0/revisit/"
            b"identical-payload-digest\r\n"
        )
        if refers_to_url is not None:
            revisit_hdrs += (
                b"WARC-Refers-To-Target-URI: %s\r\n" % refers_to_url.encode()
            )
        if refers_to_date is not None:
            revisit_hdrs += (
                b"WARC-Refers-To-Date: %s\r\n" % refers_to_date.encode()
            )
    if payload_digest is not None:
        revisit_hdrs += (
            b"WARC-Payload-Digest: %s\r\n" % payload_digest.encode("ascii")
        )
    head = (
        b"WARC/1.0\r\n"
        + b"WARC-Type: %s\r\n" % warc_type.encode()
        + b"WARC-Target-URI: %s\r\n" % url.encode()
        + b"WARC-Date: %s\r\n" % date_iso.encode()
        + revisit_hdrs
        + (
            b"WARC-Truncated: %s\r\n" % truncated.encode("ascii")
            if truncated is not None
            else b""
        )
        + b"Content-Type: %s\r\n" % ctype
        + b"Content-Length: %d\r\n" % len(block)
    )
    # each header line above already ends in CRLF; ONE more blank line
    # terminates the header (ISO 28500 §4), then the block, then the
    # two-CRLF record trailer
    return head + b"\r\n" + block + _CRLF2


def write_warc_plain(records: List[Tuple], path: str) -> List[int]:
    """Uncompressed ``.warc`` writer (wget/warcio's default layout): the
    same records as ``write_warc_gz``, concatenated raw.  Returns each
    record's start byte offset — the plain-mode random-access key."""
    offsets: List[int] = []
    with open(path, "wb") as f:
        for r in records:
            offsets.append(f.tell())
            f.write(
                build_warc_record(
                    r[0], r[1], r[2],
                    content_encoding=r[3] if len(r) > 3 else None,
                    transfer_encoding=r[4] if len(r) > 4 else None,
                    charset=r[5] if len(r) > 5 else None,
                )
            )
    return offsets


def write_warc_gz(
    records: List[Tuple],
    path: str,
    extra_members: Optional[List[bytes]] = None,
) -> List[int]:
    """Write ``(url, date_iso, html[, content_encoding[, transfer_encoding
    [, charset]]])`` records as a per-record-gzip-member ``.warc.gz`` (the
    Common Crawl layout).  The optional 4th/5th elements put the payload
    on the wire encoded (see ``build_warc_record``) — the READER output is
    the same decoded html either way; the optional 6th declares a charset
    label on the HTTP Content-Type (the html bytes must already be in that
    encoding).  Deterministic: gzip mtime=0, no
    filename field.  Returns each member's byte offset (what the CDX index
    would publish).  ``extra_members`` appends pre-built raw records (e.g.
    a warcinfo, or corrupt bytes for error-path tests), gzipped the same
    way unless already gzip (magic ``1f 8b``).
    """
    import gzip

    offsets: List[int] = []
    members = [
        build_warc_record(
            r[0], r[1], r[2],
            content_encoding=r[3] if len(r) > 3 else None,
            transfer_encoding=r[4] if len(r) > 4 else None,
            charset=r[5] if len(r) > 5 else None,
        )
        for r in records
    ] + list(extra_members or [])
    with open(path, "wb") as f:
        for m in members:
            offsets.append(f.tell())
            f.write(m if m[:2] == _GZ_MAGIC else gzip.compress(m, mtime=0))
    return offsets


# --- distributed WARC sink (re-publish curated capture subsets) --------------

WARC_MANIFEST_SCHEMA = "path string, records bigint, bytes bigint"


def write_warc(
    df: DataFrame,
    dest_dir: str,
    html_col: str = "html",
    prefix: str = "part",
) -> DataFrame:
    """Distributed WARC sink: a curated subset of captures re-published
    as Common-Crawl-layout ``.warc.gz`` shards — one
    ``dest_dir/<prefix>-<pid:05d>.warc.gz`` per input partition, a
    warcinfo lead, per-record gzip members, atomic rename publish.
    Returns the MANIFEST DataFrame ``(path, records, bytes)``; an action
    on it (the caller's collect / lineage write) runs the job — the same
    contract as the WET/WAT sinks, via the same
    ``wet.write_record_shard`` primitive so the layout/atomicity cannot
    diverge.

    ``df`` needs ``url``, ``warc_ts`` (timestamp) and ``html_col``
    (UTF-8 binary — the ``read_warc``/``warc_pages`` output shape, where
    wire codings and charsets were already resolved at ingest).  Records
    are written identity-encoded HTTP/1.1 200 responses: the dedupe /
    quality / compliance verdicts that selected these rows are the point
    of the re-publish, not the original wire framing, and identity
    encoding round-trips byte-identically (pinned:
    ``read_warc(write_warc(pages))`` returns the same (url, html) set).
    NULL-html rows (error rows) skip — the re-publish carries captures,
    not failures.

    Scale: map-only (mapInArrow composes into whatever stage produced
    the rows — after a curation filter this adds ZERO exchanges), one
    open file per task, O(one record) memory via the streaming shard
    writer.  Want bigger/smaller shards?  That's the caller's
    ``repartition(N)`` — shard count IS partition count by design."""
    import os as _os

    _os.makedirs(dest_dir, exist_ok=True)
    cols = df.select(
        F.col("url"),
        F.date_format(
            F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        ).alias("warc_date"),
        F.col(html_col).alias("html"),
    )

    def run(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from dhtmlparser3_spark.functions.extract import arrow_column
        from dhtmlparser3_spark.sources.wet import write_record_shard

        pid = TaskContext.get().partitionId()
        path = _os.path.join(dest_dir, f"{prefix}-{pid:05d}.warc.gz")
        lead = build_warc_record(
            "",
            "2024-01-01T00:00:00Z",
            b"software: dhtmlparser3_spark write_warc\r\n"
            b"format: WARC File Format 1.0\r\n",
            warc_type="warcinfo",
        )

        def members():
            for rb in batches:
                cols = ("url", "warc_date", "html")
                for url, date, html in zip(
                    *(rb.column(k).to_pylist() for k in cols)
                ):
                    if html is None:
                        continue
                    yield build_warc_record(
                        url, date or "1970-01-01T00:00:00Z", bytes(html)
                    )

        n, size = write_record_shard(path, lead, members())
        if n == 0:
            _os.remove(path)
            return
        yield pa.RecordBatch.from_arrays(
            [
                arrow_column([path], pa.string()),
                arrow_column([n], pa.int64()),
                arrow_column([size], pa.int64()),
            ],
            ["path", "records", "bytes"],
        )

    return cols.mapInArrow(run, WARC_MANIFEST_SCHEMA)


def crawl_health(captures: DataFrame) -> DataFrame:
    """Per-host crawl health off a ``read_warc`` frame: one row per host
    with capture counts by status class plus decode-error and truncation
    tallies — the monitoring view the status/truncated columns exist for
    (a host whose 5xx or truncation share jumps is throttling or
    failing the crawler; a host that is all 3xx moved).

    Columns: ``host, n_captures, n_ok (2xx), n_redirect (3xx),
    n_client_err (4xx), n_server_err (5xx), n_raw (clean non-HTTP
    resource captures), n_errors (undecodable rows), n_truncated``.
    Rows whose url is NULL (shard-level gzip/warc errors) group under a
    NULL host — kept, not dropped: a shard that died mid-scan is the
    loudest health signal there is.

    One map-side-partial aggregation on host; the exchange carries a
    handful of longs per host (~10^8 rows at CC scale, trivially
    shuffleable)."""
    cls = (F.col("http_status") / 100).cast("int")
    clean = F.col("error").isNull()
    return (
        captures.groupBy(
            F.regexp_extract(
                F.coalesce(F.col("url"), F.lit("")), r"^https?://([^/]+)", 1
            ).alias("host")
        )
        .agg(
            F.count("*").alias("n_captures"),
            F.sum((clean & (cls == 2)).cast("long")).alias("n_ok"),
            F.sum((clean & (cls == 3)).cast("long")).alias("n_redirect"),
            F.sum((clean & (cls == 4)).cast("long")).alias("n_client_err"),
            F.sum((clean & (cls == 5)).cast("long")).alias("n_server_err"),
            F.sum(
                (clean & F.col("http_status").isNull()).cast("long")
            ).alias("n_raw"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("n_errors"),
            F.sum(
                F.col("truncated").isNotNull().cast("long")
            ).alias("n_truncated"),
        )
    )
