"""Seeded benchmark inputs, cached per seed under the work directory.

Every input is a pure function of the seed.  The program under test only
ever receives the generated files:

* ``documents.parquet``: an sf0.1-shaped documents table (doc_id, text,
  lang, source, n_chars) drawn from the seed;
* ``warc/shard-NN.warc.gz``: that table rendered as Common-Crawl WARC
  shards by ``sources.warc.synthesize_warc_corpus`` (rotating wire codings,
  the eight charset probes, one ``br`` poison record per shard);
* ``pages_large/table/part-NN.parquet``: a pages table of ~19 KB pages,
  each made of 50 blocks cut from the five ``sources.pages`` template
  bodies, with one poison page in every 200; ``pages_large/expected.parquet``
  holds the oracle's expected text per page, composed at the same time.
"""

from __future__ import annotations

import datetime
import hashlib
import html
import os
import random
import shutil
from typing import List, Tuple

N_DOCS = 5000
WARC_SHARDS = 8
N_PROBES = 8  # len(sources.warc.CHARSET_PROBES)

N_LARGE_PAGES = 4000
LARGE_BLOCKS = 50
LARGE_FILES = 8
POISON_EVERY = 200  # 0.5 % of pages
# the two poison classes of __spark_entry__._q_extract_errors that fail the
# parse (the third, a 1200-deep nest, parses fine in this engine)
POISON_BLOCKS = {
    "entity": "<p>pre &#1114112; post</p>",
    "overflow": "<p>pre &#999999999999999999; post</p>",
}

# the sf0.1 vocabulary, plus a few words that exercise escaping and UTF-8
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE = ["a&b", "x<y", "y>x", '"quoted"', "it's", "café", "数据", "dup"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def _text(rng: random.Random, lo: int = 44, hi: int = 577) -> str:
    """About ``lo``..``hi`` characters of words; ~1 % of them from RARE."""
    words = rng.choices(VOCAB, k=rng.randint(lo, hi) // 5 + 1)
    for i in rng.sample(range(len(words)), (len(words) + rng.randrange(100)) // 100):
        words[i] = rng.choice(RARE)
    return " ".join(words)


def documents(seed: int) -> List[Tuple[int, str, str, str]]:
    """(doc_id, text, lang, source) rows of the seed's documents table."""
    rng = random.Random(f"documents-{seed}")
    base = rng.randrange(10**6) * 5  # keeps doc_id % 5 (the template) cyclic
    return [
        (base + i, _text(rng), rng.choice(LANGS), f"src{rng.randrange(20)}")
        for i in range(N_DOCS)
    ]


def large_page_specs(seed: int) -> List[dict]:
    """One dict per large page: url, lang, poison class (or None) and its
    blocks as (doc_id, text) pairs; the template is doc_id % 5."""
    rng = random.Random(f"pages-large-{seed}")
    base = rng.randrange(10**6)
    pages = []
    for i in range(N_LARGE_PAGES):
        page_id = base + i
        blocks = [
            (page_id * 64 + b, _text(rng, 200, 420)) for b in range(LARGE_BLOCKS)
        ]
        poison = None
        if i % POISON_EVERY == POISON_EVERY - 1:
            poison = "entity" if (i // POISON_EVERY) % 2 == 0 else "overflow"
        pages.append(
            {
                "url": f"https://large{rng.randrange(97):02d}.example/p/{page_id}.html",
                "lang": rng.choice(LANGS),
                "poison": poison,
                "blocks": blocks,
            }
        )
    return pages


_ID, _TEXT = "\x00id\x00", "\x00text\x00"


def _interiors(specs) -> List[str]:
    """What each template spec renders between ``<body>`` and ``</body>``,
    with placeholders for doc_id and the escaped text."""
    from dhtmlparser3_spark.sources.pages import compile_py

    out = []
    for pieces in specs:
        s = compile_py(pieces, _ID, _TEXT)  # placeholders survive escaping
        out.append(s.split("<body>", 1)[1].rsplit("</body>", 1)[0])
    return out


def _blocks(specs, page: dict) -> List[str]:
    forms = _interiors(specs)
    return [
        forms[d % 5].replace(_ID, str(d)).replace(_TEXT, html.escape(t))
        for d, t in page["blocks"]
    ]


def large_page_html(page: dict) -> str:
    from dhtmlparser3_spark.sources.pages import TEMPLATES

    parts = _blocks(TEMPLATES, page)
    if page["poison"]:
        parts.insert(len(parts) // 2, POISON_BLOCKS[page["poison"]])
    return "<html><body>" + "".join(parts) + "</body></html>"


def large_page_expected(page: dict) -> str:
    """``<body>`` + the blocks' EXPECTED_CONTENT_STR interiors + ``</body>``
    (meaningless for a poison page, which must become an error row)."""
    from dhtmlparser3_spark.sources.pages import EXPECTED_CONTENT_STR

    return "<body>" + "".join(_blocks(EXPECTED_CONTENT_STR, page)) + "</body>"


def _write_documents(seed: int, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = documents(seed)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array([len(t) for t in cols[1]], pa.int64()),
        }
    )
    pq.write_table(table, path)


def _write_pages_large(seed: int, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = large_page_specs(seed)
    pq.write_table(
        pa.table(
            {
                "url": pa.array([p["url"] for p in pages], pa.string()),
                "text": pa.array(
                    [None if p["poison"] else large_page_expected(p) for p in pages],
                    pa.string(),
                ),
                "poison": pa.array([p["poison"] is not None for p in pages]),
            }
        ),
        os.path.join(out, "expected.parquet"),
    )
    epoch = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    per_file = -(-len(pages) // LARGE_FILES)
    dest = os.path.join(out, "table")
    os.makedirs(dest)
    for f in range(LARGE_FILES):
        chunk = pages[f * per_file : (f + 1) * per_file]
        first = f * per_file
        table = pa.table(
            {
                "url": pa.array([p["url"] for p in chunk], pa.string()),
                "warc_ts": pa.array(
                    [
                        epoch + datetime.timedelta(seconds=first + i)
                        for i in range(len(chunk))
                    ],
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array(
                    [large_page_html(p).encode() for p in chunk], pa.binary()
                ),
                "text": pa.array([""] * len(chunk), pa.string()),
                "lang": pa.array([p["lang"] for p in chunk], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(dest, f"part-{f:02d}.parquet"))


def _atomic_dir(final: str, build) -> str:
    """Build ``final`` once: into a temp sibling, then rename."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def seed_dir(work: str, seed: int) -> str:
    return os.path.join(work, "cache", f"seed-{seed}")


def warc_inputs(work: str, seed: int) -> str:
    """Directory holding documents.parquet and warc/ for ``seed``."""

    def build(tmp):
        from dhtmlparser3_spark.sources.warc import synthesize_warc_corpus

        _write_documents(seed, os.path.join(tmp, "documents.parquet"))
        synthesize_warc_corpus(tmp, os.path.join(tmp, "warc"), shards=WARC_SHARDS)

    return _atomic_dir(os.path.join(seed_dir(work, seed), "warc_corpus"), build)


def pages_large_inputs(work: str, seed: int) -> str:
    """Directory holding the seed's large-page table/ and expected.parquet."""
    return _atomic_dir(
        os.path.join(seed_dir(work, seed), "pages_large"),
        lambda tmp: _write_pages_large(seed, tmp),
    )


def warc_input_records() -> int:
    """Response records in the WARC rendering: documents, probes, one
    ``br`` poison record per shard (the warcinfo records are not pages)."""
    return N_DOCS + N_PROBES + WARC_SHARDS


def program_fingerprint(root: str) -> str:
    """Hash of the program's sources: a cache key that changes with the
    commit under test (for state the program itself produced)."""
    h = hashlib.sha256()
    for top in ("jobs", "dhtmlparser3_spark"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    p = os.path.join(dirpath, name)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def input_bytes(path: str) -> int:
    total = 0
    for dirpath, _d, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total

