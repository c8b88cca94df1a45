"""The parse kernel's worker memory is O(slice), not O(input batch).  No Spark.

One pages-shaped Arrow batch — 1,000 pages of ~19.5 KB, the batch one
``pages_large_1bucket`` task hands its Python worker — goes through the
DEFAULT ``make_extract_arrow_iterator()``.  The worker slice
(``functions.extract._WORKER_BATCH_BYTES``) must cut it into many output
batches with the same rows as one whole-batch slice, and the kernel's
peak memory must grow by about the html bytes, not by the ~10x of
output objects a whole-batch slice holds at once.

Run as a script, this module prints the memory probe as one JSON line.
"""

from __future__ import annotations

import array
import gc
import json
import os
import random
import subprocess
import sys

import pytest

N_PAGES = 1000
BLOCKS = 50
POISON_EVERY = 200
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash sort order line part fast row the agg key query "
    "a&b x<y café 数据"
).split()


def _text(rng: random.Random) -> str:
    return " ".join(rng.choices(WORDS, k=rng.randint(200, 420) // 5 + 1))


def pages_batch(n_pages: int = N_PAGES):
    """(RecordBatch of url/warc_ts/lang/html, total html bytes).  Each page
    is ``BLOCKS`` template bodies of ``sources.pages``; every
    ``POISON_EVERY``-th page carries an out-of-range entity, so it must
    become an error row.  The html column is built in one contiguous
    buffer, so building it leaves no freed heap behind that the kernel
    could reuse without the peak showing it."""
    import pyarrow as pa

    from dhtmlparser3_spark.sources.pages import TEMPLATES, compile_py

    rng = random.Random(5)
    data = bytearray()
    offsets = array.array("i", [0])
    for i in range(n_pages):
        blocks = []
        for b in range(BLOCKS):
            d = i * 64 + b
            page = compile_py(TEMPLATES[d % 5], d, _text(rng))
            blocks.append(page.split("<body>", 1)[1].rsplit("</body>", 1)[0])
        if i % POISON_EVERY == POISON_EVERY - 1:
            blocks.insert(BLOCKS // 2, "<p>pre &#1114112; post</p>")
        data += ("<html><body>" + "".join(blocks) + "</body></html>").encode()
        offsets.append(len(data))
    html = pa.Array.from_buffers(
        pa.binary(), n_pages, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([f"https://p.example/{i}.html" for i in range(n_pages)]),
            pa.array([0] * n_pages, pa.timestamp("us", tz="UTC")),
            pa.array(["en"] * n_pages),
            html,
        ],
        ["url", "warc_ts", "lang", "html"],
    )
    return rb, len(data)


def test_default_extract_kernel_slices_a_pages_batch():
    """The default kernel yields several output batches, each from at most
    1 MiB of html (or one row), with the rows of a whole-batch slice."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions import extract as fx

    rb, html_bytes = pages_batch()
    assert html_bytes > 16 << 20
    sliced = list(fx.make_extract_arrow_iterator()(iter([rb])))
    whole = list(fx.make_extract_arrow_iterator(max_slice_bytes=1 << 40)(iter([rb])))
    assert len(whole) == 1
    assert len(sliced) >= 16, f"expected many slices, got {len(sliced)}"
    sizes = pa.compute.binary_length(rb.column("html")).to_pylist()
    start = 0
    for b in sliced:
        part = sum(sizes[start : start + b.num_rows])
        assert b.num_rows == 1 or part <= 1 << 20, (start, b.num_rows, part)
        start += b.num_rows
    assert start == rb.num_rows
    rows = pa.Table.from_batches(sliced).to_pylist()
    assert rows == pa.Table.from_batches(whole).to_pylist()
    assert [r["url"] for r in rows] == rb.column("url").to_pylist()
    assert sum(r["error"] is not None for r in rows) == N_PAGES // POISON_EVERY


def test_one_slice_python_peak_is_bounded():
    """One 1 MiB slice (~50 pages of ~20 KB) through the default kernel
    peaks at ≤ 4 MiB of Python memory (``tracemalloc``): the slice's
    html, one document's parse and the packed output columns.  Holding
    every document's output tuple (~100 span dicts per page) until the
    slice ends, then copying each column, peaks at ~8.4 MiB."""
    import tracemalloc

    from dhtmlparser3_spark.functions import extract as fx

    rb, _ = pages_batch(60)
    sizes = [len(h) for h in rb.column("html").to_pylist()]
    k = next(i for i in range(len(sizes)) if sum(sizes[: i + 1]) > 1 << 20)
    part = rb.slice(0, k)
    it = fx.make_extract_arrow_iterator()
    list(it(iter([rb.slice(k, 1)])))  # first-call imports and caches
    tracemalloc.start()
    try:
        out = list(it(iter([part])))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert [b.num_rows for b in out] == [k]
    assert k >= 40
    assert peak <= 4 << 20, peak / (1 << 20)


def _status_bytes(key: str) -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) * 1024
    raise KeyError(key)


def probe_kernel_peak_growth() -> dict:
    """Peak-memory growth while the default kernel runs over one pages
    batch, each output batch dropped once the next arrives (as the worker
    does after sending it).  Growth is VmHWM after the run minus VmRSS
    before it: an upper bound on the run's own peak growth."""
    from dhtmlparser3_spark.functions import extract as fx

    rb, html_bytes = pages_batch()
    it = fx.make_extract_arrow_iterator()
    list(it(iter([rb.slice(0, 1)])))  # first-call imports and caches
    gc.collect()
    rss0 = _status_bytes("VmRSS")
    rows = 0
    for out in it(iter([rb])):
        rows += out.num_rows
    return {
        "html_bytes": html_bytes,
        "growth_bytes": _status_bytes("VmHWM") - rss0,
        "rows": rows,
    }


@pytest.mark.skipif(
    not os.path.exists("/proc/self/status"), reason="reads Linux VmHWM/VmRSS"
)
def test_default_extract_kernel_peak_memory_is_o_slice():
    """In a fresh process, the default kernel's peak grows by at most 2x the
    batch's html bytes (a whole-batch slice grows it by ~10x)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] == N_PAGES
    ratio = got["growth_bytes"] / got["html_bytes"]
    assert ratio <= 2.0, got


if __name__ == "__main__":
    print(json.dumps(probe_kernel_peak_growth()))
