"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, layers, oracle, run  # noqa: E402

DEFAULT_SEED = 1


# --- generators ---------------------------------------------------------------


def test_documents_are_deterministic_per_seed():
    assert inputs.documents(3) == inputs.documents(3)
    assert inputs.documents(3) != inputs.documents(4)


def test_large_pages_are_deterministic_per_seed():
    assert inputs.large_page_specs(3)[:50] == inputs.large_page_specs(3)[:50]
    assert inputs.large_page_specs(3)[:50] != inputs.large_page_specs(4)[:50]


def _tree_bytes(path):
    out = {}
    for d, _s, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_warc_files_are_deterministic_per_seed(tmp_path):
    a = _tree_bytes(inputs.warc_inputs(str(tmp_path / "a"), 3))
    b = _tree_bytes(inputs.warc_inputs(str(tmp_path / "b"), 3))
    c = _tree_bytes(inputs.warc_inputs(str(tmp_path / "c"), 4))
    assert a == b
    assert sorted(a) == sorted(c) and a != c


def test_pages_table_is_deterministic_per_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "N_LARGE_PAGES", 40)
    a = _tree_bytes(inputs.pages_large_inputs(str(tmp_path / "a"), 3))
    b = _tree_bytes(inputs.pages_large_inputs(str(tmp_path / "b"), 3))
    c = _tree_bytes(inputs.pages_large_inputs(str(tmp_path / "c"), 4))
    assert a == b
    assert a != c


def test_poison_share_is_fixed_by_construction():
    for seed in (1, 2):
        pages = inputs.large_page_specs(seed)
        assert sum(1 for p in pages if p["poison"]) * inputs.POISON_EVERY == len(pages)


# --- the large-page composition -----------------------------------------------


def test_large_page_composition_matches_extract_one():
    from dhtmlparser3_spark.functions.extract import extract_one

    pages = inputs.large_page_specs(DEFAULT_SEED)
    clean = [p for p in pages if not p["poison"]][:200]
    for p in clean:
        text, *_rest, error = extract_one(inputs.large_page_html(p))
        assert error is None
        assert text == inputs.large_page_expected(p), p["url"]
    for p in [p for p in pages if p["poison"]][:4]:
        assert extract_one(inputs.large_page_html(p))[-1] is not None


# --- the oracle ---------------------------------------------------------------

# (url, bucket) as Spark 4.1 computed pmod(xxhash64(url, 2024), 8) in a
# committed run of the job
SPARK_BUCKETS = [
    ("https://host00.example/src0/3603938.html", 0),
    ("https://host96.example/src9/3606071.html", 0),
    ("https://charset.example/p2.html", 1),
    ("https://host96.example/src9/3604131.html", 1),
    ("https://charset.example/p0.html", 2),
    ("https://host96.example/src8/3604034.html", 2),
    ("https://charset.example/p6.html", 3),
    ("https://host96.example/src9/3605392.html", 3),
]


def test_xxh64_reference_vectors():
    # XXH64 test vectors of the reference implementation
    assert oracle.xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert oracle.xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert oracle.xxh64(b"abc", 0) == 0x44BC2CF5AD770999
    assert oracle.xxh64(b"Nobody inspects the spammish repetition", 0) == 0xFBCEA83C8A378BF1


def test_spark_bucket_matches_spark():
    for url, bucket in SPARK_BUCKETS:
        assert oracle.spark_bucket(url, 8) == bucket, url


def _commit(tmp_path, con, n_buckets, poison, mutate=None):
    """Write ``expected`` as a committed output + lineage, the way the job
    lays them out, optionally mutated before the files are written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = con.execute("SELECT url, text FROM expected ORDER BY url").fetchall()
    rows = [(u, t, None) for u, t in rows] + [(u, None, "ValueError: x") for u in poison]
    if mutate:
        rows = mutate(rows)
    out, lin = tmp_path / "out", tmp_path / "lineage"
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(oracle.spark_bucket(r[0], n_buckets), []).append(r)
    lineage = []
    for b in range(n_buckets):
        part = by_bucket.get(b, [])
        d = out / f"bucket={b}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table(
                {
                    "url": pa.array([r[0] for r in part], pa.string()),
                    "extracted_text": pa.array([r[1] for r in part], pa.string()),
                    "error": pa.array([r[2] for r in part], pa.string()),
                }
            ),
            str(d / "part-0.parquet"),
        )
        lineage.append(
            (b, len(part), sum(oracle._row_crc(r[0], r[1]) for r in part))
        )
    lin.mkdir()
    pq.write_table(
        pa.table(
            {
                "bucket": pa.array([x[0] for x in lineage], pa.int32()),
                "n_docs": pa.array([x[1] for x in lineage], pa.int64()),
                "digest": pa.array([x[2] for x in lineage], pa.int64()),
            }
        ),
        str(lin / "part-0.parquet"),
    )
    return str(out), str(lin)


@pytest.fixture(scope="module")
def warc_expected(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    corpus = inputs.warc_inputs(work, DEFAULT_SEED)
    con = oracle.connect()
    oracle.expected_warc(con, os.path.join(corpus, "documents.parquet"))
    return con


def test_oracle_accepts_the_expected_commit(tmp_path, warc_expected):
    out, lin = _commit(tmp_path, warc_expected, 8, [])
    problems, counts = oracle.check(warc_expected, out, lin, 8, [])
    assert problems == []
    assert counts["clean_rows"] == inputs.N_DOCS + inputs.N_PROBES


def test_oracle_rejects_one_changed_byte(tmp_path, warc_expected):
    def flip(rows):
        u, t, e = rows[17]
        rows[17] = (u, t[:-1] + chr(ord(t[-1]) ^ 1), e)
        return rows

    out, lin = _commit(tmp_path, warc_expected, 8, [], flip)
    problems, _ = oracle.check(warc_expected, out, lin, 8, [])
    assert any("extracted text" in p for p in problems)


def test_oracle_rejects_a_dropped_row(tmp_path, warc_expected):
    out, lin = _commit(tmp_path, warc_expected, 8, [], lambda rows: rows[1:])
    problems, _ = oracle.check(warc_expected, out, lin, 8, [])
    assert any("missing" in p for p in problems)


def test_oracle_rejects_poison_without_an_error_row(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "N_LARGE_PAGES", 400)
    corpus = inputs.pages_large_inputs(str(tmp_path / "work"), DEFAULT_SEED)
    con = oracle.connect()
    poison = oracle.expected_pages(con, os.path.join(corpus, "expected.parquet"))
    assert len(poison) == 2
    out, lin = _commit(tmp_path / "ok", con, 1, poison)
    assert oracle.check(con, out, lin, 1, poison)[0] == []
    out, lin = _commit(tmp_path / "bad", con, 1, poison, lambda rows: rows[:-1])
    assert any("error rows" in p for p in oracle.check(con, out, lin, 1, poison)[0])


# --- the contract -------------------------------------------------------------


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == layers.UNITS
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)


# --- process clean-up ----------------------------------------------------------

_STRAY = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench.procwatch import adopt_orphans, descendants, stop_descendants

adopt_orphans()
# the child leaves a grandchild in a group of its own, as pyspark's daemon
# does, and ends; the grandchild ignores SIGTERM
out = subprocess.run(
    [sys.executable, "-c",
     "import os, signal, subprocess, sys;"
     "p = subprocess.Popen([sys.executable, '-c', 'import os, signal, time;"
     "os.setpgid(0, 0); signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)'],"
     " stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL);"
     "print(p.pid)"],
    capture_output=True, text=True, check=True,
)
stray = int(out.stdout)
assert stray in descendants(os.getpid()), "orphan was not adopted"
stop_descendants(grace=0.5)
assert not descendants(os.getpid())
assert not os.path.exists(f"/proc/{stray}")
print("ok")
"""


def test_stop_descendants_reaps_an_orphan_in_its_own_group():
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _STRAY, ROOT], capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
