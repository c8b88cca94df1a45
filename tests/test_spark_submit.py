"""End-to-end spark-submit --py-files packaging validation.

North-rule clause: "packaged for spark-submit --py-files ... resumes
idempotently".  The test proves the dist zip ALONE provides the package:
the job script is copied to a temp dir, PYTHONPATH is stripped, and the
working directory contains no ``dhtmlparser3_spark`` — the only way the
import can succeed is through ``--py-files dist/dhtmlparser3_spark.zip``.
A second submit must resume from the lineage table and process 0 buckets.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _spark_submit() -> str | None:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    guess = "/opt/spark/bin/spark-submit"
    return guess if os.path.exists(guess) else None


@pytest.mark.spark
def test_spark_submit_pyfiles_resumable(tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not on PATH")

    # build the zip fresh so the test covers the builder too
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "build_pyfiles.py")],
        check=True,
        capture_output=True,
        text=True,
    ).stdout.strip()
    assert zip_path.endswith("dhtmlparser3_spark.zip")
    assert os.path.getsize(zip_path) > 10_000

    # isolate: job script in a dir with no package, PYTHONPATH stripped
    script = tmp_path / "extract_job_main.py"
    shutil.copyfile(os.path.join(REPO, "jobs", "extract_job_main.py"), script)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    out_dir = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    cmd = [
        submit,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        str(script),
        "--sf-dir", SF,
        "--output", out_dir,
        "--lineage", lineage,
        "--buckets", "8",
    ]

    def run(*confs):
        p = subprocess.run(
            cmd[:1] + list(confs) + cmd[1:], cwd=str(tmp_path), env=env,
            capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-4000:]
        line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    from dhtmlparser3_spark.functions.extract import _WORKER_BATCH_BYTES

    first = run()
    assert first["processed"] == 8 and first["skipped"] == 0
    assert first["digest_mismatches"] == 0
    # the job bounds its Python workers' input batches by the worker slice
    assert first["arrow_max_bytes_per_batch"] == _WORKER_BATCH_BYTES
    assert first["arrow_max_records_per_batch"] == 10_000

    # resume: everything committed, nothing to redo; a submitter's own
    # byte bound wins over the job's
    other = 3 * _WORKER_BATCH_BYTES
    second = run(
        "--conf", f"spark.sql.execution.arrow.maxBytesPerBatch={other}"
    )
    assert second["processed"] == 0 and second["skipped"] == 8
    assert second["digest_mismatches"] == 0
    assert second["arrow_max_bytes_per_batch"] == other


def test_spark_submit_warc_input(tmp_path):
    """North-star input shape: spark-submit --py-files over .warc.gz input
    (wire-encoded records), resumable, digests verified."""
    submit = _spark_submit()
    if submit is None:
        pytest.skip("spark-submit not on PATH")

    from dhtmlparser3_spark.sources.warc import write_warc_gz

    warc = str(tmp_path / "in.warc.gz")
    docs = [
        (f"http://h{i}.example/p", "2024-03-04T05:06:07Z",
         f"<div id=d{i}>doc {i} &amp; more</div>".encode(),
         [None, "gzip", None][i % 3], [None, None, "chunked"][i % 3])
        for i in range(24)
    ]
    write_warc_gz(docs, warc)

    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "build_pyfiles.py")],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    script = tmp_path / "extract_job_main.py"
    shutil.copyfile(os.path.join(REPO, "jobs", "extract_job_main.py"), script)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    out_dir, lineage = str(tmp_path / "out"), str(tmp_path / "lineage")
    wet_dir, wat_dir = str(tmp_path / "wet"), str(tmp_path / "wat")
    cmd = [
        submit,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        str(script),
        "--warc", warc,
        "--output", out_dir,
        "--lineage", lineage,
        "--buckets", "4",
        "--wet-output", wet_dir,
        "--wat-output", wat_dir,
    ]

    def run():
        p = subprocess.run(
            cmd, cwd=str(tmp_path), env=env,
            capture_output=True, text=True, timeout=600,
        )
        assert p.returncode == 0, p.stderr[-4000:]
        line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    first = run()
    assert first["processed"] == 4 and first["digest_mismatches"] == 0
    assert first["wet_records"] == 24 and first["wet_shards"] >= 1
    assert first["wat_records"] == 24 and first["wat_shards"] >= 1
    second = run()  # resume: all buckets committed
    assert second["skipped"] == 4 and second["digest_mismatches"] == 0

    # the published WET shards round-trip the extracted table exactly —
    # the full Common Crawl loop (.warc.gz in → .warc.wet.gz out) through
    # the packaged entrypoint
    import glob as _glob

    import duckdb

    want = {
        (r[0], r[1])
        for r in duckdb.sql(
            "SELECT url, extracted_text FROM "
            f"read_parquet('{out_dir}/**/*.parquet') WHERE error IS NULL"
        ).fetchall()
    }
    got = set()
    from dhtmlparser3_spark.sources.warc import parse_warc_record
    from dhtmlparser3_spark.sources.wet import build_wet_record  # noqa: F401
    import gzip as _gz
    import zlib as _zlib

    for shard in _glob.glob(os.path.join(wet_dir, "*.warc.wet.gz")):
        data = open(shard, "rb").read()
        pos = 0
        while pos < len(data):
            d = _zlib.decompressobj(wbits=31)
            raw = d.decompress(data[pos:])
            pos = len(data) - len(d.unused_data)
            wtype, url, _date, block = parse_warc_record(raw)
            if wtype == "conversion":
                got.add((url, block.decode("utf-8")))
    assert got == want and len(got) == 24

    import duckdb

    got = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out_dir}/**/*.parquet')"
    ).fetchone()[0]
    assert got == len(docs)
