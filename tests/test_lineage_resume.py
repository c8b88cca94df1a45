"""Kill → resume → identical output, no duplicates (north-star resume)."""

from __future__ import annotations

import os
import shutil

import pytest

from dhtmlparser3_spark.pipeline import lineage as ln
from dhtmlparser3_spark.sources.pages import build_pages

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
def test_kill_and_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)

    # run 1: killed after 3 of 8 buckets
    with pytest.raises(RuntimeError, match="simulated kill"):
        ln.run_extract_job(
            spark, pages, out, lin, n_buckets=8, fail_after_buckets=3
        )
    done1 = ln.completed_buckets(spark, lin).count()
    assert done1 == 3

    # run 2: resumes, skips the 3 done buckets, completes the rest
    r2 = ln.run_extract_job(spark, pages, out, lin, n_buckets=8)
    assert r2["skipped"] == 3
    assert r2["processed"] == 5

    # full output: every url exactly once
    res = spark.read.parquet(out)
    assert res.count() == 500
    assert res.select("url").distinct().count() == 500
    assert res.where("error is not null").count() == 0

    # digests verify
    assert ln.verify_run(spark, out, lin).count() == 0

    # run 3 on a completed table is a no-op
    r3 = ln.run_extract_job(spark, pages, out, lin, n_buckets=8)
    assert r3["processed"] == 0 and r3["skipped"] == 8


@pytest.mark.spark
def test_resume_rewrites_orphan_bucket(spark, tmp_path):
    """A bucket dir written without its lineage row (crash between commit
    steps) is overwritten on resume — no duplicates."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)

    with pytest.raises(RuntimeError):
        ln.run_extract_job(
            spark, pages, out, lin, n_buckets=4, fail_after_buckets=2
        )
    # simulate the crash window: bucket committed but lineage row lost →
    # delete lineage entirely, keep outputs (worst case: ALL orphans)
    shutil.rmtree(lin)
    r = ln.run_extract_job(spark, pages, out, lin, n_buckets=4)
    assert r["processed"] == 4
    res = spark.read.parquet(out)
    assert res.count() == 500
    assert res.select("url").distinct().count() == 500
    assert ln.verify_run(spark, out, lin).count() == 0


@pytest.mark.spark
@pytest.mark.parametrize("mode", ["cut", "orphan"])
def test_real_sigkill_resume(spark, tmp_path, mode):
    """A REAL SIGKILL — driver + JVM die with no cleanup, no shutdown
    hooks, no writer close — then resume completes idempotently.

    The in-process tests above simulate the kill with an exception; this
    one spawns the job in a subprocess (tests/kill_runner.py) that
    SIGKILLs itself either between buckets (``cut``) or inside the
    output-committed/lineage-lost crash window (``orphan``)."""
    import signal
    import subprocess
    import sys

    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    runner = os.path.join(os.path.dirname(__file__), "kill_runner.py")
    proc = subprocess.Popen(
        [sys.executable, runner, out, lin, mode],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=300)
    finally:
        # reap anything left in the runner's session (a py4j JVM that
        # survived the driver's death would poison later pinned benches)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
    # the process died by SIGKILL, not by a Python exception
    assert proc.returncode == -signal.SIGKILL, (
        proc.returncode, stdout[-2000:], stderr[-2000:])
    assert "UNREACHABLE" not in stdout

    done = ln.completed_buckets(spark, lin).count()
    assert done == 3
    if mode == "orphan":
        # the 4th bucket's output dir committed but its lineage row died
        # with the process: exactly one orphan bucket dir on disk
        bucket_dirs = {
            d for d in os.listdir(out) if d.startswith("bucket=")
        }
        assert len(bucket_dirs) == 4

    # resume in THIS session: skips the 3 committed buckets, rewrites any
    # orphan, completes the rest
    pages = build_pages(spark, SF)
    r = ln.run_extract_job(spark, pages, out, lin, n_buckets=8)
    assert r["skipped"] == 3
    assert r["processed"] == 5
    res = spark.read.parquet(out)
    assert res.count() == 500
    assert res.select("url").distinct().count() == 500
    assert ln.verify_run(spark, out, lin).count() == 0


@pytest.mark.spark
def test_micro_runs(spark, tmp_path):
    """max_buckets_per_run models scheduled micro-runs over a huge table."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)
    total = 0
    for _ in range(4):
        r = ln.run_extract_job(
            spark, pages, out, lin, n_buckets=6, max_buckets_per_run=2
        )
        total += r["processed"]
    assert total == 6
    assert spark.read.parquet(out).count() == 500


@pytest.mark.spark
def test_committed_buckets_equal_extract_pages(spark, tmp_path):
    """Per bucket, the committed rows are the rows extract_pages gives for
    the urls of that bucket — equal as multisets."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages

    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)
    ln.run_extract_job(spark, pages, out, lin, n_buckets=8)

    got = spark.read.parquet(out)
    cols = got.columns  # extract columns + the partition column ``bucket``
    want = ln.with_bucket(extract_pages(pages), 8).select(*cols)
    assert got.count() == want.count() == 500
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.spark
def test_spark_jobs_independent_of_bucket_count(spark, tmp_path):
    """One pass: the job launches as many Spark jobs at 16 buckets as at 4."""
    sc = spark.sparkContext
    pages = build_pages(spark, SF)
    n_jobs = {}
    for n in (4, 16):
        group = f"lineage-{n}"
        sc.setJobGroup(group, f"run_extract_job n_buckets={n}")
        try:
            ln.run_extract_job(
                spark, pages, str(tmp_path / f"out{n}"),
                str(tmp_path / f"lineage{n}"), n_buckets=n,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs[4] > 0
    assert n_jobs[4] == n_jobs[16], n_jobs


@pytest.mark.spark
def test_resume_leaves_committed_bucket_files(spark, tmp_path):
    """A resume rewrites only pending buckets: the files of the buckets an
    earlier micro-run committed keep their names."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)
    ln.run_extract_job(spark, pages, out, lin, n_buckets=8, max_buckets_per_run=3)

    def files():
        return {
            d: sorted(os.listdir(os.path.join(out, d)))
            for d in os.listdir(out)
            if d.startswith("bucket=")
        }

    before = files()
    assert len(before) == 3
    r = ln.run_extract_job(spark, pages, out, lin, n_buckets=8)
    assert r["skipped"] == 3 and r["processed"] == 5
    after = files()
    assert len(after) == 8
    assert {d: after[d] for d in before} == before
    assert ln.verify_run(spark, out, lin).count() == 0


@pytest.mark.spark
def test_verify_run_flags_bucket_with_missing_files(spark, tmp_path):
    """A lineage row whose bucket=<b>/ files are gone fails verification."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)
    ln.run_extract_job(spark, pages, out, lin, n_buckets=4)
    assert ln.verify_run(spark, out, lin).count() == 0

    shutil.rmtree(os.path.join(out, "bucket=2"))
    bad = ln.verify_run(spark, out, lin).collect()
    assert [r.bucket for r in bad] == [2]
    assert bad[0].n_docs > 0


@pytest.mark.spark
def test_verify_run_flags_duplicate_lineage_rows(spark, tmp_path):
    """Two lineage rows for one bucket fail verification, even when both
    carry the right digest."""
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lineage")
    pages = build_pages(spark, SF)
    ln.run_extract_job(spark, pages, out, lin, n_buckets=4)
    lineage = spark.read.parquet(lin)
    dup = lineage.where("bucket = 1").collect()
    spark.createDataFrame(dup, lineage.schema).write.mode("append").parquet(lin)

    bad = ln.verify_run(spark, out, lin).collect()
    assert sorted(r.bucket for r in bad) == [1, 1]


@pytest.mark.spark
def test_pending_buckets_of_missing_lineage_launches_no_job(spark, tmp_path):
    """A fresh run learns that nothing is committed without a Spark job."""
    sc = spark.sparkContext
    group = "pending-missing-lineage"
    sc.setJobGroup(group, "pending_buckets on a missing lineage path")
    try:
        pending = ln.pending_buckets(spark, str(tmp_path / "nope"), 8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert pending == list(range(8))
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.spark
def test_lineage_frames_built_on_the_jvm(spark, tmp_path):
    """The lineage rows and the "nothing committed yet" frame are JVM
    literals, not a Python RDD (no ``ExistingRDD`` scan, so no Python
    worker), and carry the lineage schema and values."""
    rows = [("run1", 3, "in/*.warc.gz", 7, 1 << 40), ("run1", 5, "", 0, 0)]
    frames = {
        "rows": ln._lineage_rows(spark, rows),
        "empty": ln.completed_buckets(spark, str(tmp_path / "nope")),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
    from pyspark.sql.types import DataType

    got = frames["rows"]
    want_t = DataType.fromDDL(ln.LINEAGE_SCHEMA).simpleString()
    assert got.schema.simpleString() == want_t
    assert [tuple(r)[:5] for r in got.collect()] == rows
    assert frames["empty"].collect() == []
