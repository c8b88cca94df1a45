"""One cold run of the shipped job: ``jobs/extract_job_main.main()``.

    python3 perfbench/launch.py SPEC.json

SPEC holds ``root`` (the checkout), ``argv`` (the job's command line),
``result`` (where to write timings) and ``mode``: ``timed``, ``traced``, or
``setup`` (the process ends as soon as the job's session is up, to sample
set-up time alone).  The job builds its own
session; its master and any extra confs arrive through
``PYSPARK_SUBMIT_ARGS``, as they would through spark-submit.

A watcher thread records the moment pyspark's active SparkContext appears
(the end of set-up).  In a traced run:

* the PySpark calls that launch Spark jobs (reads, writes, actions) are
  wrapped in spans that record the calling file and line, so each Spark job
  can be attributed to the program code that caused it;
* ``SparkContext.stop`` is wrapped so Spark's REST API is read on localhost
  before the UI goes away;
* the parse-only layer (``extract_pages`` then an aggregate) is timed
  afterwards in a fresh session over the same input.

All times are ``time.monotonic()`` readings: CLOCK_MONOTONIC is system-wide,
so the parent compares them with its own process-start reading.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import threading
import time
import urllib.request


def _watch_session(marks: dict, done: threading.Event, spec: dict) -> None:
    import pyspark  # already imported by main(): no import race

    while not done.is_set():
        if pyspark.SparkContext._active_spark_context is not None:
            marks["session_up"] = time.monotonic()
            if spec["mode"] == "setup":
                _write(spec["result"], marks)
                os._exit(0)  # the JVM follows when its stdin closes
            return
        time.sleep(0.002)


def _write(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def _rest_get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=60) as r:
        return json.loads(r.read())


def read_rest(sc) -> dict:
    """Jobs, stages (with tasks) and SQL executions (with plan metrics) of
    the running application, read from Spark's own REST API on localhost."""
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    # the status store is fed asynchronously: wait until every job it knows
    # has finished before reading
    deadline = time.monotonic() + 30
    while True:
        jobs = _rest_get(base, "/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    return {
        "jobs": jobs,
        "stages": _rest_get(base, "/stages?details=true"),
        "sql": _rest_get(base, "/sql?details=true&planDescription=false&length=100000"),
    }


def _hook_stop(spec: dict) -> None:
    import pyspark

    orig = pyspark.SparkContext.stop
    state = {"done": False}

    def stop(self):
        if not state["done"]:
            state["done"] = True
            try:
                rest = read_rest(self)
            except Exception as e:  # noqa: BLE001 — reported, never fatal
                rest = {"error": f"{type(e).__name__}: {e}"}
            _write(spec["rest"], rest)
        return orig(self)

    pyspark.SparkContext.stop = stop


# PySpark entry points that can launch Spark jobs
_SPANNED = {
    ("pyspark.sql.classic.dataframe", "DataFrame"): (
        "collect", "count", "toPandas", "take", "first", "head",
        "toLocalIterator", "foreach", "foreachPartition", "isEmpty",
    ),
    ("pyspark.sql.readwriter", "DataFrameWriter"): (
        "parquet", "save", "saveAsTable", "insertInto", "json", "csv", "text", "orc",
    ),
    ("pyspark.sql.readwriter", "DataFrameReader"): (
        "parquet", "load", "json", "csv", "orc", "table", "text",
    ),
}


def _hook_spans(spans: list) -> None:
    """Record (method, caller file, caller line, start, end) in epoch
    seconds around the outermost PySpark call of each job-launching kind."""
    import importlib

    import pyspark

    spark_dir = os.path.dirname(pyspark.__file__)
    local = threading.local()

    def caller():
        f = sys._getframe(2)
        while f is not None and f.f_code.co_filename.startswith(spark_dir):
            f = f.f_back
        return (f.f_code.co_filename, f.f_lineno) if f else ("", 0)

    def wrap(name, fn):
        def spanned(*a, **kw):
            if getattr(local, "depth", 0):
                return fn(*a, **kw)
            path, line = caller()
            local.depth = 1
            start = time.time()
            try:
                return fn(*a, **kw)
            finally:
                local.depth = 0
                spans.append([name, path, line, start, time.time()])

        return spanned

    for (mod, cls), names in _SPANNED.items():
        klass = getattr(importlib.import_module(mod), cls)
        for name in names:
            setattr(klass, name, wrap(name, getattr(klass, name)))


def parse_only(spec: dict) -> dict:
    """``extract_pages`` → aggregate over the job's input, timed in a new
    session on the warm JVM the job leaves behind."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dhtmlparser3_spark.pipeline.extract_job import extract_pages

    spark = SparkSession.builder.appName("perfbench-parse-only").getOrCreate()
    try:
        if spec["input_kind"] == "warc":
            from dhtmlparser3_spark.sources.warc import warc_pages

            pages = warc_pages(spark, spec["input"])
        else:
            from dhtmlparser3_spark.sources.tables import read_pages

            pages = read_pages(spark, spec["input"])
        t0 = time.monotonic()
        row = (
            extract_pages(pages)
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_chars_out").alias("chars"),
            )
            .collect()[0]
        )
        return {"seconds": time.monotonic() - t0, "docs": int(row.docs)}
    finally:
        spark.stop()


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    root = spec["root"]
    sys.path.insert(0, root)
    marks: dict = {"launcher_start": time.monotonic()}
    import pyspark  # noqa: F401 — before the watcher thread touches it

    done = threading.Event()
    watcher = threading.Thread(
        target=_watch_session, args=(marks, done, spec), daemon=True
    )
    watcher.start()
    spans: list = []
    if spec["mode"] == "traced":
        _hook_stop(spec)
        _hook_spans(spans)

    path = f"{root}/jobs/extract_job_main.py"
    mod_spec = importlib.util.spec_from_file_location("extract_job_main", path)
    job = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(job)
    sys.argv = [path] + spec["argv"]
    try:
        rc = job.main()
    except SystemExit as e:
        rc = e.code if isinstance(e.code, int) else 1
    except Exception as e:  # noqa: BLE001 — a failed job is a result too
        rc = 1
        marks["error"] = f"{type(e).__name__}: {e}"
    marks["main_end"] = time.monotonic()
    done.set()
    watcher.join()
    marks["rc"] = rc
    marks["spans"] = list(spans)
    if spec["mode"] == "traced" and rc == 0:
        marks["parse_only"] = parse_only(spec)
    _write(spec["result"], marks)
    return 0


if __name__ == "__main__":
    sys.exit(main())
