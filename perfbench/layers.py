"""Per-layer metrics of a traced run, measured from outside the program.

Three sources, all read after the traced job has finished:

* Spark's REST API snapshot taken by ``launch.py`` just before the job's
  session stopped: job, stage and task counts and times.  Each job is
  attributed, through the span ``launch.py`` recorded around the PySpark
  call that launched it, to the statement of ``pipeline/lineage.py`` (or of
  the job's main) that made that call.
* The public functions of ``sources.warc``, ``engine.*`` and
  ``functions.extract``, timed one after another in this process on the
  workload's own inputs (garbage collection off, as in the worker loop),
  median of ``REPEATS`` passes.
* A pure-multiprocessing ceiling: ``nproc`` forked processes running the
  same decode and ``extract_one`` on the same inputs, in the same window.
"""

from __future__ import annotations

import ast
import datetime
import gc
import math
import os
import statistics
import time
from typing import Dict, List, Tuple

REPEATS = 3
LARGE_SAMPLE = 300  # large pages timed single-process (all run in the ceiling)
CEILING_TARGET_S = 2.0

LINEAGE_CLASSES = ("pending", "extract_write", "digest_readback", "commit", "verify", "other")


UNITS = {
    "sources.warc.decode_us_per_doc": "us/doc",
    "sources.warc.transcode_us_per_doc": "us/doc",
    "sources.rescan_factor": "ratio",
    "engine.lexer.lex_us_per_doc": "us/doc",
    "engine.dom.arena_us_per_doc": "us/doc",
    "engine.serialize.content_str_us_per_doc": "us/doc",
    "functions.extract.main_text_us_per_doc": "us/doc",
    "functions.extract.extract_one_us_per_doc": "us/doc",
    "engine.lexer.tokens_per_doc": "tokens/doc",
    "engine.dom.nodes_per_doc": "nodes/doc",
    "functions.extract.boundary_us_per_doc": "us/doc",
    "functions.extract.mp_ceiling_docs_per_s": "docs/s",
    "spark.vs_ceiling": "ratio",
    "pipeline.extract_job.parse_only_docs_per_s": "docs/s",
    **{f"pipeline.lineage.{c}_s": "s" for c in LINEAGE_CLASSES},
    "pipeline.lineage.output_files": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.task_overhead_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.traced_docs_per_s": "docs/s",
    "trace.overhead_ratio": "ratio",
}


# --- Spark REST snapshot ----------------------------------------------------


def _epoch_s(stamp: str) -> float:
    return datetime.datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class CallSites:
    """Maps a call site (file, line) to a lineage class."""

    def __init__(self):
        self._stmts: Dict[str, List[Tuple[int, int, str, str]]] = {}

    def _statements(self, path: str):
        if path not in self._stmts:
            rows = []
            try:
                with open(path) as f:
                    src = f.read()
                tree = ast.parse(src)
            except (OSError, SyntaxError):
                tree, src = None, ""
            for fn in ast.walk(tree) if tree else ():
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for st in ast.walk(fn):
                        if isinstance(st, ast.stmt) and not isinstance(
                            st, (ast.FunctionDef, ast.AsyncFunctionDef)
                        ) and not hasattr(st, "body"):
                            rows.append(
                                (st.lineno, st.end_lineno, fn.name,
                                 ast.get_source_segment(src, st) or "")
                            )
            self._stmts[path] = rows
        return self._stmts[path]

    def classify(self, path: str, line: int) -> str:
        hits = [
            (end - start, fn, text)
            for start, end, fn, text in self._statements(path)
            if start <= line <= end
        ]
        if not hits:
            return "other"
        _span, fn, text = min(hits)
        base = os.path.basename(path)
        if "verify_run" in text or fn == "verify_run":
            return "verify"
        if base != "lineage.py":
            return "other"
        if "pending" in fn or "completed" in fn:
            return "pending"
        if ".write" in text:
            return "commit" if "lineage" in text else "extract_write"
        return "digest_readback"


def _job_class(job: dict, spans: list, sites: CallSites) -> str:
    """Class of the span whose PySpark call submitted ``job``."""
    t = _epoch_s(job["submissionTime"])
    for _name, path, line, start, end in spans:
        if start - 0.002 <= t <= end + 0.002:
            return sites.classify(path, line)
    return "other"


def _files_scanned(sql: list, job_class: Dict[int, str], cls: str) -> int:
    """Input files read by the scans of the SQL executions behind ``cls``
    jobs (the plan metric "number of files read" of each Scan node)."""
    n = 0
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        if not any(job_class.get(j) == cls for j in ids):
            continue
        for node in ex.get("nodes", []):
            if node.get("nodeName", "").startswith("Scan"):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        n += int(str(m["value"]).replace(",", ""))
    return n


def rest_metrics(rest: dict, spans: list, job_s: float, input_files: int):
    """Spark-side metrics, and the task count of the extract-write stages."""
    sites = CallSites()
    jobs, stages = rest["jobs"], rest["stages"]
    job_class: Dict[int, str] = {}
    per_class = {c: 0.0 for c in LINEAGE_CLASSES}
    for j in jobs:
        c = _job_class(j, spans, sites)
        job_class[j["jobId"]] = c
        if j.get("completionTime") and j.get("submissionTime"):
            per_class[c] += _epoch_s(j["completionTime"]) - _epoch_s(j["submissionTime"])
    stage_class: Dict[int, str] = {}
    for j in jobs:
        for sid in j.get("stageIds", []):
            stage_class[sid] = job_class[j["jobId"]]

    done = [s for s in stages if s.get("status") == "COMPLETE"]
    intervals = sorted(
        (_epoch_s(s["submissionTime"]), _epoch_s(s["completionTime"]))
        for s in done
        if s.get("submissionTime") and s.get("completionTime")
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in intervals:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a

    overhead_ms = 0.0
    for s in done:
        for t in (s.get("tasks") or {}).values():
            tm = t.get("taskMetrics") or {}
            overhead_ms += (
                t.get("schedulerDelay", 0)
                + tm.get("executorDeserializeTime", 0)
                + tm.get("resultSerializationTime", 0)
            )
    out = {f"pipeline.lineage.{c}_s": v for c, v in per_class.items()}
    out.update(
        {
            "sources.rescan_factor": _files_scanned(
                rest.get("sql", []), job_class, "extract_write"
            ) / input_files,
            "spark.jobs": len(jobs),
            "spark.stages": len(done),
            "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in done),
            "spark.driver_gap_s": job_s - busy,
            "spark.task_overhead_s": overhead_ms / 1000.0,
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in done) / 1e9,
            "spark.jvm_gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1000.0,
            "spark.shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in done),
        }
    )
    return out, sum(
        s.get("numTasks", 0) for s in done if stage_class.get(s["stageId"]) == "extract_write"
    )


# --- single-process layer timings -------------------------------------------


def _timed(fn, items) -> Tuple[float, list]:
    gc_on = gc.isenabled()
    gc.disable()
    try:
        t0 = time.perf_counter()
        out = [fn(x) for x in items]
        return time.perf_counter() - t0, out
    finally:
        if gc_on:
            gc.enable()


def _median_timed(fn, items) -> Tuple[float, list]:
    runs = [_timed(fn, items) for _ in range(REPEATS)]
    return statistics.median(r[0] for r in runs), runs[-1][1]


def _warc_decode(data: bytes):
    """(url, date, body, content-type) of each response record; records the
    reader would turn into error rows are skipped."""
    from dhtmlparser3_spark.sources.warc import (
        http_response,
        parse_warc_fields,
        split_gzip_members,
    )

    out = []
    for _off, raw in split_gzip_members(data):
        hdr, block = parse_warc_fields(raw)
        if hdr.get(b"warc-type") != b"response":
            continue
        try:
            _status, body, ctype, _loc = http_response(block)
        except ValueError:
            continue
        out.append((hdr[b"warc-target-uri"].decode(), hdr[b"warc-date"].decode(), body, ctype))
    return out


def _transcode(rec):
    from dhtmlparser3_spark.sources.warc import transcode_utf8

    return transcode_utf8(rec[2], rec[3])[0]


def warc_layers(shard_paths: List[str]) -> Tuple[Dict[str, float], list]:
    """Decode and transcode µs/doc; returns the decoded pages too."""
    blobs = []
    for p in shard_paths:
        with open(p, "rb") as f:
            blobs.append(f.read())
    t_dec, recs = _median_timed(_warc_decode, blobs)
    recs = [r for shard in recs for r in shard]
    t_tr, bodies = _median_timed(_transcode, recs)
    n = len(recs)
    pages = [(url, date, body) for (url, date, _b, _c), body in zip(recs, bodies)]
    return {
        "sources.warc.decode_us_per_doc": t_dec / n * 1e6,
        "sources.warc.transcode_us_per_doc": t_tr / n * 1e6,
    }, pages


def engine_layers(htmls: List[bytes]) -> Dict[str, float]:
    """µs/doc of each engine layer over the docs that parse (poison docs
    fail inside the lexer and would time an exception path)."""
    from dhtmlparser3_spark.engine import lexer, serialize
    from dhtmlparser3_spark.engine.dom import build_arena, strip_bom
    from dhtmlparser3_spark.functions.extract import (
        _main_text_and_spans,
        decode_html,
        extract_one,
    )

    docs = []
    for h in htmls:
        s = decode_html(h)
        try:
            lexer.lex(strip_bom(s))
        except (ValueError, OverflowError):
            continue
        docs.append(s)
    n = len(docs)
    t_lex, toks = _median_timed(lambda s: lexer.lex(strip_bom(s)), docs)
    t_arena, arenas = _median_timed(build_arena, toks)
    t_cs, _ = _median_timed(serialize.content_str, arenas)
    t_mt, _ = _median_timed(_main_text_and_spans, arenas)
    t_one, _ = _median_timed(extract_one, docs)
    return {
        "engine.lexer.lex_us_per_doc": t_lex / n * 1e6,
        "engine.dom.arena_us_per_doc": t_arena / n * 1e6,
        "engine.serialize.content_str_us_per_doc": t_cs / n * 1e6,
        "functions.extract.main_text_us_per_doc": t_mt / n * 1e6,
        "functions.extract.extract_one_us_per_doc": t_one / n * 1e6,
        "engine.lexer.tokens_per_doc": sum(len(t) for t in toks) / n,
        "engine.dom.nodes_per_doc": sum(len(a.kind) for a in arenas) / n,
    }


def _extract_arrow_schema():
    import pyarrow as pa

    span = pa.struct(
        [("node_id", pa.int32()), ("src_start", pa.int32()), ("src_end", pa.int32())]
    )
    return pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("lang", pa.string()),
            ("extracted_text", pa.string()),
            ("main_text", pa.string()),
            ("n_nodes", pa.int32()),
            ("n_tags", pa.int32()),
            ("n_text_nodes", pa.int32()),
            ("n_chars_out", pa.int64()),
            ("spans", pa.list_(span)),
            ("error", pa.string()),
        ]
    )


def boundary_layer(rows: List[tuple], batch_rows: int) -> float:
    """µs/doc that ``make_extract_iterator`` spends outside ``extract_one``
    on Arrow batches shaped like the job's: Arrow → pandas, ``decode_html``,
    the slicing and frame building, and pandas → Arrow of the extraction
    schema.  ``extract_one`` is swapped for a replay of its precomputed
    results, so the figure is measured directly, not as a difference."""
    import pyarrow as pa

    from dhtmlparser3_spark.functions import extract

    schema = _extract_arrow_schema()
    in_schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("lang", pa.string()),
            ("html", pa.binary()),
        ]
    )
    batches = []
    for i in range(0, len(rows), batch_rows):
        chunk = rows[i : i + batch_rows]
        batches.append(
            pa.RecordBatch.from_arrays(
                [pa.array([r[k] for r in chunk], in_schema.field(k).type) for k in range(4)],
                schema=in_schema,
            )
        )
    results = [extract.extract_one(extract.decode_html(r[3])) for r in rows]
    run = extract.make_extract_iterator()

    def through_boundary(rb):
        return [
            pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)
            for out in run(iter([rb.to_pandas()]))
        ]

    real = extract.extract_one
    times = []
    try:
        for _ in range(REPEATS):
            replay = iter(results)
            extract.extract_one = lambda _html: next(replay)
            times.append(_timed(through_boundary, batches)[0])
    finally:
        extract.extract_one = real
    return statistics.median(times) / len(rows) * 1e6


# --- the multiprocessing ceiling --------------------------------------------


def _load(kind: str, path: str):
    """A WARC shard's bytes, or a parquet file's html values."""
    if kind == "warc":
        with open(path, "rb") as f:
            return f.read()
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["html"]).column("html").to_pylist()


def _ceiling_worker(kind, paths, reps, barrier, results) -> None:
    from dhtmlparser3_spark.functions.extract import decode_html, extract_one

    items = [_load(kind, p) for p in paths]
    barrier.wait()
    n = 0
    for _ in range(reps):
        for item in items:
            htmls = [_transcode(r) for r in _warc_decode(item)] if kind == "warc" else item
            for h in htmls:
                extract_one(decode_html(h))
            n += len(htmls)
    results.put(n)


def mp_ceiling(kind: str, paths: List[str], nproc: int, reps: int) -> float:
    """docs/s of ``nproc`` processes doing decode + ``extract_one`` on the
    input files (dealt round-robin), timed from the moment all have loaded
    their files until the last one finishes."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(nproc + 1)
    results = ctx.Queue()
    procs = [
        ctx.Process(
            target=_ceiling_worker, args=(kind, paths[i::nproc], reps, barrier, results)
        )
        for i in range(nproc)
    ]
    for p in procs:
        p.start()
    try:
        barrier.wait(timeout=120)
        t0 = time.perf_counter()
        docs = sum(results.get(timeout=300) for _ in procs)
        wall = time.perf_counter() - t0
    finally:
        for p in procs:
            p.join(timeout=30)
            if p.is_alive():
                p.kill()
                p.join()
    return docs / wall


# --- assembly ---------------------------------------------------------------


def collect(bench, traced: dict, untraced_dps):
    """Per-layer metrics from the traced sample plus in-process timings;
    ``untraced_dps`` is the untraced docs/s the overhead compares with."""
    import pyarrow.parquet as pq

    m: Dict[str, float] = {}
    marks = traced.get("marks", {})
    rest = marks.get("rest") or {}
    job_s = traced.get("metrics", {}).get("job_s", float("nan"))
    extract_tasks = 0
    if "jobs" in rest:
        rm, extract_tasks = rest_metrics(
            rest, marks.get("spans", []), job_s, len(os.listdir(bench.input_dir))
        )
        m.update(rm)
    m["spark.jvm_peak_rss_mb"] = traced["jvm_peak_rss_mb"]
    m["pipeline.lineage.output_files"] = sum(
        1
        for _d, _s, files in os.walk(traced["output_dir"])
        for f in files
        if f.endswith(".parquet")
    )
    po = marks.get("parse_only")
    if po:
        m["pipeline.extract_job.parse_only_docs_per_s"] = po["docs"] / po["seconds"]

    paths = sorted(os.path.join(bench.input_dir, f) for f in os.listdir(bench.input_dir))
    if bench.kind == "warc":
        wm, pages = warc_layers(paths)
        m.update(wm)
        rows = [
            (url, datetime.datetime.strptime(date, "%Y-%m-%dT%H:%M:%SZ").replace(
                tzinfo=datetime.timezone.utc), None, body)
            for url, date, body in pages
        ]
        n_docs = len(rows)
    else:
        table = pq.read_table(bench.input_dir, columns=["url", "warc_ts", "lang", "html"])
        n_docs = table.num_rows
        rows = list(
            zip(*[table.column(c).to_pylist() for c in ("url", "warc_ts", "lang", "html")])
        )[:LARGE_SAMPLE]
        # a parquet pages table has no WARC records to decode: the job spends
        # nothing in that layer on this workload
        m["sources.warc.decode_us_per_doc"] = 0.0
        m["sources.warc.transcode_us_per_doc"] = 0.0
    m.update(engine_layers([r[3] for r in rows]))
    # job-shaped batches: the rows one extract task of the job received
    batch_rows = min(10000, len(rows), math.ceil(n_docs / max(1, extract_tasks)))
    m["functions.extract.boundary_us_per_doc"] = boundary_layer(rows, batch_rows)
    one_pass_s = n_docs * (
        m["functions.extract.extract_one_us_per_doc"]
        + m["sources.warc.decode_us_per_doc"]
        + m["sources.warc.transcode_us_per_doc"]
    ) * 1e-6
    reps = max(1, math.ceil(CEILING_TARGET_S * bench.nproc / one_pass_s))
    ceiling = mp_ceiling(bench.kind, paths, bench.nproc, reps)
    m["functions.extract.mp_ceiling_docs_per_s"] = ceiling
    traced_dps = traced.get("metrics", {}).get("docs_per_s")
    if traced_dps:
        m["spark.vs_ceiling"] = traced_dps / ceiling
        m["trace.traced_docs_per_s"] = traced_dps
    if untraced_dps:
        m["trace.untraced_docs_per_s"] = untraced_dps
    if traced_dps and untraced_dps:
        m["trace.overhead_ratio"] = 1.0 - traced_dps / untraced_dps
    missing = sorted(set(UNITS) - set(m))
    return {k: m[k] for k in UNITS if k in m}, {k: UNITS[k] for k in UNITS if k in m}, missing
