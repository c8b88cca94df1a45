"""Benchmark front end: prints ONE compact JSON line, last on stdout.

    python3 bench.py

Every job figure comes from ``perfbench/run.py``, the benchmark of record:
it runs the shipped ``jobs/extract_job_main.main()`` cold, in a fresh
process per sample, and oracle-checks every committed row and lineage
digest.  Each run here is pinned with ``taskset`` to the first ``w`` CPUs
of this process, and perfbench derives ``local[w]`` from that affinity.

* ``value``: the ``docs_per_s`` median of ``pages_large_1bucket`` at
  ``w = nproc`` (the CPUs this process may use).  ``e2e`` holds every
  end-to-end median of both workloads at ``nproc``.
* ``scaling``: ``pages_large_1bucket`` at ``w = nproc // 4`` and
  ``w = nproc``.  It gives docs/s at both widths and the efficiency
  ``(dps_wide / dps_narrow) / (wide / narrow)``.  One ``--trace 1`` run
  per width measures the pure-multiprocessing ceiling, whose own
  efficiency normalises the job's.
* ``queries``: seconds per ``__spark_entry__.queries()`` entry, min of 2
  runs, cache cleared between queries, at ``$SPARK_GRAFT_SF_DIR``
  (default: ``sf0.1`` beside the entry module's ``sf0.001``).

If a perfbench run exits non-zero or reports ``correct: false``, the line
carries ``error`` and the exit status is 1.  The full result is also
written to ``.perfbench_work/bench.json``, where perfbench keeps its own
files; nothing else in the checkout is written.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import traceback

from perfbench.procwatch import adopt_orphans, stop_descendants

ROOT = os.path.dirname(os.path.abspath(__file__))
SEED = 7
SECONDS = 20
HEADLINE = "pages_large_1bucket"
CEILING = "functions.extract.mp_ceiling_docs_per_s"
LINE_MAX = 1900  # the stdout tail a reader of the line parses
RESULT_PATH = os.path.join(ROOT, ".perfbench_work", "bench.json")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def sig(v: float) -> float:
    """``v`` to 4 significant digits: enough for a median, short in JSON."""
    return float(f"{v:.4g}")


def perfbench(workload: str, width: int, trace: int = 0) -> dict:
    """The result object (last stdout line) of one ``perfbench/run.py``
    run pinned to the first ``width`` CPUs; raises if it exits non-zero."""
    cpus = ",".join(map(str, sorted(os.sched_getaffinity(0))[:width]))
    cmd = ["taskset", "-c", cpus, sys.executable, "perfbench/run.py",
           "--workload", workload, "--seed", str(SEED),
           "--seconds", str(SECONDS), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        raise RuntimeError(f"perfbench exited {out.returncode}")
    return json.loads(lines[-1])


def measure(workload: str, width: int, trace: int = 0) -> dict:
    """Metric values of one oracle-checked perfbench run."""
    what = f"{workload} at {width} CPUs, trace {trace}"
    t0 = time.monotonic()
    try:
        res = perfbench(workload, width, trace)
    except RuntimeError as e:
        raise RuntimeError(f"{what}: {e}") from None
    if not res.get("correct"):
        raise RuntimeError(
            f"{what}: correct=false, {res.get('failed')} of "
            f"{res.get('attempted')} docs failed"
        )
    log(f"bench: {what}: {time.monotonic() - t0:.0f} s")
    return {k: m["value"] for k, m in res["metrics"].items()}


def bench_queries(cpus: int, sf_dir: str) -> dict:
    """Seconds per query, min of 2 runs.  Several operators persist
    intermediates they cannot unpersist, so the cache is cleared after
    each query; left in place, they evict the next query's own cache
    between its runs."""
    import __spark_entry__ as entry
    from dhtmlparser3_spark.plans.session import get_spark

    spark = get_spark(app_name="bench-queries", cpus=cpus)
    out = {}
    try:
        for name, q in entry.queries().items():
            secs = []
            for _ in range(2):
                t0 = time.monotonic()
                q(spark, sf_dir).count()
                secs.append(time.monotonic() - t0)
            out[name] = round(min(secs), 2)
            log(f"bench: query {name}: {out[name]} s")
            spark.catalog.clearCache()
    finally:
        spark.stop()
    return out


def scaling(dps: dict, ceiling: dict, narrow: int, wide: int) -> dict:
    ratio = wide / narrow
    eff = dps[wide] / dps[narrow] / ratio
    hw = ceiling[wide] / ceiling[narrow] / ratio
    return {
        "widths": [narrow, wide],
        "docs_per_s": {str(w): sig(dps[w]) for w in (narrow, wide)},
        "efficiency": round(eff, 3),
        "mp_ceiling_docs_per_s": {str(w): sig(ceiling[w]) for w in (narrow, wide)},
        "ceiling_efficiency": round(hw, 3),
        "normalized_efficiency": round(eff / hw, 3),
    }


def compact(result: dict) -> str:
    """The stdout line: ``result`` as compact JSON within ``LINE_MAX``.
    If it is longer, ``e2e`` and then ``queries`` are emptied, and
    ``trimmed`` names them (the full result is in ``RESULT_PATH``)."""
    r = dict(result)
    for key in ("e2e", "queries", None):
        line = json.dumps(r, separators=(",", ":"))
        if len(line) <= LINE_MAX or key is None:
            return line
        r[key] = {}
        r["trimmed"] = r.get("trimmed", []) + [key]


def run() -> int:
    nproc = len(os.sched_getaffinity(0))
    narrow = max(1, nproc // 4)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        import __spark_entry__ as entry

        sf_dir = os.path.join(os.path.dirname(entry.SF001), "sf0.1")
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(name.removeprefix("sf"))
    except ValueError:
        sf = name
    result = {
        "metric": f"extract_job_docs_per_s_local{nproc}",
        "unit": "docs/s",
        "value": None,
        "sf": sf,
        "queries": {},
    }
    try:
        widths = (narrow, nproc)
        pages = {w: measure(HEADLINE, w) for w in widths}
        ceiling = {w: measure(HEADLINE, w, trace=1)[CEILING] for w in widths}
        e2e = {
            HEADLINE: pages[nproc],
            "warc_resumable_8": measure("warc_resumable_8", nproc),
        }
        result["value"] = sig(pages[nproc]["docs_per_s"])
        result["e2e"] = {
            wl: {k: sig(v) for k, v in m.items()} for wl, m in e2e.items()
        }
        result["scaling"] = scaling(
            {w: m["docs_per_s"] for w, m in pages.items()}, ceiling, narrow, nproc
        )
        result["queries"] = bench_queries(nproc, sf_dir)
    except Exception as e:  # the line is printed whatever fails
        traceback.print_exc()
        result["error"] = f"{type(e).__name__}: {e}"
    os.makedirs(os.path.dirname(RESULT_PATH), exist_ok=True)
    with open(RESULT_PATH, "w") as f:
        json.dump(result, f)
    print(compact(result), flush=True)
    return 1 if "error" in result else 0


def main() -> int:
    """Runs the bench; every process it started is ended before it exits."""
    adopt_orphans()
    try:
        return run()
    finally:
        stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
