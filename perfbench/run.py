"""Benchmark of record: the shipped resumable extract job, cold per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each measured sample is a fresh process
running ``jobs/extract_job_main.main()`` with its own defaults and its own
``SparkSession.builder...getOrCreate()`` at ``local[N]``, N = the CPUs this
process may use.  Samples repeat until they have covered ``--seconds`` of
wall time and number at least the workload's minimum; every end-to-end
figure is the median over them.
``setup_s`` also takes in ``SETUP_PROBES`` processes that stop as soon as
the job's session is up: one set-up per sample would be too few for a
steady median.  After each sample the committed output and lineage go
through the oracle (``oracle.py``), untimed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs one traced
sample (Spark's REST API is read on localhost before the job's session
stops), then times the layers in this process (``layers.py``) and prints the
per-layer metrics.  The tracing overhead compares the traced sample's
docs/s with the median of the untraced samples this checkout has recorded
for the same program sources (one untraced sample is run first if there
are none).

Inputs are generated from the seed and cached under ``.perfbench_work/`` in
the checkout, as is every file the job writes.  The last stdout line is the
result object; the line before it records the measurement window.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, oracle  # noqa: E402  (stdlib-only at import)
from perfbench.procwatch import adopt_orphans, reap_orphans, stop_descendants  # noqa: E402

# name → (input kind, --buckets, samples per run at least).  A WARC sample
# swings ±5% on its own on a shared host; the median of two damps that.
WORKLOADS = {
    "warc_resumable_8": ("warc", 8, 2),
    "pages_large_1bucket": ("pages", 1, 1),
}
# extra set-up-only processes per run, so set-up time is a median of several
SETUP_PROBES = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "docs/s",
    "worker_peak_rss_mb": "MB",
    "doc_error_ratio": "ratio",
}

# a run stops adding samples once another one could push it past this
RUN_BUDGET_S = 150.0


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a throttled window shows here."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


class Bench:
    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.kind, self.buckets, self.min_samples = WORKLOADS[workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.tmp = os.path.join(self.work, "tmp")
        self.run_dir = os.path.join(self.work, "run")
        os.makedirs(self.tmp, exist_ok=True)
        self.order: list = []
        self.fingerprint = inputs.program_fingerprint(ROOT)
        self.history = os.path.join(self.work, "history", f"{workload}.jsonl")
        if self.kind == "warc":
            corpus = inputs.warc_inputs(self.work, seed)
            self.docs_parquet = os.path.join(corpus, "documents.parquet")
            self.input_dir = os.path.join(corpus, "warc")
            self.input_arg = ["--warc", os.path.join(self.input_dir, "*.warc.gz")]
            self.input_glob = self.input_arg[1]
            self.input_records = inputs.warc_input_records()
        else:
            corpus = inputs.pages_large_inputs(self.work, seed)
            self.expected_parquet = os.path.join(corpus, "expected.parquet")
            self.input_dir = os.path.join(corpus, "table")
            self.input_arg = ["--pages-table", self.input_dir]
            self.input_glob = self.input_dir
            self.input_records = inputs.N_LARGE_PAGES
        self.input_bytes = inputs.input_bytes(self.input_dir)

    # --- child processes -------------------------------------------------

    def _env(self, extra_confs=()) -> dict:
        env = {
            k: v
            for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")
            and k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_LOCAL_DIRS", "PYTHONPATH")
        }
        confs = [f"spark.local.dir={self.work}/spark-local", *extra_confs]
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--master local[{self.nproc}]"]
            + [f"--conf {c}" for c in confs]
            + [f"--driver-java-options -Djava.io.tmpdir={self.tmp}", "pyspark-shell"]
        )
        env["PYTHONPATH"] = ROOT
        env["TMPDIR"] = self.tmp
        return env

    def launch(self, out_dir: str, lin_dir: str, mode: str = "timed"):
        """One cold process of the job; returns its marks and memory peaks.
        ``mode`` is ``timed``, ``traced`` or ``setup`` (the process ends as
        soon as the job's session is up)."""
        from perfbench.procwatch import TreeWatch

        os.makedirs(self.run_dir, exist_ok=True)
        spec = {
            "root": ROOT,
            "argv": self.input_arg
            + ["--output", out_dir, "--lineage", lin_dir, "--buckets", str(self.buckets)],
            "result": os.path.join(self.run_dir, "marks.json"),
            "rest": os.path.join(self.run_dir, "rest.json"),
            "mode": mode,
            "input_kind": self.kind,
            "input": self.input_glob,
        }
        for p in (spec["result"], spec["rest"]):
            if os.path.exists(p):
                os.remove(p)
        spec_path = os.path.join(self.run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        confs = (
            ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000",
             "spark.ui.retainedTasks=10000000"]
            if mode == "traced"
            else []
        )
        log = open(os.path.join(self.run_dir, "job.log"), "wb")
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "launch.py"), spec_path],
            cwd=self.run_dir,
            env=self._env(confs),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            with TreeWatch(proc.pid) as watch:
                proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # a set-up probe has nothing to flush: no grace period
            _reap(proc, grace=0.0 if mode == "setup" else 15.0)
            log.close()
        wall = time.monotonic() - t0
        marks = {}
        if os.path.exists(spec["result"]):
            with open(spec["result"]) as f:
                marks = json.load(f)
        marks.update(
            t0=t0,
            wall_s=wall,
            exit_code=proc.returncode,
            worker_peak_mb=watch.worker_peak_mb,
            jvm_peak_mb=watch.jvm_peak_mb,
        )
        if os.path.exists(spec["rest"]):
            with open(spec["rest"]) as f:
                marks["rest"] = json.load(f)
        return marks

    # --- measured samples ------------------------------------------------

    def setup_probe(self) -> float:
        """Set-up time of one more cold process that stops at session-up."""
        probe_dir = os.path.join(self.run_dir, "probe")
        marks = self.launch(probe_dir, probe_dir, mode="setup")
        shutil.rmtree(probe_dir, ignore_errors=True)
        self.order.append({"step": "setup_probe", "wall_s": marks["wall_s"]})
        if "session_up" not in marks:
            raise RuntimeError(f"set-up probe saw no session: {marks}")
        return marks["session_up"] - marks["t0"]

    def sample(self, traced=False) -> dict:
        out_dir = os.path.join(self.run_dir, "out")
        lin_dir = os.path.join(self.run_dir, "lineage")
        for d in (out_dir, lin_dir):
            shutil.rmtree(d, ignore_errors=True)
        probe_before = cpu_probe()
        marks = self.launch(out_dir, lin_dir, "traced" if traced else "timed")
        probe_after = cpu_probe()
        t_check = time.monotonic()
        problems, counts = self.check(out_dir, lin_dir, marks)
        s = {
            "oracle_s": time.monotonic() - t_check,
            "traced": traced,
            "rc": marks.get("rc"),
            "problems": problems,
            "cpu_probe_before_s": probe_before,
            "cpu_probe_after_s": probe_after,
            "wall_s": marks["wall_s"],
            "jvm_peak_rss_mb": marks["jvm_peak_mb"],
            **counts,
        }
        if "session_up" in marks and "main_end" in marks:
            setup = marks["session_up"] - marks["t0"]
            job = marks["main_end"] - marks["session_up"]
            s["metrics"] = {
                "setup_s": setup,
                "job_s": job,
                "docs_per_s": counts["clean_rows"] / job,
                "worker_peak_rss_mb": marks["worker_peak_mb"],
                "doc_error_ratio": (self.input_records - counts["clean_rows"])
                / self.input_records,
            }
        s["ok"] = not problems and "metrics" in s
        if s["ok"] and not traced:
            os.makedirs(os.path.dirname(self.history), exist_ok=True)
            with open(self.history, "a") as f:
                f.write(json.dumps({"fingerprint": self.fingerprint, "seed": self.seed,
                                    "docs_per_s": s["metrics"]["docs_per_s"]}) + "\n")
        self.order.append({"step": "traced" if traced else "sample", "wall_s": marks["wall_s"]})
        if traced:
            s["marks"] = marks
            s["output_dir"] = out_dir
        return s

    def untraced_docs_per_s(self) -> list:
        """docs/s of the untraced samples recorded for these sources."""
        if not os.path.exists(self.history):
            return []
        with open(self.history) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        return [r["docs_per_s"] for r in rows if r["fingerprint"] == self.fingerprint]

    def check(self, out_dir: str, lin_dir: str, marks: dict):
        if marks.get("rc") != 0:
            return [f"main() returned {marks.get('rc')} (exit {marks['exit_code']})"], {
                "clean_rows": 0,
                "error_rows": 0,
            }
        con = oracle.connect()
        if self.kind == "warc":
            oracle.expected_warc(con, self.docs_parquet)
            poison = []
        else:
            poison = oracle.expected_pages(con, self.expected_parquet)
        return oracle.check(con, out_dir, lin_dir, self.buckets, poison)

    def window(self) -> dict:
        import pyarrow
        import pyspark

        return {
            "workload": self.workload,
            "seed": self.seed,
            "nproc": self.nproc,
            "master": f"local[{self.nproc}]",
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "input_records": self.input_records,
            "input_bytes": self.input_bytes,
            "buckets": self.buckets,
            "run_order": self.order,
        }


def _reap(proc: subprocess.Popen, grace: float) -> None:
    """Stop the job's whole process group (driver, JVM, Python workers)
    and wait until none of it is left.  A job that ended on its own first
    gets ``grace`` seconds for the JVM's shutdown hooks."""

    def group_alive() -> bool:
        proc.poll()  # reap the driver, or it lingers in the group as a zombie
        reap_orphans(keep=proc.pid)  # and the JVM, once adopted
        try:
            os.killpg(proc.pid, 0)
            return True
        except ProcessLookupError:
            return False

    def wait_group(seconds: float) -> None:
        deadline = time.monotonic() + seconds
        while group_alive() and time.monotonic() < deadline:
            time.sleep(0.05)

    if proc.poll() is not None:
        wait_group(grace)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not group_alive():
            break
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        wait_group(15.0)
    proc.wait()
    # pyspark's worker daemon leaves the group; adopt_orphans made it ours
    stop_descendants()


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main() -> int:
    """Runs the benchmark; every process it started is stopped and reaped
    on every way out, a signal included."""
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    adopt_orphans()
    try:
        return _main()
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)  # let the clean-up finish
        stop_descendants()


def _main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("jobs/extract_job_main.py", "dhtmlparser3_spark/__init__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    t_start = time.monotonic()
    bench = Bench(args.workload, args.seed)

    if args.trace:
        from perfbench import layers

        samples = [] if bench.untraced_docs_per_s() else [bench.sample()]
        traced = bench.sample(traced=True)
        samples.append(traced)
        untraced = bench.untraced_docs_per_s()
        metrics, units, missing = layers.collect(
            bench, traced, statistics.median(untraced) if untraced else None
        )
        if missing:
            print(f"perfbench: layers not measured: {missing}", file=sys.stderr)
    else:
        setups = [bench.setup_probe() for _ in range(SETUP_PROBES)]
        samples = []
        measured = 0.0
        while not samples or (
            (len(samples) < bench.min_samples or measured < args.seconds)
            and time.monotonic() - t_start + samples[-1]["wall_s"] < RUN_BUDGET_S
        ):
            samples.append(bench.sample())
            measured += samples[-1]["wall_s"]
        ok = [s for s in samples if s["ok"]]
        metrics = {
            k: statistics.median(s["metrics"][k] for s in ok) for k in END_TO_END_UNITS
        } if ok else {}
        if ok:
            metrics["setup_s"] = statistics.median(
                setups + [s["metrics"]["setup_s"] for s in ok]
            )
        units = END_TO_END_UNITS

    window = bench.window()
    if not args.trace:
        window["setup_probes_s"] = setups
    window["samples"] = [
        {k: v for k, v in s.items() if k not in ("marks", "output_dir")} for s in samples
    ]
    print(json.dumps({"window": window}))
    correct = all(s["ok"] for s in samples)
    failed = sum(bench.input_records for s in samples if not s["ok"])
    if not metrics:
        print("perfbench: no sample completed", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.input_records * len(samples),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
