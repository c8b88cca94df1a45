"""Subprocess runner for the real-SIGKILL resume test.

Runs a resumable extract job and SIGKILLs ITSELF (no Python cleanup, no
JVM shutdown hooks, no parquet-writer close) partway through — the real
"killed job" of the north-star contract, unlike the in-process simulated
RuntimeError the other tests use.

Usage: kill_runner.py <output_path> <lineage_path> <mode>
  mode=cut     commit 3 buckets (output and lineage), then SIGKILL
               (clean cut: 3 committed buckets, nothing in flight).
  mode=orphan  commit 4 buckets' OUTPUT but only 3 lineage rows, then
               SIGKILL — on-disk state identical to a kill landing in the
               window between the output commit and the lineage append
               (the orphan crash window the pipeline/lineage.py docstring
               documents).
"""
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dhtmlparser3_spark.pipeline import lineage as ln
from dhtmlparser3_spark.plans.session import get_spark
from dhtmlparser3_spark.sources.pages import build_pages


def main() -> None:
    out, lin, mode = sys.argv[1], sys.argv[2], sys.argv[3]
    spark = get_spark(app_name="kill-runner", cpus=4)
    pages = build_pages(spark, "/root/testdata/sf0.001")

    # seam: the lineage append, the run's last commit step.  ``cut`` runs
    # 3 buckets and dies once their lineage is committed; ``orphan`` runs
    # 4 and dies after committing only the first 3 lineage rows.
    real = ln._append_lineage

    def append_then_kill(spark, lineage_path, rows):
        real(spark, lineage_path, rows[:3])
        print(f"KILLING self after {len(rows)} buckets written (mode={mode})",
              flush=True)
        os.kill(os.getpid(), signal.SIGKILL)

    ln._append_lineage = append_then_kill
    ln.run_extract_job(spark, pages, out, lin, n_buckets=8,
                       max_buckets_per_run=3 if mode == "cut" else 4)
    print("UNREACHABLE: job completed without being killed", flush=True)
    sys.exit(3)


if __name__ == "__main__":
    main()
