"""bench.py's stdout contract, checked with canned perfbench results and
query timings: no Spark session and no perfbench run.

The line ``python3 bench.py`` prints last is one compact JSON object of at
most 1,900 characters with ``metric``, ``unit``, ``value``, ``sf`` and
``queries``; a failed or incorrect perfbench run gives ``error`` and a
non-zero exit status.
"""

from __future__ import annotations

import json

import pytest

import bench

CONTRACT = ("metric", "unit", "value", "sf", "queries")


def canned(correct: bool = True):
    """A stand-in for ``bench.perfbench``: result objects shaped like
    ``perfbench/run.py``'s last stdout line, for both workloads, any width
    and either trace level."""
    calls = []

    def fake(workload, width, trace=0):
        calls.append((workload, width, trace))
        if trace:
            metrics = {bench.CEILING: 450.0 * width, "spark.vs_ceiling": 0.0931}
        else:
            metrics = {
                "setup_s": 2.2134,
                "job_s": 24.5 / width**0.5,
                "docs_per_s": 102.34567 * width**0.5,
                "worker_peak_rss_mb": 105.36,
                "doc_error_ratio": 8 / 5016 if workload.startswith("warc") else 0.005,
            }
        return {
            "correct": correct,
            "attempted": 5016,
            "failed": 0 if correct else 5016,
            "metrics": {k: {"value": v, "unit": "u"} for k, v in metrics.items()},
        }

    fake.calls = calls
    return fake


def run_bench(monkeypatch, tmp_path, capsys, perfbench, queries):
    monkeypatch.setattr(bench, "perfbench", perfbench)
    monkeypatch.setattr(bench, "bench_queries", lambda cpus, sf_dir: dict(queries))
    monkeypatch.setattr(bench, "RESULT_PATH", str(tmp_path / "work" / "bench.json"))
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    rc = bench.run()
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(last) <= bench.LINE_MAX
    line = json.loads(last)
    assert all(k in line for k in CONTRACT)
    with open(tmp_path / "work" / "bench.json") as f:
        full = json.load(f)
    return rc, line, full


def test_line_carries_headline_scaling_and_every_query(monkeypatch, tmp_path, capsys):
    """Real query names and slow (6-character) timings fit untrimmed."""
    import __spark_entry__

    queries = {name: 123.45 for name in __spark_entry__.queries()}
    fake = canned()
    rc, line, full = run_bench(monkeypatch, tmp_path, capsys, fake, queries)
    assert rc == 0 and "error" not in line and "trimmed" not in line
    assert line == full
    assert line["metric"] == "extract_job_docs_per_s_local4"
    assert line["unit"] == "docs/s" and line["sf"] == 0.1
    assert line["queries"] == queries and len(queries) == 50
    assert line["value"] == line["e2e"]["pages_large_1bucket"]["docs_per_s"] == 204.7
    assert set(line["e2e"]) == {"pages_large_1bucket", "warc_resumable_8"}
    assert line["e2e"]["warc_resumable_8"]["doc_error_ratio"] == 0.001595
    sc = line["scaling"]
    assert sc["widths"] == [1, 4]
    assert sc["docs_per_s"] == {"1": 102.3, "4": 204.7}
    assert sc["efficiency"] == 0.5  # (2x throughput on 4x the CPUs) / 4
    assert sc["ceiling_efficiency"] == 1.0
    assert sc["normalized_efficiency"] == 0.5
    # the pair untraced, one traced run per width, then the WARC workload
    assert sorted(fake.calls) == sorted([
        ("pages_large_1bucket", 1, 0), ("pages_large_1bucket", 4, 0),
        ("pages_large_1bucket", 1, 1), ("pages_large_1bucket", 4, 1),
        ("warc_resumable_8", 4, 0),
    ])


def test_long_query_names_are_trimmed_to_fit(monkeypatch, tmp_path, capsys):
    queries = {
        f"a_query_with_a_long_descriptive_name_{i:02d}": 1234.56 for i in range(50)
    }
    rc, line, full = run_bench(monkeypatch, tmp_path, capsys, canned(), queries)
    assert rc == 0 and "error" not in line
    assert line["trimmed"] and set(line["trimmed"]) <= {"e2e", "queries"}
    assert line["value"] == 204.7 and line["scaling"]["widths"] == [1, 4]
    # nothing is lost: the full result keeps every query and median
    assert full["queries"] == queries and "trimmed" not in full
    assert set(full["e2e"]) == {"pages_large_1bucket", "warc_resumable_8"}


def test_incorrect_run_gives_error_and_nonzero_exit(monkeypatch, tmp_path, capsys):
    rc, line, _ = run_bench(
        monkeypatch, tmp_path, capsys, canned(correct=False), {"q": 1.0}
    )
    assert rc != 0
    assert "correct=false" in line["error"]
    assert line["value"] is None and line["queries"] == {}


@pytest.mark.parametrize("failing", ["warc_resumable_8", "pages_large_1bucket"])
def test_failed_run_gives_error_and_nonzero_exit(monkeypatch, tmp_path, capsys, failing):
    ok = canned()

    def fake(workload, width, trace=0):
        if workload == failing:
            raise RuntimeError("perfbench exited 1")
        return ok(workload, width, trace)

    rc, line, _ = run_bench(monkeypatch, tmp_path, capsys, fake, {"q": 1.0})
    assert rc != 0
    assert line["error"].startswith(f"RuntimeError: {failing} at ")
    assert line["error"].endswith("perfbench exited 1")
    assert line["queries"] == {}
