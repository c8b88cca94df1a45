"""Physical-plan regression pins for the single-UDF-evaluation invariants.

PLANS.md §6b documents two measured regressions this repo fixed: (1) a
plain `explode(pandas_udf(...))` makes Catalyst infer a size() filter
BELOW the Generate and evaluate the UDF twice; (2) an unpersisted
UDF-derived subplan referenced N times is re-evaluated N times (the
MinHash verify join once carried NINE ArrowEvalPython nodes).  These tests
pin the fixed shapes so a refactor cannot silently reintroduce either.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=40):
    return spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12))) for i in range(n)],
        "doc_id long, text string",
    )


def _assert_udf_only_behind_cache(plan: str, min_refs: int) -> None:
    """Every ArrowEvalPython in the plan text must be part of a cached
    relation's DESCRIPTION (the text repeats the producing plan once per
    reference, but the cache evaluates once at runtime).  An Arrow node
    outside a cache — count mismatch — means the persist was dropped and
    the UDF would re-run per plan reference."""
    n_arrow = plan.count("ArrowEvalPython") + plan.count("MapInArrow")
    n_cached = plan.count("InMemoryRelation")
    n_refs = plan.count("InMemoryTableScan")
    assert n_arrow == n_cached, plan
    assert n_refs >= min_refs, plan


@pytest.mark.spark
def test_minhash_plan_single_udf_evaluation(spark):
    from dhtmlparser3_spark.functions.dedup import minhash_lsh_pairs

    _assert_udf_only_behind_cache(
        _plan(minhash_lsh_pairs(_docs(spark), n=3, tau_pct=60)), min_refs=3
    )


@pytest.mark.spark
def test_jaccard_plan_single_udf_evaluation(spark):
    from dhtmlparser3_spark.functions.dedup import jaccard_pairs

    _assert_udf_only_behind_cache(
        _plan(jaccard_pairs(_docs(spark), n=3, tau_pct=60)), min_refs=3
    )


@pytest.mark.spark
def test_outlinks_plan_single_parse(spark):
    from dhtmlparser3_spark.functions.links import outlinks

    pages = spark.createDataFrame(
        [("u", b'<a href="https://t.example/">x</a>')], "url string, html binary"
    )
    _assert_udf_only_behind_cache(_plan(outlinks(pages)), min_refs=2)


@pytest.mark.spark
def test_fingerprints_plan_zero_exchanges(spark):
    from dhtmlparser3_spark.functions.textops import fingerprints

    plan = _plan(fingerprints(_docs(spark)))
    assert "Exchange" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan


@pytest.mark.spark
def test_extract_pages_plan_one_exchange_one_python_stage(spark):
    """The extraction pipeline's physical plan is scan → ONE exchange (the
    explicit salted repartition) → ONE Python stage.  A second exchange or
    Python node means a regression in the pipeline's core shape
    (PLANS.md §1)."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages

    pages = spark.createDataFrame(
        [(f"https://h{i % 3}.example/{i}", b"<p>x</p>") for i in range(12)],
        "url string, html binary",
    ).withColumn("warc_ts", F.current_timestamp()).withColumn("lang", F.lit("en"))
    plan = _plan(extract_pages(pages, parallelism=4, with_metrics=False))
    n_python = plan.count("MapInPandas") + plan.count("MapInArrow")
    assert n_python == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning" in plan, plan  # the salted key, not round-robin


@pytest.mark.spark
def test_host_topk_plan_uses_window_group_limit(spark):
    """rank<=k over a global window must be rewritten by WindowGroupLimit
    into a distributed TakeOrderedAndProject (per-partition top-k, driver
    merge) — the global Window then numbers only k rows.  Without the
    rewrite, 10^8 host rows funnel through one task."""
    from pyspark.sql import Window

    counts = (
        spark.range(100)
        .select((F.col("id") % 7).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.orderBy(F.col("n_docs").desc(), F.col("host").asc())
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
    )
    plan = _plan(top)
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.spark
def test_simhash_plan_filters_before_distinct(spark):
    """The hamming predicate must be applied BELOW the pair-dedup
    exchange: a pair surfaces once per shared chunk-bucket, so filtering
    first shrinks the distinct's shuffle by the far-pair mass.  Pin: in
    the optimized plan, the hamming filter appears on the exchange's
    INPUT side (no HashAggregate between the filter and the generate)."""
    from dhtmlparser3_spark.functions.dedup import simhash_pairs

    plan = _plan(simhash_pairs(_docs(spark), n=3, max_hamming=3))
    # optimizer keeps the filter below the partial aggregate of the
    # distinct: scanning top-down, the FIRST hamming mention must come
    # after (deeper than) the last Exchange-feeding aggregate — assert
    # via ordering of plan lines: the deepest 'bit_count' (the hamming
    # expression) line index is greater than the first 'Exchange' line
    # index produced by the distinct
    lines = plan.splitlines()
    flt = [
        i
        for i, ln in enumerate(lines)
        if "Filter" in ln and "hamming" in ln and "<= 3" in ln
    ]
    agg = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert flt, plan  # the hamming filter exists as a Filter node
    assert agg and min(agg) < min(flt), plan  # distinct agg sits ABOVE it


@pytest.mark.spark
def test_outlinks_both_modes_single_parse(spark):
    """anchor_mode="both" runs TWO gathers (direct + subtree) over ONE
    persisted node table: still exactly one Arrow UDF evaluation behind
    the cache, referenced by both branches."""
    from dhtmlparser3_spark.functions.links import outlinks

    pages = spark.createDataFrame(
        [("u", b'<a href="https://t.example/"><b>x</b></a>')],
        "url string, html binary",
    )
    _assert_udf_only_behind_cache(
        _plan(outlinks(pages, anchor_mode="both")), min_refs=3
    )


@pytest.mark.spark
def test_warc_extract_plan_zero_exchanges(spark, tmp_path):
    """WARC ingest → extract is ONE map-only chain: binaryFile scan →
    MapInArrow (member split + HTTP decode) → filter → MapInArrow
    (parse/serialize), zero Exchange nodes — raw html never shuffles
    (the repo-wide rule), so at 72k CC shards the stage parallelism IS
    the file count with no barrier in between."""
    from dhtmlparser3_spark.pipeline.extract_job import serialize_pages
    from dhtmlparser3_spark.sources.warc import warc_pages, write_warc_gz

    path = str(tmp_path / "p.warc.gz")
    write_warc_gz(
        [("http://x/1", "2024-01-01T00:00:00Z", b"<p>a</p>")], path
    )
    pages = warc_pages(spark, path)
    out = serialize_pages(pages, ["content_str"])
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") == 2, plan
    assert plan.count("ArrowEvalPython") == 0, plan


@pytest.mark.spark
def test_redirect_chain_plan_all_equi_joins(spark):
    """resolve_redirect_chains must stay key-equi pointer jumping:
    SortMergeJoin/BroadcastHashJoin only — a refactor that loses the
    join keys would fall back to BroadcastNestedLoopJoin or a cartesian
    and be quadratic at crawl scale."""
    from dhtmlparser3_spark.functions.links import resolve_redirect_chains

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    plan = _plan(resolve_redirect_chains(edges, max_hops=16))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan), plan


@pytest.mark.spark
def test_fetch_schedule_plan_single_host_window(spark):
    """fetch_schedule is ONE window over the host key (plus the
    broadcast delay join when hinted): exactly one Window node, no
    global (empty-partition-spec) window, and the hinted delay join is
    a BroadcastHashJoin."""
    from dhtmlparser3_spark.pipeline.frontier import fetch_schedule

    frontier = spark.createDataFrame(
        [("http://a.example/x", "0.5")], "url string, priority string"
    )
    delays = spark.createDataFrame(
        [("a.example", 5.0)], "host string, crawl_delay double"
    )
    plan = _plan(
        fetch_schedule(frontier, delays, broadcast_delays=True)
    )
    assert plan.count("Window") == 1, plan
    # the host is the partition spec — losing it would move ALL rows to
    # one partition (the WindowExec global-window warning shape)
    assert "windowspecdefinition(host#" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.spark
def test_write_warc_plan_zero_exchanges(spark):
    """The WARC sink composes into its input stage: scan → project →
    MapInArrow, no Exchange — a curation filter upstream would fuse into
    the same stage."""
    import datetime as dt

    from dhtmlparser3_spark.sources.warc import write_warc

    df = spark.createDataFrame(
        [("http://a/1", dt.datetime(2024, 1, 1), b"<p>x</p>")],
        "url string, warc_ts timestamp, html binary",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        plan = _plan(write_warc(df, td))
        assert "Exchange" not in plan, plan
        assert "MapInArrow" in plan, plan


@pytest.mark.spark
def test_crawl_health_plan_partial_aggregation(spark, tmp_path):
    """crawl_health keeps the map-side partial aggregate: two
    HashAggregate nodes around one Exchange on host."""
    from dhtmlparser3_spark.sources.warc import (
        build_warc_record,
        crawl_health,
        read_warc,
        write_warc_gz,
    )

    path = str(tmp_path / "h.warc.gz")
    write_warc_gz(
        [], path,
        extra_members=[
            build_warc_record(
                "http://a.example/1", "2024-01-01T00:00:00Z", b"<p>x</p>"
            )
        ],
    )
    plan = _plan(crawl_health(read_warc(spark, path)))
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan
