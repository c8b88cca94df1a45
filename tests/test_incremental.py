"""extract_delta: routing correctness + the only-parse-what-changed plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dhtmlparser3_spark.pipeline.incremental import extract_delta


def _frames(spark):
    pages = spark.createDataFrame(
        [
            ("u1", b"<p>one</p>"),   # unchanged
            ("u2", b"<p>two-v2</p>"),  # changed (old digest from v1)
            ("u3", b"<p>three</p>"),  # new
        ],
        "url string, html binary",
    )
    old = spark.createDataFrame(
        [
            ("u1", None, "one-stored"),
            ("u2", "stale", "two-stored"),
        ],
        "url string, digest string, extracted_text string",
    )
    # give u1 the true digest of its html
    real = pages.where(F.col("url") == "u1").select(
        "url", F.md5("html").alias("digest")
    )
    old = (
        old.drop("digest")
        .join(real, "url", "left")
        .withColumn("digest", F.coalesce("digest", F.lit("stale")))
        .select("url", "digest", "extracted_text")
    )
    return pages, old


@pytest.mark.spark
def test_extract_delta_routes_and_reuses(spark):
    pages, old = _frames(spark)
    rows = {r["url"]: r for r in extract_delta(pages, old).collect()}
    assert rows["u1"]["status"] == "unchanged"
    assert rows["u1"]["extracted_text"] == "one-stored"  # NOT re-parsed
    # fresh parses; content_str unwraps the single root tag (reference
    # parser.py semantics), so the inner text is the serialization
    assert rows["u2"]["status"] == "changed"
    assert rows["u2"]["extracted_text"] == "two-v2"
    assert rows["u3"]["status"] == "new"
    assert rows["u3"]["extracted_text"] == "three"
    assert all(r["error"] is None for r in rows.values())


@pytest.mark.spark
def test_extract_delta_null_html_on_known_url_not_unchanged(spark):
    """A NULL html re-crawl row (fetch failure) for a previously seen url
    must NOT be classified 'unchanged' (round-4 review: `old != NULL` is
    NULL and a plain otherwise() silently reused stale text) — it routes
    to 'changed' and re-parses, consistent with NULL html on a new
    url."""
    pages = spark.createDataFrame(
        [("u1", None), ("unew", None)], "url string, html binary"
    )
    old = spark.createDataFrame(
        [("u1", "somedigest", "stale-text")],
        "url string, digest string, extracted_text string",
    )
    rows = {r["url"]: r for r in extract_delta(pages, old).collect()}
    assert rows["u1"]["status"] == "changed"
    assert rows["u1"]["extracted_text"] != "stale-text"
    assert rows["unew"]["status"] == "new"
    # both take the FRESH parse path; NULL html decodes to "" repo-wide
    # (decode_html), so both rows parse to empty text identically
    assert (
        rows["u1"]["extracted_text"] == rows["unew"]["extracted_text"] == ""
    )


@pytest.mark.spark
def test_extract_delta_parses_only_changed_rows(spark):
    pages, old = _frames(spark)
    plan = (
        extract_delta(pages, old)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one Python node, and the unchanged-exclusion filter sits
    # below it: Catalyst folds NOT(status = unchanged) into a Filter over
    # the digest compare, which must lie inside the MapInArrow's subtree
    # (the lines after it that are indented deeper than it)
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan
    lines = plan.splitlines()
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))
    top = next(i for i, ln in enumerate(lines) if "MapInArrow" in ln)
    below = []
    for ln in lines[top + 1 :]:
        if depth(ln) <= depth(lines[top]):
            break
        below.append(ln)
    assert any("Filter NOT" in ln and "old_digest" in ln for ln in below), plan


@pytest.mark.spark
def test_extract_delta_poison_changed_doc_yields_error_row(spark):
    pages = spark.createDataFrame(
        [("u1", "<p>&#1114112;</p>".encode())], "url string, html binary"
    )
    old = spark.createDataFrame(
        [], "url string, digest string, extracted_text string"
    )
    [r] = extract_delta(pages, old).collect()
    assert r["status"] == "new" and r["extracted_text"] is None
    assert "ValueError" in r["error"]
