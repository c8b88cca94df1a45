"""Incremental re-extraction: parse only what changed between crawls.

At 10^12 documents a re-crawl typically touches a few percent of urls; a
pipeline that re-parses everything pays the full Python-stage cost every
run.  ``extract_delta`` classifies each incoming page against the previous
run's stored output by content digest and routes ONLY ``new``/``changed``
pages through the parse UDF; ``unchanged`` pages reuse the stored text with
zero Python cost.

Scale shape: one left join on url (store BOTH tables bucketed on url-hash —
sources/tables.write_bucketed / Iceberg ``bucket(N, url)`` — and this join
is exchange-free, see PLANS.md §7), then one Python map over
the small changed slice only.  The digest compare is md5 over the raw html
bytes, computed JVM-side; the plan contains exactly ONE Python node (a
MapInArrow) and a changed/new filter BELOW it (pinned by
tests/test_incremental.py), so the parse provably never sees an unchanged
row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dhtmlparser3_spark.pipeline.extract_job import serialize_pages


def extract_delta(new_pages: DataFrame, old: DataFrame) -> DataFrame:
    """(url, status, extracted_text, error) — ``status`` ∈ new|changed|
    unchanged; text is parsed fresh for new/changed and copied from ``old``
    for unchanged.  ``old`` needs (url, digest, extracted_text)."""
    j = new_pages.withColumn("digest", F.md5("html")).join(
        old.select(
            "url",
            F.col("digest").alias("old_digest"),
            F.col("extracted_text").alias("old_text"),
        ),
        "url",
        "left",
    )
    # null-SAFE digest compare: a NULL html row (fetch failure) has digest
    # NULL, and `old_digest != NULL` is NULL — a plain .otherwise() chain
    # would classify it "unchanged" and silently reuse stale text.  With
    # eqNullSafe it routes to "changed" and takes the FRESH parse path
    # (NULL decodes to "" repo-wide) — consistent with NULL html on a
    # NEW url, and never serving stale text for a failed fetch.
    status = (
        F.when(F.col("old_digest").isNull(), "new")
        .when(~F.col("old_digest").eqNullSafe(F.col("digest")), "changed")
        .otherwise("unchanged")
    )
    j = j.withColumn("status", status)
    parsed = serialize_pages(
        j.where(F.col("status") != "unchanged"),
        ["content_str"],
        passthrough=("url", "status"),
    ).select(
        "url",
        "status",
        F.col("content_str_value").alias("extracted_text"),
        F.col("content_str_error").alias("error"),
    )
    reused = j.where(F.col("status") == "unchanged").select(
        "url",
        "status",
        F.col("old_text").alias("extracted_text"),
        F.lit(None).cast("string").alias("error"),
    )
    return parsed.unionByName(reused)
