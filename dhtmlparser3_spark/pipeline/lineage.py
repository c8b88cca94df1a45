"""Checkpointed, idempotently-resumable extraction runs.

North-star requirement: "each micro-run checkpoints per-partition watermarks
and lineage (input file, row range, digest) ... so a killed job resumes
idempotently".

Design (Iceberg-shaped, parquet-implemented — the commit protocol below is
what an Iceberg snapshot append gives for free):

* Work is split into deterministic BUCKETS: ``bucket = xxhash64(url, salt)
  % n_buckets``.  A bucket is the unit of both salting and resume.
* A run takes the pending buckets (no lineage row yet), optionally the
  first ``max_buckets_per_run`` of them, and commits them in one pass:

  1. ONE scan and parse of the input, filtered to the pending buckets
     before the parse, and ONE write ``partitionBy("bucket")`` with
     dynamic partition overwrite: only the ``out/bucket=<b>/`` dirs this
     run writes are replaced, committed buckets are never touched.
  2. ONE ``groupBy("bucket")`` over the COMMITTED files gives every
     pending bucket's ``(n_docs, digest)``; a bucket with no rows has no
     dir and gets ``(0, 0)``.
  3. ONE append of the lineage rows ``(run_id, bucket, input_path,
     n_docs, digest, committed_at)``, only after the output commit, so
     the lineage table never over-claims.

* Crash windows.  A kill inside the write leaves a ``.spark-staging-*``
  dir that readers skip (hidden name) and buckets with no lineage row
  that the next run rewrites.  A kill between the output commit and the
  lineage append leaves orphan ``bucket=<b>/`` dirs; they are pending,
  so the next run's dynamic overwrite replaces them, never duplicates.
* The digest (SUM of per-url crc32 of url + extracted text — order-free
  like xor) is a per-bucket state that composes: ``verify_run``
  recomputes it from the committed files and checks every lineage claim.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType

from dhtmlparser3_spark.functions.extract import (
    EXTRACT_SCHEMA,
    make_extract_arrow_iterator,
)

LINEAGE_CLAIM = (
    "run_id string, bucket int, input_path string, n_docs bigint, digest bigint"
)
LINEAGE_SCHEMA = LINEAGE_CLAIM + ", committed_at timestamp"
# committed output as read back: partition discovery adds ``bucket``
OUTPUT_SCHEMA = EXTRACT_SCHEMA + ", bucket int"


def with_bucket(pages: DataFrame, n_buckets: int, salt: int = 2024) -> DataFrame:
    return pages.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("url"), F.lit(salt)), F.lit(n_buckets)).cast("int"),
    )


def _literal_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """``rows`` (tuples in ``schema`` column order) as a one-partition
    DataFrame built from literals on the JVM.  ``spark.createDataFrame``
    of a Python list is a Python RDD: it would start Python workers and a
    Spark job just to hand the JVM a few control-plane rows."""
    row_t = ArrayType(DataType.fromDDL(schema))
    rows_col = F.array(*[F.struct(*map(F.lit, r)) for r in rows]).cast(row_t)
    return spark.range(1, numPartitions=1).select(F.inline(rows_col))


def _missing_local(path: str) -> bool:
    """Fast check for local paths only — on a remote FS (s3://, hdfs://)
    os.path.exists is always False; readers handle remote path-not-found
    via the exception class."""
    return "://" not in path and not os.path.exists(path)


def _read_parquet(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """``path`` read with ``schema``, or an empty frame if it does not exist.

    ONLY a missing path means "nothing committed yet" — a corrupt file,
    permission error, or transient storage failure must PROPAGATE:
    swallowing it would mark every bucket pending and silently re-extract
    the whole corpus."""
    from pyspark.errors.exceptions.captured import AnalysisException

    if _missing_local(path):
        return _literal_frame(spark, [], schema)
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return _literal_frame(spark, [], schema)
        raise


def completed_buckets(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Buckets with a committed lineage row (empty frame if none yet).
    Duplicate lineage rows for one bucket are corruption that
    ``verify_run`` flags."""
    lineage = _read_parquet(spark, lineage_path, LINEAGE_SCHEMA)
    return lineage.select("bucket").distinct()


def pending_buckets(
    spark: SparkSession, lineage_path: str, n_buckets: int
) -> list[int]:
    if _missing_local(lineage_path):
        return list(range(n_buckets))  # a fresh run: no Spark job to learn it
    done = {r.bucket for r in completed_buckets(spark, lineage_path).collect()}
    return [b for b in range(n_buckets) if b not in done]


def bucket_digests(output: DataFrame) -> DataFrame:
    """Per-bucket ``(n_docs, digest)`` of committed output rows."""
    return output.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.crc32(F.concat_ws(" ", "url", "extracted_text"))).alias("digest"),
    )


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    output_path: str,
    lineage_path: str,
    n_buckets: int = 16,
    input_path: str = "",
    max_buckets_per_run: Optional[int] = None,
    fail_after_buckets: Optional[int] = None,
) -> dict:
    """Resumable extraction: commits the pending buckets (at most
    ``max_buckets_per_run``) in one pass.  ``fail_after_buckets=k``
    simulates a mid-job kill (tests): the first k pending buckets are
    committed, then it raises.

    Returns {run_id, processed, skipped, total}.
    """
    run_id = uuid.uuid4().hex[:12]
    pending = pending_buckets(spark, lineage_path, n_buckets)
    batch = pending[:max_buckets_per_run]
    killed = fail_after_buckets is not None and len(batch) > fail_after_buckets
    if killed:
        batch = batch[:fail_after_buckets]

    if batch:
        in_batch = F.col("bucket").isin(batch)
        part = with_bucket(pages, n_buckets).where(in_batch)
        out = part.select("url", "warc_ts", "lang", "html").mapInArrow(
            make_extract_arrow_iterator(), schema=EXTRACT_SCHEMA
        )
        # the extract passes through url, not bucket: re-derive it from url
        with_bucket(out, n_buckets).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(output_path)

        # digests from the COMMITTED files, not the in-flight frame
        committed = _read_parquet(spark, output_path, OUTPUT_SCHEMA).where(in_batch)
        digests = bucket_digests(committed).collect()
        got = {r.bucket: (r.n_docs, r.digest) for r in digests}
        _append_lineage(
            spark,
            lineage_path,
            [(run_id, b, input_path, *got.get(b, (0, 0))) for b in batch],
        )
    if killed:
        raise RuntimeError(f"simulated kill after {len(batch)} buckets")
    return {
        "run_id": run_id,
        "processed": len(batch),
        "skipped": n_buckets - len(pending),
        "total": n_buckets,
    }


def _lineage_rows(spark: SparkSession, rows: list) -> DataFrame:
    """``(run_id, bucket, input_path, n_docs, digest)`` claims as
    ``LINEAGE_SCHEMA`` rows stamped now, built on the JVM."""
    now_us = time.time_ns() // 1000
    return _literal_frame(spark, rows, LINEAGE_CLAIM).withColumn(
        "committed_at", F.timestamp_micros(F.lit(now_us))
    )


def _append_lineage(spark: SparkSession, lineage_path: str, rows: list) -> None:
    """Append lineage claims (see ``_lineage_rows``) — called only AFTER
    their output committed."""
    _lineage_rows(spark, rows).write.mode("append").parquet(lineage_path)


def verify_run(spark: SparkSession, output_path: str, lineage_path: str) -> DataFrame:
    """Lineage rows the committed output does not bear out; empty = verified.

    Driven from the lineage side: each claim is checked against the
    ``(n_docs, digest)`` recomputed from its bucket's files — a bucket
    whose files are gone counts as ``(0, 0)`` — and every row of a bucket
    with more than one lineage row is returned."""
    actual = bucket_digests(_read_parquet(spark, output_path, OUTPUT_SCHEMA))
    claims = _read_parquet(spark, lineage_path, LINEAGE_SCHEMA)
    return (
        claims.select("bucket", "n_docs", "digest")
        .withColumn("n_claims", F.count("*").over(Window.partitionBy("bucket")))
        .join(actual.toDF("bucket", "n_actual", "digest_actual"), "bucket", "left")
        .fillna(0, ["n_actual", "digest_actual"])
        .where(
            (F.col("n_claims") > 1)
            | (F.col("n_actual") != F.col("n_docs"))
            | (F.col("digest_actual") != F.col("digest"))
        )
    )
