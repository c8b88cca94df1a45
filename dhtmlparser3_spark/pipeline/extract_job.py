"""The extraction job: pages → extracted table, engineered for 100 TB.

Physical plan (SURVEY.md §3.1/§4):

  scan (column-pruned: Catalyst keeps only url/warc_ts/lang/html)
    → salted repartition on xxhash64(url, salt)   [the ONE shuffle]
    → mapInArrow(extract)                         [Arrow batches, Python CPU]
    → sink / downstream

Why the explicit repartition: Common-Crawl rows cluster by host and size
inside input files; AQE cannot rebalance INSIDE a Python-UDF stage, so
without it a handful of tasks own the biggest hosts and the stage tail is
one straggler.  Hashing the url with a salt spreads documents uniformly;
the shuffle moves only (url, ts, lang, html) bytes once.  At cluster scale
``parallelism`` should be ~2-3x total cores; Arrow batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` so one batch of HTML fits
worker memory regardless of document count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from dhtmlparser3_spark.functions.extract import (
    EXTRACT_SCHEMA,
    STATS_FIELDS,
    STATS_SCHEMA,
    make_extract_arrow_iterator,
    make_parse_iterator,
    make_serialize_iterator,
    stats_one,
)
from dhtmlparser3_spark.plans.layout import has_parallelism

_REPARTITION_MODES = ("salted", "none", "auto")


def _apply_repartition(
    df: DataFrame, repartition: str, parallelism: int, salt: int
) -> DataFrame:
    """Shared pre-UDF layout resolution for extract_pages/extract_stats —
    one definition so both jobs agree on what "auto" means, and typos fail
    loudly instead of silently running unshuffled."""
    if repartition not in _REPARTITION_MODES:
        raise ValueError(
            f"repartition={repartition!r}: expected one of {_REPARTITION_MODES}"
        )
    sc = df.sparkSession.sparkContext
    if repartition == "auto":
        repartition = (
            "none"
            if has_parallelism(df, 2 * sc.defaultParallelism)
            else "salted"
        )
    if repartition == "salted":
        # salted repartition on url-hash: defuses host-level skew *before*
        # the Python stage (AQE can't split a straggling UDF task afterwards)
        return df.repartition(parallelism, F.xxhash64(F.col("url"), F.lit(salt)))
    return df


def extract_pages(
    pages: DataFrame,
    parallelism: int | None = None,
    salt: int = 2024,
    with_metrics: bool = True,
    repartition: str = "salted",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, ...) → extracted rows, one
    ``mapInArrow`` pass (functions/extract.make_extract_arrow_iterator).

    ``repartition`` picks the pre-UDF physical layout:

    * ``"salted"`` (default): one explicit shuffle on xxhash64(url, salt).
      Right when input files cluster rows by host/size (real Common Crawl:
      one WARC ~ one crawl segment) — AQE cannot split a straggling
      Python-UDF task after the fact, so balance must be created *before*
      the UDF stage.  Measured on the sandbox corpus the shuffle costs ~0
      at ≥16 cores (it overlaps the scan) and slightly *wins* at 4 cores
      because it decouples scan tasks from UDF tasks.
    * ``"none"``: run the UDF straight over the scan splits.  Right at
      100 TB when the table is parquet/Iceberg with byte-based splits —
      splitting by bytes already balances CPU-per-task (cost ~ html
      bytes), and shuffling 100 TB of raw html once through the cluster
      fabric is the single most expensive thing the job could do.
      Size ``spark.sql.files.maxPartitionBytes`` so splits tile the
      cluster (~2 even waves): measured interleaved A/B (bench_history
      2026-08-18), untiled "none" lost 25% at 4 cores to a 1.25-wave
      straggler wave, while tiled "none" beat salted at every width ≥ 8
      cores (the shuffle's fixed stage barrier costs 12-26% of a short
      16-core run).
    * ``"auto"``: ``"none"`` when the scan already yields ≥ 2 splits per
      core (balanced-by-construction), else ``"salted"``.
    """
    cols = ["url", "warc_ts", "lang", "html"]
    df = pages.select(*cols)
    sc = df.sparkSession.sparkContext
    if parallelism is None:
        parallelism = sc.defaultParallelism * 2
    df = _apply_repartition(df, repartition, parallelism, salt)
    out = df.mapInArrow(make_extract_arrow_iterator(), schema=EXTRACT_SCHEMA)
    if with_metrics:
        out = out.observe(
            "extract_metrics",
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chars_out").alias("chars_out"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "errors"
            ),
        )
    return out


def extract_stats(
    pages: DataFrame,
    parallelism: int | None = None,
    salt: int = 2024,
    repartition: str = "salted",
) -> DataFrame:
    """Counts-only variant of :func:`extract_pages` — parses every page but
    never builds or ships the serialized text/spans columns.  Use for
    corpus-profiling aggregations; at 10^12 docs the saved Arrow+shuffle
    volume is the entire extracted-text size."""
    cols = ["url", "warc_ts", "lang", "html"]
    df = pages.select(*cols)
    sc = df.sparkSession.sparkContext
    if parallelism is None:
        parallelism = sc.defaultParallelism * 2
    df = _apply_repartition(df, repartition, parallelism, salt)
    return df.mapInArrow(
        make_parse_iterator(stats_one, STATS_FIELDS), schema=STATS_SCHEMA
    )


def serialize_pages(
    pages: DataFrame, whats, passthrough=("url",)
) -> DataFrame:
    """pages → (passthrough…, ``{w}_value``, ``{w}_error`` per serializer
    ``w`` in ``whats``) from ONE parse per document, one ``mapInArrow``
    pass with no repartition (functions/extract.make_serialize_iterator).
    ``whats`` are keys of ``extract._SERIALIZERS`` (content_str,
    main_text, to_string, prettify, content_without_tags).  A poison
    document yields NULL values and the error text, never a task
    failure."""
    schema = StructType(
        [StructField(c, pages.schema[c].dataType) for c in passthrough]
        + [
            StructField(f"{w}_{part}", StringType())
            for w in whats
            for part in ("value", "error")
        ]
    )
    return pages.select(*passthrough, "html").mapInArrow(
        make_serialize_iterator(whats, passthrough), schema=schema
    )
