"""Structured Streaming extraction (SURVEY.md §2.9 / §7 step 8).

The batch pipeline lifts unchanged into streaming:

* source: ``spark.readStream`` over a pages directory (file source —
  each new parquet file is a micro-batch; in production: Iceberg/Kafka),
* transform: EITHER the direct mapInArrow plan (fully incremental,
  checkpointed by the engine) OR ``foreachBatch`` reusing the exact batch
  ``extract_pages`` job — foreachBatch is the north-star shape because it
  keeps the salted repartition and lets the sink be transactional per
  micro-batch (epoch id = resume watermark),
* late data: extraction is stateless per document, so no watermark is
  needed for the parse itself; the windowed-metrics stream below shows the
  stateful side (event-time tumbling counts with a watermark).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dhtmlparser3_spark.functions.extract import (
    EXTRACT_SCHEMA,
    make_extract_arrow_iterator,
)
from dhtmlparser3_spark.pipeline.extract_job import extract_pages

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "doc_id bigint"
)


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


def extract_stream(pages_stream: DataFrame) -> DataFrame:
    """Incremental plan: streaming mapInArrow (no shuffle, stateless) —
    the batch extraction's worker loop, row for row."""
    return pages_stream.select("url", "warc_ts", "lang", "html").mapInArrow(
        make_extract_arrow_iterator(), schema=EXTRACT_SCHEMA
    )


def start_foreach_batch(
    pages_stream: DataFrame,
    output_path: str,
    checkpoint_path: str,
    parallelism: int = 8,
):
    """foreachBatch: reuse the full batch job (salted repartition included)
    per micro-batch.

    foreachBatch is AT-LEAST-ONCE, not exactly-once: the engine replays a
    micro-batch whose sink write completed but whose checkpoint commit did
    not (crash in the window between the two).  A plain ``append`` sink
    would duplicate every row of the replayed epoch, so each epoch writes
    its own partition directory ``output_path/epoch=<id>/`` with
    ``overwrite`` — a replay rewrites the same directory byte-identically
    (extraction is deterministic per url), making the sink idempotent and
    therefore exactly-once end-to-end.  Readers of ``output_path`` get the
    ``epoch`` column back via parquet partition discovery."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        out = extract_pages(batch_df, parallelism=parallelism, with_metrics=False)
        out.write.mode("overwrite").parquet(
            os.path.join(output_path, f"epoch={int(epoch_id)}")
        )

    return (
        pages_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(pages_stream: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each content
    digest across micro-batches (engine-managed dedup state).

    ``dropDuplicatesWithinWatermark``, NOT ``dropDuplicates``: the engine
    only evicts dedup state by watermark when the event-time column is in
    the dedup subset, and the digest deliberately isn't event-time — a
    plain dropDuplicates(md5) would hold one state row per distinct
    digest FOREVER (the exact unbounded-state hazard at ingest scale,
    which is why Spark 3.5 added the WithinWatermark variant).  The
    state/recall trade: duplicates arriving within the watermark delay of
    the first copy are dropped; a duplicate arriving after the first
    copy's state was evicted is emitted again.  Size ``watermark`` to the
    ingest's duplicate event-time spread."""
    return (
        pages_stream.withColumn("text_md5", F.md5(F.col("text")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
    )


def windowed_metrics_stream(
    extracted: DataFrame, delay: str = "1 hour"
) -> DataFrame:
    """Stateful side: event-time tumbling doc counts behind a watermark.

    ``delay`` defaults to the historical "1 hour" (library consumers size
    completeness-vs-state on it); the driver's demo passes a tight
    "10 minutes" explicitly to exercise eviction in few micro-batches.

    Scale contract (UPDATE output mode — the 100 TB shape): the watermark
    bounds state — windows whose end falls behind it are evicted each
    micro-batch, and a late row arriving after its window was evicted is
    DROPPED from the aggregate.  Both halves are driver-verified by the
    ``stream_metrics`` query, which feeds a deterministic 3-micro-batch
    input (base corpus → watermark-advancing future row → too-late row)
    and whose DuckDB oracle contains the accepted probe but NOT the
    dropped one.  Complete output mode would instead retain all window
    state forever (the unbounded-state anti-pattern) — don't use it
    beyond toy harnesses."""
    return (
        extracted.withWatermark("warc_ts", delay)
        .groupBy(F.window("warc_ts", "10 minutes"), F.col("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars_out").alias("chars_out"),
        )
    )
