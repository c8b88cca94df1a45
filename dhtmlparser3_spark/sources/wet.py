"""WET tier: the extraction pipeline's OUTPUT as Common Crawl ships it.

Common Crawl publishes three artifact families per snapshot: WARC (the
captures — ``sources/warc.py`` reads them), WAT (metadata), and **WET** —
the extracted plain text, which is exactly what this pipeline produces.
A WET file is structurally a WARC file whose payload records are
``WARC-Type: conversion`` with ``Content-Type: text/plain`` blocks of
UTF-8 text, one per source capture, led by a ``warcinfo`` record; the
on-disk layout is the same concatenated per-record gzip members
(``.warc.wet.gz``), so every boundary/offset/random-access property of
the WARC reader carries over verbatim.

``write_wet`` closes the Common Crawl loop: ``.warc.gz`` → ``read_warc``
→ ``extract_pages`` → ``write_wet`` reproduces the snapshot pipeline's
own shape, emitting shards a stock WET consumer (downstream LLM-data
tooling) can read.  ``read_wet`` is the matching reader — also the probe
that pins the round trip byte-identically.

Scale shape (same rules as the WARC reader, in reverse):

* one task writes ONE shard — the sink is ``mapInArrow`` over the
  extracted rows, so when chained after ``extract_pages`` the text is
  serialized in the SAME stage that produced it: extracted text never
  shuffles on its way to disk (repo rule: payload bytes cross stages
  never).  At 100 TB the upstream layout knob (``extract_pages``'s
  ``repartition=``/``maxPartitionBytes`` tiling) is also the shard-size
  knob.
* memory is O(one record): each record is built and gzip-compressed
  member-by-member straight to the file handle; nothing accumulates.
* output is committed ATOMICALLY per task: written to
  ``<name>.inprogress`` then ``os.rename``\\ d (posix rename is atomic),
  so a retried/speculated task never leaves a half shard that a glob
  would pick up.  The returned MANIFEST (one tiny row per shard: path,
  records, bytes) is the job-level commit record — a real pipeline
  writes it to its lineage table (``pipeline/lineage.py``) and treats
  only manifested shards as published, which makes the sink idempotent
  under whole-job retry as well.
* determinism: gzip ``mtime=0``, shard names derived from the task's
  partition id, record order = row order within the partition — the
  same input partitioning yields byte-identical shards (pinned).

Reference tie-in: the ``text`` each record carries is the byte-identical
``parse → content_str``-derived extraction the north star pins
(dhtmlparser3's own output per url, functions/extract.py); WET is
pipeline scope the reference never had — its serialization surface stops
at ``to_string``/``content_str`` on one document
(/root/reference/src/dhtmlparser3/tags/tag.py).
"""

from __future__ import annotations

import gzip
import os
from typing import Iterator, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .warc import _CRLF2, _warc_tuple, scan_record_files, warc_ts


# read_wet output: text is a STRING column (WET blocks are UTF-8 by
# format contract — the converter already transcoded at ingest), offsets
# and error policy identical to read_warc so WET shards are lineage-
# addressable the same way
WET_SCHEMA = (
    "src_file string, rec_offset bigint, url string, warc_date string, "
    "text string, error string"
)
_WET_TYPES = {
    "src_file": "string",
    "rec_offset": "int64",
    "url": "string",
    "warc_date": "string",
    "text": "string",
    "error": "string",
}

# write_wet manifest: the tiny per-shard commit record
MANIFEST_SCHEMA = "path string, records bigint, bytes bigint"


def build_wet_record(
    url: str, date_iso: str, text: bytes, warc_type: str = "conversion"
) -> bytes:
    """One uncompressed WET record the way Common Crawl's converter writes
    it: ``conversion`` type, ``text/plain`` block.  ``text`` must already
    be UTF-8 bytes (the pipeline's html column is UTF-8 by the ingest
    contract, and extracted text is encoded here by the writer)."""
    if warc_type == "conversion":
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: conversion\r\n"
            + b"WARC-Target-URI: %s\r\n" % url.encode()
            + b"WARC-Date: %s\r\n" % date_iso.encode()
            + b"Content-Type: text/plain\r\n"
            + b"Content-Length: %d\r\n" % len(text)
        )
    else:  # warcinfo lead
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: warcinfo\r\n"
            + b"WARC-Date: %s\r\n" % date_iso.encode()
            + b"Content-Type: application/warc-fields\r\n"
            + b"Content-Length: %d\r\n" % len(text)
        )
    return head + b"\r\n" + text + _CRLF2


_WARCINFO_BODY = b"software: dhtmlparser3_spark write_wet\r\nformat: WARC File Format 1.0\r\n"


def write_record_shard(
    path: str, lead: bytes, members: Iterator[bytes]
) -> Tuple[int, int]:
    """Stream pre-built WARC records into one per-record-gzip shard —
    leading ``lead`` record, O(one record) memory, atomic publish via
    rename.  Returns (record_count, byte_count); the count excludes the
    lead (it counts DOCUMENTS).  Shared by the WET and WAT sinks so the
    layout/atomicity contract cannot diverge."""
    tmp = path + ".inprogress"
    n = 0
    with open(tmp, "wb") as f:
        f.write(gzip.compress(lead, mtime=0))
        for m in members:
            f.write(gzip.compress(m, mtime=0))
            n += 1
        size = f.tell()
    os.replace(tmp, path)
    return n, size


def _write_shard(path: str, rows: Iterator[Tuple[str, str, str]]) -> Tuple[int, int]:
    """(url, date_iso, text) rows → one ``.warc.wet.gz`` shard."""
    lead = build_wet_record(
        "", "2024-01-01T00:00:00Z", _WARCINFO_BODY, "warcinfo"
    )
    return write_record_shard(
        path,
        lead,
        (
            build_wet_record(url, date_iso, text.encode("utf-8"))
            for url, date_iso, text in rows
        ),
    )


def write_wet(
    df: DataFrame,
    dest_dir: str,
    text_col: str = "extracted_text",
    prefix: str = "part",
) -> DataFrame:
    """Distributed WET sink: each input partition → one
    ``dest_dir/<prefix>-<pid:05d>.warc.wet.gz`` shard; returns the
    MANIFEST DataFrame ``(path, records, bytes)`` — an action on it (the
    caller's ``collect``/lineage write) runs the job.

    ``df`` needs ``url``, ``warc_ts`` (timestamp), and ``text_col``
    (string) — the ``extract_pages`` output shape by default.  NULL-text
    rows (extraction error rows) are skipped: WET carries conversions,
    not failures — the error rows stay in the extracted table where
    lineage already tracks them.

    Chained directly after ``extract_pages`` this adds ZERO exchanges —
    mapInArrow composes into the extract stage (pinned by
    test_wet_sink_plan_shape), so text goes scan → parse → shard file
    without ever crossing the cluster fabric.
    """
    os.makedirs(dest_dir, exist_ok=True)
    cols = df.select(
        F.col("url"),
        F.date_format(
            F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        ).alias("wet_date"),
        F.col(text_col).alias("text"),
    )

    def run(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        from dhtmlparser3_spark.functions.extract import arrow_column

        pid = TaskContext.get().partitionId()
        path = os.path.join(dest_dir, f"{prefix}-{pid:05d}.warc.wet.gz")

        def rows():
            for rb in batches:
                urls = rb.column(rb.schema.get_field_index("url")).to_pylist()
                dates = rb.column(
                    rb.schema.get_field_index("wet_date")
                ).to_pylist()
                texts = rb.column(rb.schema.get_field_index("text")).to_pylist()
                for url, date, text in zip(urls, dates, texts):
                    if text is None:
                        continue
                    yield url, date or "1970-01-01T00:00:00Z", text

        n, size = _write_shard(path, rows())
        if n == 0:
            # an all-error/empty partition publishes no shard — remove the
            # empty (warcinfo-only) file so globs see only document shards
            os.remove(path)
            return
        yield pa.RecordBatch.from_arrays(
            [
                arrow_column([path], pa.string()),
                arrow_column([n], pa.int64()),
                arrow_column([size], pa.int64()),
            ],
            ["path", "records", "bytes"],
        )

    return cols.mapInArrow(run, MANIFEST_SCHEMA)


def _wet_row(path: str, off: int, _length, hdr: dict, block: bytes):
    """One ``conversion`` record → WET_SCHEMA row tuple.  WET blocks are
    UTF-8 text/plain by format contract; replace (not raise) on
    violation — one mislabeled record must not cost a task."""
    _wtype, url, date, block = _warc_tuple(hdr, block)
    return (path, off, url, date, block.decode("utf-8", "replace"), None)


def start_wet_sink(
    pages_stream: DataFrame,
    dest_dir: str,
    checkpoint: str,
    available_now: bool = True,
    **extract_kwargs,
):
    """Streaming twin of the batch ``extract → write_wet`` composition:
    ``warc_pages_stream`` (arriving ``.warc.gz`` shards) → foreachBatch
    reusing the FULL batch extract job → WET shards per epoch.  Returns
    the started query.

    Exactly-once story: foreachBatch is AT-LEAST-ONCE (an epoch replays
    after a crash), but this sink is idempotent under replay — shard
    names are ``epoch-<id>-<pid>`` (epoch ids are checkpointed and never
    reused for new data), bytes are deterministic per input partition,
    and the atomic-rename publish means a replayed epoch overwrites its
    own shards with identical content rather than duplicating records.
    Composed end-to-end this is the streaming Common Crawl loop: a live
    crawl's WARC drop directory in, WET shards out, resumable at the
    checkpoint."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        ext = extract_pages(
            batch_df, with_metrics=False, **extract_kwargs
        ).select("url", "warc_ts", "extracted_text")
        write_wet(ext, dest_dir, prefix=f"epoch-{epoch_id:05d}").collect()

    writer = pages_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_wet(
    spark: SparkSession,
    path: str,
    batch_rows: int = 2048,
) -> DataFrame:
    """WET file(s) → ``(src_file, rec_offset, url, wet_ts, text, error)``.

    Mirrors ``read_warc`` (the one ``scan_record_files`` scan): both
    on-disk layouts auto-detected per file (per-record gzip members /
    uncompressed), Hadoop globs over local paths, O(batch) worker
    memory, ``(src_file, rec_offset)`` the replayable lineage key, error
    rows per the shared policy; non-``conversion`` records (the warcinfo
    lead) skip.  Batches are cut at ``batch_rows`` rows or the worker
    slice of record bytes, whichever comes first."""
    raw = scan_record_files(
        spark, path, "conversion", _wet_row, WET_SCHEMA, _WET_TYPES,
        batch_rows,
    )
    return raw.select(
        "src_file",
        "rec_offset",
        "url",
        warc_ts("warc_date").alias("wet_ts"),
        "text",
        "error",
    )
