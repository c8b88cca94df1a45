"""Production entrypoint for spark-submit (north-star packaging).

    python scripts/build_pyfiles.py  # → dist/dhtmlparser3_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/dhtmlparser3_spark.zip \
        jobs/extract_job_main.py \
        --sf-dir /root/testdata/sf0.001 --output /tmp/out \
        --lineage /tmp/out_lineage --buckets 64 [--max-buckets 8]

Input is one of --warc (Common-Crawl .warc.gz glob — the north-star shape;
local or mounted paths, since each worker opens and decompresses its own
shards; HTTP payloads decoded, poison records become error rows),
--pages-table (existing Iceberg/parquet pages table) or --sf-dir
(synthesize the test corpus).  Runs one resumable micro-run of the
extraction pipeline: every pending bucket (or the first --max-buckets of
them) is extracted, written and committed to the lineage table in one
pass; re-invoking after a kill resumes from the lineage table (see
pipeline/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import sys

_ARROW_MAX_BYTES = "spark.sql.execution.arrow.maxBytesPerBatch"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir")
    ap.add_argument(
        "--pages-table",
        help="read an existing pages table (Iceberg name or parquet dir) "
        "instead of synthesizing from --sf-dir",
    )
    ap.add_argument(
        "--warc",
        help="ingest Common-Crawl .warc.gz file(s) (glob over local or "
        "mounted paths; workers open the shards) as the pages input — "
        "per-record gzip members, HTTP payloads dechunked/decompressed, "
        "undecodable records dropped as error rows (sources/warc.py)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument(
        "--wet-output",
        help="additionally publish the extracted text as Common-Crawl WET "
        "shards (.warc.wet.gz, sources/wet.py) in this directory — the "
        "parquet --output stays the resumable table of record; WET is "
        "the interchange rendering a stock snapshot consumer reads",
    )
    ap.add_argument(
        "--wat-output",
        help="additionally publish per-capture metadata (title + outlinks) "
        "as Common-Crawl WAT shards (.warc.wat.gz, sources/wat.py) — "
        "computed from the pages input in its own one-parse map-only "
        "pass (wat_metadata)",
    )
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument(
        "--max-buckets",
        type=int,
        default=None,
        help="commit at most this many of the pending buckets in this run "
        "(still one pass over the input); the rest stay pending for the "
        "next run.  Default: all pending buckets",
    )
    ap.add_argument("--multiplier", type=int, default=1)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("dhtmlparser3-extract").getOrCreate()

    from dhtmlparser3_spark.functions.extract import _WORKER_BATCH_BYTES

    # bound every Arrow batch a Python worker receives by the same bytes as
    # the worker's parse slice; with the key unset, Spark 4.1's SQLConf
    # reads 64 MiB, so a whole ~20 MiB parquet split of ~19 KB pages
    # arrives as one batch.  A --conf on spark-submit still wins.
    if not spark.sparkContext.getConf().contains(_ARROW_MAX_BYTES):
        spark.conf.set(_ARROW_MAX_BYTES, str(_WORKER_BATCH_BYTES))

    from dhtmlparser3_spark.pipeline.lineage import run_extract_job, verify_run
    from dhtmlparser3_spark.sources.pages import build_pages
    from dhtmlparser3_spark.sources.tables import read_pages

    if args.warc:
        from dhtmlparser3_spark.sources.warc import warc_pages

        pages = warc_pages(spark, args.warc)
    elif args.pages_table:
        pages = read_pages(spark, args.pages_table)
    else:
        if not args.sf_dir:
            ap.error("--warc, --pages-table or --sf-dir required")
        pages = build_pages(spark, args.sf_dir, multiplier=args.multiplier)
    result = run_extract_job(
        spark,
        pages,
        args.output,
        args.lineage,
        n_buckets=args.buckets,
        input_path=args.warc or args.pages_table or args.sf_dir,
        max_buckets_per_run=args.max_buckets,
    )
    bad = verify_run(spark, args.output, args.lineage).count()
    result["digest_mismatches"] = bad
    # the effective input-batch bounds, as the session's SQLConf parses them
    sql_conf = spark._jsparkSession.sessionState().conf()
    result["arrow_max_bytes_per_batch"] = sql_conf.arrowMaxBytesPerBatch()
    result["arrow_max_records_per_batch"] = sql_conf.arrowMaxRecordsPerBatch()
    if args.wet_output:
        from pyspark.sql import functions as F

        from dhtmlparser3_spark.sources.wet import write_wet

        extracted = spark.read.parquet(args.output).where(
            F.col("error").isNull()
        )
        manifest = write_wet(extracted, args.wet_output).collect()
        result["wet_shards"] = len(manifest)
        result["wet_records"] = sum(m.records for m in manifest)
        result["wet_bytes"] = sum(m.bytes for m in manifest)
    if args.wat_output:
        from dhtmlparser3_spark.sources.wat import wat_metadata, write_wat

        manifest = write_wat(wat_metadata(pages), args.wat_output).collect()
        result["wat_shards"] = len(manifest)
        result["wat_records"] = sum(m.records for m in manifest)
        result["wat_bytes"] = sum(m.bytes for m in manifest)
    print(json.dumps(result))
    spark.stop()
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
