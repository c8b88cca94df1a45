"""Corpus-mutation parity hunt: splice adversarial fragments into REAL
rendered template pages, run the FULL Spark extract path (Arrow boundary,
batching, salted layout), compare extracted_text byte-identical vs the
vendored reference. Standalone hunt — bigger than the pytest pin will be."""
import os
import random
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/reference/src")

import dhtmlparser3  # reference oracle

from dhtmlparser3_spark.pipeline.extract_job import extract_pages
from dhtmlparser3_spark.plans.session import get_spark
from dhtmlparser3_spark.sources import pages as pg

SF = "/root/testdata/sf0.001"

# fragment corpus + mutator are SHARED with the CI pin and the byte hunt
# (testing/mutations.py) — one adversarial surface, no drift.
from dhtmlparser3_spark.testing.mutations import (
    FRAGMENTS,  # noqa: F401 — re-exported for ad-hoc REPL use
    mutate_fragments as mutate,
)


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 42
    variants = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = get_spark(
        app_name="mutation-hunt", cpus=len(os.sched_getaffinity(0))
    )
    base_rows = (
        pg.build_pages(spark, SF)
        .select("url", "warc_ts", "html", "lang")
        .collect()
    )
    print(f"base pages: {len(base_rows)}")
    rng = random.Random(seed)
    rows = []
    for r in base_rows:
        base = bytes(r.html).decode("utf-8")
        for v in range(variants):
            rows.append(
                (
                    f"{r.url}#m{v}",
                    r.warc_ts,
                    mutate(base, rng).encode("utf-8"),
                    "",
                    r.lang,
                )
            )
    print(f"mutated docs: {len(rows)}")
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    t0 = time.time()
    out = extract_pages(df, parallelism=16, with_metrics=False).select(
        "url", "extracted_text", "error"
    )
    got = {r.url: (r.extracted_text, r.error) for r in out.collect()}
    print(f"spark extract: {time.time() - t0:.1f}s, {len(got)} rows")

    bad = 0
    for (url, _ts, hb, _t, _l) in rows:
        h = hb.decode("utf-8")
        try:
            want = dhtmlparser3.parse(h).content_str()
            werr = None
        except Exception as e:  # reference raised: we record error row
            want = None
            werr = type(e).__name__
        g_text, g_err = got[url]
        ok = (
            (want is not None and g_text == want and g_err is None)
            or (want is None and g_err is not None)
        )
        if not ok:
            bad += 1
            if bad <= 5:
                print("=" * 60)
                print("URL:", url)
                print("HTML:", repr(h[:600]))
                print("WANT:", repr(want if want is None else want[:400]), werr)
                print("GOT :", repr(g_text if g_text is None else g_text[:400]), g_err)
    print(f"RESULT: {bad} divergences / {len(rows)} docs (seed={seed})")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
