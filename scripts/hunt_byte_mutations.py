"""Corpus-mutation parity hunt, round-4 extension: three NEW mutation
axes beyond fragment splicing (scripts/hunt_fragment_mutations.py, 19k docs clean):

  1. span DELETION  — cut a random slice out of the page (can sever a
     tag mid-name, an attribute mid-quote, an entity mid-digits);
  2. TRUNCATION     — drop the page tail at a random position (the
     mid-tag / mid-comment / mid-entity EOF recovery paths);
  3. invalid BYTES  — inject non-UTF-8 byte runs into the binary column;
     parity contract: our pipeline decodes with errors="replace"
     (functions/extract.py:65-70, documented policy), so the oracle is
     the reference run on the SAME replace-decoded string.

Everything still flows through the FULL Spark extract path (Arrow
boundary, batch layout) and compares byte-identical per url.
"""
import random
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/reference/src")

import dhtmlparser3  # reference oracle

from dhtmlparser3_spark.pipeline.extract_job import extract_pages
from dhtmlparser3_spark.plans.session import get_spark
from dhtmlparser3_spark.sources import pages as pg

import os
SF = os.environ.get("HUNT_SF", "/root/testdata/sf0.001")
# max mutations per doc (compounding depth) — heavier values stack
# deletions/truncations/splices into heavily-corrupted documents
NMUT = int(os.environ.get("HUNT_MUTS", "4"))

# fragment corpus, BAD_BYTES, and the four-axis mutator are SHARED with
# the CI pin and the fragment hunt (testing/mutations.py) — one surface.
from dhtmlparser3_spark.testing.mutations import mutate_bytes as _mutate


def mutate_bytes(hb: bytes, rng: random.Random) -> bytes:
    return _mutate(hb, rng, max_muts=NMUT)


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    variants = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    spark = get_spark(
        app_name="mutation-hunt2", cpus=len(os.sched_getaffinity(0))
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
        hb0 = bytes(r.html)
        for v in range(variants):
            rows.append(
                (f"{r.url}#m{v}", r.warc_ts, mutate_bytes(hb0, rng), "", r.lang)
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
        # oracle sees the replace-decoded string — the documented policy
        h = hb.decode("utf-8", errors="replace")
        try:
            want = dhtmlparser3.parse(h).content_str()
            werr = None
        except Exception as e:
            want = None
            werr = type(e).__name__
        g_text, g_err = got[url]
        ok = (
            (want is not None and g_text == want and g_err is None)
            or (
                want is None
                and g_err is not None
                and g_err.startswith(werr)
            )
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
