"""End-to-end Spark extraction tests — the north-star invariant.

1. Template-spec sanity: EXPECTED_CONTENT_STR / EXPECTED_MAIN_TEXT compiled
   in pure Python must equal the vendored reference run on the same html.
2. Byte-identity at sf0.001: the Spark pipeline's extracted_text equals
   dhtmlparser3.parse(html).content_str() for EVERY url.
3. Fixture-corpus pages (malformed snippets) round through Spark identically.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

from dhtmlparser3_spark.functions import extract as fx
from dhtmlparser3_spark.pipeline.extract_job import extract_pages
from dhtmlparser3_spark.sources import pages as pg
from tests.corpus import SNIPPETS

SF = "/root/testdata/sf0.001"


def test_template_specs_match_reference(ref):
    """The shared piece-lists (Spark col + DuckDB oracle + py) are RIGHT:
    reference-parse(template(html)) == compiled expected strings."""
    samples = [
        (0, "plain words here"),
        (1, "ampersand & less < more > quote \" tick '"),
        (2, "unicode π € \xa0 ok"),
        (3, ""),
        (4, "multi\nline\ttext"),
        (7, "already &amp; escaped-looking"),
    ]
    for doc_id, text in samples:
        for t in range(5):
            did = doc_id * 5 + t  # force template t
            html = pg.compile_py(pg.TEMPLATES[t], did, text)
            dom = ref.parse(html)
            want_cs = pg.compile_py(pg.EXPECTED_CONTENT_STR[t], did, text)
            assert dom.content_str() == want_cs, f"template {t} content_str"
            # main_text oracle: reference-side = strip script/style + cwt
            want_cwt = pg.compile_py(pg.EXPECTED_CWT[t], did, text)
            assert dom.content_without_tags() == want_cwt, f"template {t} cwt"
            for bad in dom.find("script") + dom.find("style"):
                dom.remove(bad)
            want_mt = pg.compile_py(pg.EXPECTED_MAIN_TEXT[t], did, text)
            assert dom.content_without_tags() == want_mt, f"template {t} main_text"


def test_prettify_spec_matches_reference(ref):
    """EXPECTED_PRETTIFY piece-lists == reference prettify on the same html.

    Valid for any payload with ≤1 newline, no leading/trailing whitespace
    (a ≥2-newline payload would flip the <p> multiline heuristic) — the
    corpus satisfies this (tests below run the real corpus through Spark).
    """
    samples = [
        (0, "plain words here"),
        (1, "ampersand & less < more > quote \" tick '"),
        (2, "unicode π € \xa0 ok"),
        (3, ""),
        (4, "multi\nline\ttext"),
        (7, "already &amp; escaped-looking"),
    ]
    for doc_id, text in samples:
        for t in range(5):
            did = doc_id * 5 + t
            html = pg.compile_py(pg.TEMPLATES[t], did, text)
            want = pg.compile_py(pg.EXPECTED_PRETTIFY[t], did, text)
            assert ref.parse(html).prettify() == want, f"template {t} prettify"


def test_extract_series_matches_reference(ref):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    htmls = [
        pg.compile_py(pg.TEMPLATES[int(r.doc_id) % 5], int(r.doc_id), r.text)
        for r in docs.itertuples()
    ]
    out = fx.extract_series(pd.Series(htmls))
    for h, got in zip(htmls, out["extracted_text"]):
        assert got == ref.parse(h).content_str()
    assert out["error"].isna().all()


@pytest.mark.spark
def test_spark_pipeline_byte_identity(spark, ref):
    pages = pg.build_pages(spark, SF)
    res = extract_pages(pages, parallelism=8).toPandas()
    assert len(res) == 500
    assert res["error"].isna().all()
    # oracle: vendored reference on the driver
    src = pg.build_pages(spark, SF).select(
        "url", "html").toPandas()
    want = {
        r.url: ref.parse(bytes(r.html).decode("utf-8")).content_str()
        for r in src.itertuples()
    }
    got = dict(zip(res["url"], res["extracted_text"]))
    assert got == want


@pytest.mark.spark
def test_spark_udfs_on_fixture_snippets(spark, ref):
    """Malformed-HTML snippets through the Spark serialization path."""
    from dhtmlparser3_spark.pipeline.extract_job import serialize_pages

    rows = [(f"case{i:03d}", s.encode("utf-8")) for i, s in enumerate(SNIPPETS)]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = serialize_pages(df, ["content_str", "to_string", "main_text"]).select(
        "url", "content_str_value", "to_string_value", "main_text_value"
    ).toPandas()
    for url, cs, ts, mt in out.itertuples(index=False):
        s = SNIPPETS[int(url[4:])]
        dom = ref.parse(s)
        assert cs == dom.content_str(), f"content_str {s!r}"
        assert ts == dom.to_string(), f"to_string {s!r}"


@pytest.mark.spark
def test_serialize_pages_main_text_on_fixture_snippets(spark):
    """``main_text`` through the Spark serialization path equals the same
    serializer run in this process on every malformed snippet, value or
    error string.  Needs no reference."""
    from dhtmlparser3_spark.engine.dom import parse_arena
    from dhtmlparser3_spark.pipeline.extract_job import serialize_pages

    def local_main_text(s):
        try:
            return fx._SERIALIZERS["main_text"](parse_arena(s)), None
        except Exception as e:  # noqa: BLE001 — the worker's error text
            return None, f"{type(e).__name__}: {e}"

    rows = [(f"case{i:03d}", s.encode("utf-8")) for i, s in enumerate(SNIPPETS)]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = serialize_pages(df, ["main_text"]).collect()
    assert len(out) == len(SNIPPETS)
    for r in out:
        s = SNIPPETS[int(r.url[4:])]
        got = (r.main_text_value, r.main_text_error)
        assert got == local_main_text(s), f"main_text {s!r}"


@pytest.mark.spark
def test_spans_slice_back_into_source(spark):
    # filter, not limit: limit after the build repartition is evaluation-
    # order dependent, and the test materializes pages twice
    pages = pg.build_pages(spark, SF).where("doc_id < 50")
    res = extract_pages(pages, parallelism=4, with_metrics=False)
    rows = res.select("url", "spans").toPandas()
    src = pages.select("url", "html").toPandas()
    html_by_url = {r.url: bytes(r.html).decode("utf-8") for r in src.itertuples()}
    for r in rows.itertuples():
        h = html_by_url[r.url]
        for sp in r.spans:
            assert 0 <= sp["src_start"] <= sp["src_end"] <= len(h)


@pytest.mark.spark
def test_nodes_flattening(spark):
    from dhtmlparser3_spark.operators.nodes import node_table

    rows = [("u0", b"<div a=1><p>x</p><br>y</div>")]
    df = spark.createDataFrame(rows, "url string, html binary")
    nodes = sorted(node_table(df).collect(), key=lambda n: n.node_id)
    names = [n.name for n in nodes if n.kind == 1]
    assert names[0] == "div"
    assert "p" in names and "br" in names
    # interval containment: every child inside its parent's subtree range
    by_id = {n.node_id: n for n in nodes}
    for n in nodes:
        if n.parent_id >= 0:
            p = by_id[n.parent_id]
            assert p.node_id < n.node_id < p.subtree_end


@pytest.mark.spark
def test_stats_path_matches_full_extract(spark):
    """The counts-only extract_stats path must agree with the full
    extract_pages output on every count column (same parse, no text)."""
    from pyspark.sql import functions as F

    from dhtmlparser3_spark.pipeline.extract_job import (
        extract_pages,
        extract_stats,
    )
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, "/root/testdata/sf0.001")
    full = (
        extract_pages(pages, with_metrics=False)
        .select("url", "n_nodes", "n_tags", "n_text_nodes")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    slim = (
        extract_stats(pages)
        .select("url", "n_nodes", "n_tags", "n_text_nodes")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    assert full.equals(slim)


@pytest.mark.spark
def test_extract_arrow_parity_with_driver_extract_one(spark):
    """extract_pages rows equal the passthrough columns plus driver-side
    extract_one(decode_html(html)) — values, nested spans, error rows and
    schema — on a corpus that includes poison docs (out-of-range entity)
    and an empty doc."""
    from pyspark.sql.types import _parse_datatype_string

    pages = pg.build_pages(spark, SF).where("doc_id < 120")
    poison = spark.createDataFrame(
        [
            ("poison://entity", "<p>pre &#1114112; post</p>".encode()),
            ("poison://empty", b""),
        ],
        "url string, html binary",
    ).selectExpr(
        "url",
        "timestamp'2024-01-01' as warc_ts",
        "html",
        "cast(null as string) as text",
        "'en' as lang",
    )
    src = pages.select("url", "warc_ts", "html", "text", "lang").unionByName(
        poison
    )
    out = extract_pages(src, parallelism=4, with_metrics=False)
    assert out.schema.simpleString() == (
        _parse_datatype_string(fx.EXTRACT_SCHEMA).simpleString()
    )
    want = {
        r.url: (r.url, r.warc_ts, r.lang) + fx.extract_one(fx.decode_html(r.html))
        for r in src.collect()
    }
    got = {}
    for r in out.collect():
        row = list(r)
        spans = r["spans"]
        row[out.columns.index("spans")] = (
            None if spans is None else [sp.asDict() for sp in spans]
        )
        got[r.url] = tuple(row)
    assert len(got) == len(want) == 122
    assert got == want
    assert got["poison://entity"][-1] is not None
    assert got["poison://empty"][-1] is None
    assert any(w[-2] for w in want.values()), "no doc carried spans"


@pytest.mark.spark
def test_auto_repartition_parity(spark, tmp_path):
    """repartition="auto" resolves to salted on a single-split scan and to
    none on a well-split scan — pinned via the presence/absence of the
    salted xxhash64(url, salt) exchange in the optimized plan."""
    from pyspark.sql import functions as F

    from dhtmlparser3_spark.pipeline.extract_job import extract_pages
    from dhtmlparser3_spark.sources.pages import build_pages

    wide_path = str(tmp_path / "pages_wide")
    build_pages(spark, SF).repartition(64).write.parquet(wide_path)
    wide = spark.read.parquet(wide_path)
    # truly narrow: ONE stored file, no mid-plan repartition (build_pages
    # itself pre-spreads the cheap docs side, which auto now recognizes)
    narrow_path = str(tmp_path / "pages_narrow")
    build_pages(spark, SF).coalesce(1).write.parquet(narrow_path)
    narrow = spark.read.parquet(narrow_path)

    def salted_exchange(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return "xxhash64(url" in plan

    assert salted_exchange(
        extract_pages(narrow, parallelism=8, repartition="auto",
                      with_metrics=False)
    ), "single-split input must resolve auto -> salted"
    assert not salted_exchange(
        extract_pages(wide, parallelism=8, repartition="auto",
                      with_metrics=False)
    ), "well-split input must resolve auto -> none"
    # an already-wide MID-PLAN layout (caller pre-repartitioned) must not
    # be re-shuffled: at 100 TB an unnecessary salted pass over raw html
    # is the single most expensive thing the job could do
    assert not salted_exchange(
        extract_pages(narrow.repartition(16, F.col("url")), parallelism=8,
                      repartition="auto", with_metrics=False)
    ), "pre-repartitioned input must resolve auto -> none"
    # while a coalesce(1) over a wide file layout MUST still be salted
    # (the file-split estimate alone would wrongly say wide)
    assert salted_exchange(
        extract_pages(wide.coalesce(1), parallelism=8,
                      repartition="auto", with_metrics=False)
    ), "coalesced-narrow input must resolve auto -> salted"
    # ... and the ambiguous BOTH case (repartition then coalesce) resolves
    # conservatively to salted: text probes cannot order the two nodes, and
    # judging it wide would run the UDF stage on 1 partition (ADVICE r3)
    assert salted_exchange(
        extract_pages(narrow.repartition(64, F.col("url")).coalesce(1),
                      parallelism=8, repartition="auto", with_metrics=False)
    ), "repartition(64).coalesce(1) must resolve auto -> salted"
    # and both agree with the explicit modes row-for-row
    a = extract_pages(narrow, parallelism=8, repartition="salted",
                      with_metrics=False).select("url").count()
    b = extract_pages(narrow, parallelism=8, repartition="auto",
                      with_metrics=False).select("url").count()
    assert a == b


def test_byte_slices_planner():
    """Greedy byte-bounded slice planning: exact packing, oversized single
    rows get their own slice, empty input yields no slices."""
    from dhtmlparser3_spark.functions.extract import byte_slices

    assert byte_slices([], 10) == []
    assert byte_slices([1] * 5, 100) == [(0, 5)]
    assert byte_slices([5, 5, 5], 10) == [(0, 2), (2, 1)]
    assert byte_slices([4, 6, 1], 10) == [(0, 2), (2, 1)]
    assert byte_slices([50], 10) == [(0, 1)]
    assert byte_slices([50, 1, 1], 10) == [(0, 1), (1, 2)]
    assert byte_slices([1, 50, 1], 10) == [(0, 1), (1, 1), (2, 1)]


def _giant_docs(n=6, mb=10):
    """Deterministic ~mb-MB html documents (entities, comments, nesting —
    the reference-quirk surface, just a lot of it)."""
    unit = (
        '<div class="c"><p>alpha &amp; beta &lt;x&gt; '
        + "y" * 400
        + "</p><!-- trailing comment --></div>"
    )
    reps = (mb << 20) // len(unit.encode()) + 1
    return [
        f"<html><body><h1>doc {i}</h1>" + unit * reps + "</body></html>"
        for i in range(n)
    ]


def test_giant_docs_worker_slicing_and_byte_identity(ref):
    """10-MB documents (SURVEY §4.2's giant-page hazard), no Spark: one fat
    Arrow batch through make_extract_arrow_iterator with a 16-MB slice
    bound must be processed in MULTIPLE output slices (output accumulation
    bounded — the worker never holds every extracted text at once) and
    each extracted_text must be byte-identical to the reference parser."""
    import pyarrow as pa

    htmls = _giant_docs(n=6, mb=10)
    rb = pa.RecordBatch.from_pydict(
        {
            "url": [f"https://g.example/{i}" for i in range(len(htmls))],
            "html": [h.encode() for h in htmls],
        }
    )
    it = fx.make_extract_arrow_iterator(
        passthrough=("url",), max_slice_bytes=16 << 20
    )
    out = list(it(iter([rb])))
    assert len(out) >= 3, f"expected >=3 byte-bounded slices, got {len(out)}"
    assert sum(b.num_rows for b in out) == len(htmls)
    got = {}
    for b in out:
        for u, t, e in zip(
            b.column(0).to_pylist(),
            b.column(b.schema.get_field_index("extracted_text")).to_pylist(),
            b.column(b.schema.get_field_index("error")).to_pylist(),
        ):
            assert e is None
            got[u] = t
    for i, h in enumerate(htmls):
        assert got[f"https://g.example/{i}"] == ref.parse(h).content_str(), i


def test_nodes_iterator_byte_bounded_slicing():
    """Node records are several times the html size, so the node iterator
    must slice like the extract iterator: ~1-MB docs (plus a poison doc)
    in one fat Arrow batch under a 4-MiB bound come out in >=2 batches
    whose rows equal the one-slice run.  No Spark."""
    import pyarrow as pa

    htmls = [h.encode() for h in _giant_docs(n=6, mb=1)]
    htmls.insert(2, b"<p>x &#1114112; y</p>")
    rb = pa.RecordBatch.from_pydict(
        {"url": [f"https://g.example/{i}" for i in range(len(htmls))], "html": htmls}
    )

    def run(bound):
        it = fx.make_nodes_arrow_iterator(max_slice_bytes=bound)
        return list(it(iter([rb])))

    sliced, whole = run(4 << 20), run(1 << 40)
    assert len(whole) == 1
    assert len(sliced) >= 2, f"expected >=2 byte-bounded slices, got {len(sliced)}"
    rows = pa.Table.from_batches(sliced).to_pylist()
    assert rows == pa.Table.from_batches(whole).to_pylist()
    assert [r["url"] for r in rows] == rb.column("url").to_pylist()
    assert rows[2]["nodes"] is None
    assert all(r["nodes"] for i, r in enumerate(rows) if i != 2)


@pytest.mark.spark
def test_giant_docs_one_partition_end_to_end(spark, ref):
    """One partition FULL of ~10-MB docs through the real pipeline with the
    JVM Arrow byte bound tightened to 24 MB: completes under bounded
    batches (the rows-only 8192 default would have made one multi-hundred-
    MB batch) and stays byte-identical per url."""
    htmls = _giant_docs(n=6, mb=10)
    rows = [
        (f"https://g.example/{i}", h.encode()) for i, h in enumerate(htmls)
    ]
    src = (
        spark.createDataFrame(rows, "url string, html binary")
        .coalesce(1)
        .selectExpr(
            "url",
            "timestamp'2024-01-01' as warc_ts",
            "html",
            "cast(null as string) as text",
            "'en' as lang",
        )
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", str(24 << 20))
    try:
        out = extract_pages(
            src, parallelism=4, with_metrics=False, repartition="none"
        ).select("url", "extracted_text", "error")
        pdf = out.toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", old)
    assert pdf["error"].isna().all()
    want = {
        f"https://g.example/{i}": ref.parse(h).content_str()
        for i, h in enumerate(htmls)
    }
    got = dict(zip(pdf["url"], pdf["extracted_text"]))
    assert got == want


@pytest.mark.spark
def test_extract_output_invariant_across_layouts(spark):
    """The extraction output (full rows, byte-exact) must not depend on
    the pre-UDF physical layout: salted shuffle, no shuffle, and auto
    must produce identical (url -> extracted_text, error) maps.  At
    10^12 docs the layout is a pure performance knob — any semantic
    leak through it (e.g. batch-boundary-dependent state) is a bug."""
    pages = pg.build_pages(spark, SF).where("doc_id < 150")

    def snap(mode):
        out = extract_pages(
            pages, parallelism=4, with_metrics=False, repartition=mode
        ).select("url", "extracted_text", "error")
        return {
            r.url: (r.extracted_text, r.error) for r in out.collect()
        }

    base = snap("salted")
    assert len(base) == 150
    assert snap("none") == base
    assert snap("auto") == base


# Corpus-mutation parity: adversarial fragments spliced into REALISTIC
# rendered template pages (not fragment soup — full documents with head,
# scripts, entities, payload text), run through the FULL Spark extract
# path.  This exercises the Arrow boundary and batch layout on inputs the
# fragment-level DOM fuzz (test_dom_differential) never produces: a
# structural trap embedded mid-page, surrounded by kilobytes of valid
# markup.  The standalone hunt ran 19k docs across 5 seeds with zero
# divergences; this pins a bounded slice of it in CI.  The fragment
# corpus and both mutators are SHARED with the hunts
# (dhtmlparser3_spark/testing/mutations.py) so the hunted surface and
# the pinned surface cannot drift.
from dhtmlparser3_spark.testing.mutations import (  # noqa: E402
    mutate_bytes as _mutate_bytes,
    mutate_fragments as _mutate_html,
)


@pytest.mark.spark
def test_corpus_mutation_parity_through_spark(spark, ref):
    rng = random.Random(20260818)
    base = (
        pg.build_pages(spark, SF)
        .where("doc_id < 100")
        .select("url", "warc_ts", "html", "lang")
        .collect()
    )
    rows = []
    for r in base:
        h = bytes(r.html).decode("utf-8")
        for v in range(4):
            rows.append(
                (f"{r.url}#m{v}", r.warc_ts,
                 _mutate_html(h, rng).encode("utf-8"), "", r.lang)
            )
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = extract_pages(df, parallelism=8, with_metrics=False).select(
        "url", "extracted_text", "error"
    )
    got = {r.url: (r.extracted_text, r.error) for r in out.collect()}
    assert len(got) == 400
    for url, _ts, hb, _t, _l in rows:
        # The reference itself RAISES on some mutations (e.g. a numeric
        # entity whose digits got spliced: chr(int("π€🎉x41"))) — the
        # scale contract there is an error row, never a crash.
        try:
            want = ref.parse(hb.decode("utf-8")).content_str()
        except Exception as e:
            g_text, g_err = got[url]
            assert g_text is None, url
            # same exception TYPE as the reference (error rows carry
            # "TypeName: message"; parity probed over poison entities)
            assert g_err is not None and g_err.startswith(
                type(e).__name__
            ), (url, g_err)
        else:
            assert got[url] == (want, None), url


# Byte-level corpus mutations: the html column is BINARY, so at corpus
# scale it carries content no string-level fuzz can produce — truncated
# UTF-8 sequences, bare continuation bytes, NULs, pages cut mid-tag /
# mid-entity by a crawler.  The pipeline's documented decode policy is
# errors="replace" (functions/extract.py), so the parity oracle is the
# reference run on the SAME replace-decoded string.  The standalone hunt
# (scripts/hunt_byte_mutations.py, documented in PLANS.md §10) ran 11k
# byte-mutated docs across 3 seeds, zero divergences; this pins a slice.
# Mutator + BAD_BYTES shared with the hunt (testing/mutations.py).


@pytest.mark.spark
def test_corpus_byte_mutation_parity_through_spark(spark, ref):
    rng = random.Random(20260819)
    base = (
        pg.build_pages(spark, SF)
        .where("doc_id < 100")
        .select("url", "warc_ts", "html", "lang")
        .collect()
    )
    rows = []
    for r in base:
        hb0 = bytes(r.html)
        for v in range(3):
            rows.append(
                (f"{r.url}#b{v}", r.warc_ts, _mutate_bytes(hb0, rng),
                 "", r.lang)
            )
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = extract_pages(df, parallelism=8, with_metrics=False).select(
        "url", "extracted_text", "error"
    )
    got = {r.url: (r.extracted_text, r.error) for r in out.collect()}
    assert len(got) == 300
    n_invalid = 0
    for url, _ts, hb, _t, _l in rows:
        h = hb.decode("utf-8", errors="replace")
        if "�" in h:
            n_invalid += 1
        try:
            want = ref.parse(h).content_str()
        except Exception as e:
            g_text, g_err = got[url]
            assert g_text is None, url
            assert g_err is not None and g_err.startswith(
                type(e).__name__
            ), (url, g_err)
        else:
            assert got[url] == (want, None), url
    # the seed must actually exercise the invalid-byte axis
    assert n_invalid >= 30, n_invalid
