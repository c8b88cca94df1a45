"""Driver contract: entry / queries / oracle_sql.

Every implemented operator family (SURVEY.md §2 + the training-data ops) has
a ``queries()`` entry; each SQL-expressible one has a DuckDB oracle that
recomputes the EXPECTED output independently (string-constructed extraction
outputs, brute-force dedup/similarity, constant-matrix DOM shapes).  Column
names/aliases match pairwise — the driver hashes values under sorted column
names.

Approximate ops (LSH/IVF ANN) are oracled on their exact per-query
invariants (k distinct known non-self neighbors, contiguous ranks); their
recall floor is the separate oracled ann_recall row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table spread to cluster parallelism (the sf parquet is one
    file → one split; expression-heavy queries would otherwise run on one
    core — see plans/layout.py)."""
    from dhtmlparser3_spark.plans.layout import spread

    return spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dhtmlparser3_spark.plans.layout import spread

    return spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))

# ---------------------------------------------------------------------------
# shared SQL fragments (mirror the Spark-side constants — imported, not copied)
# ---------------------------------------------------------------------------

# DuckDB's RE2 \s excludes \x0b (vertical tab) while Java's and Python's
# ASCII \s include it — [\s\x0b] is Java's exact whitespace set, so the
# oracle tokenizer matches Spark/Python byte-for-byte on \x0b-edged text
# (see the tokenization note in functions/textops.py)
_WS = r"[\s\x0b]+"
_HASH60 = "(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"


def _toks(x: str = "text") -> str:
    return f"(CASE WHEN trim({x}) = '' THEN []::VARCHAR[] ELSE regexp_split_to_array(trim({x}), '{_WS}') END)"


def _esc_sql_text() -> str:
    """html.escape(text) as DuckDB SQL (shared template-spec compiler)."""
    from dhtmlparser3_spark.sources.pages import _esc_sql

    return _esc_sql("text")


def _corpus_sql() -> str:
    """DuckDB twin of functions.dedup.dedup_corpus (same constants)."""
    from dhtmlparser3_spark.functions import dedup as dd

    trunc = (
        f"array_to_string(list_slice({_toks()}, 1, "
        f"ceil(len({_toks()}) * {dd.TRUNC_NUM} / {dd.TRUNC_DEN})::INT), ' ')"
    )
    return f"""(
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {dd.NEAR_DUP_OFFSET} AS doc_id, {trunc} AS text
      FROM documents WHERE doc_id % {dd.NEAR_DUP_MOD} = 0
      UNION ALL
      SELECT doc_id + {dd.EXACT_DUP_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % {dd.EXACT_DUP_MOD} = 0
    )"""


def _shingles_sql(n: int = 3) -> str:
    """Distinct n-token shingles per doc over the dedup corpus."""
    return f"""(
      WITH arrs AS (
        SELECT doc_id, {_toks()} AS arr FROM {_corpus_sql()}
      )
      SELECT DISTINCT doc_id,
             unnest([array_to_string(list_slice(arr, i, i + {n - 1}), ' ')
                     for i in generate_series(1, len(arr) - {n - 1})]) AS sh
      FROM arrs WHERE len(arr) >= {n}
    )"""


def _sql_extract_delta() -> str:
    from dhtmlparser3_spark.sources.pages import (
        EXPECTED_CONTENT_STR,
        case_over_templates_sql,
    )

    url = (
        "printf('https://host%02d.example/%s/%d.html', "
        "(doc_id % 97)::INT, source, doc_id)"
    )
    return f"""
      SELECT {url} AS url,
             CASE WHEN doc_id % 10 = 0 THEN 'new'
                  WHEN doc_id % 7 = 0 THEN 'changed'
                  ELSE 'unchanged' END AS status,
             {case_over_templates_sql(EXPECTED_CONTENT_STR)} AS extracted_text
      FROM documents
    """


def _sql_outlinks() -> str:
    from dhtmlparser3_spark.sources.links import links_oracle_sql

    return f"""
      SELECT *, 'direct' AS mode FROM {links_oracle_sql('direct')}
      UNION ALL
      SELECT *, 'subtree' AS mode FROM {links_oracle_sql('subtree')}
    """


def _sql_host_graph() -> str:
    from dhtmlparser3_spark.sources.links import links_oracle_sql

    h = "regexp_extract({}, 'https://([^/]+)/', 1)"
    return f"""
      SELECT {h.format('url')} AS src, {h.format('href')} AS dst,
             CAST(count(*) AS BIGINT) AS n_links
      FROM {links_oracle_sql()} GROUP BY 1, 2
    """


def _sql_inlink_texts() -> str:
    from dhtmlparser3_spark.sources.links import links_oracle_sql

    return f"""
      WITH agg AS (
        SELECT regexp_extract(href, 'https://([^/]+)/', 1) AS dst,
               anchor, CAST(count(*) AS BIGINT) AS n
        FROM {links_oracle_sql()}
        WHERE anchor <> '' GROUP BY 1, 2
      )
      SELECT dst, anchor, n, CAST(rk AS INT) AS rk FROM (
        SELECT *, row_number() OVER (
          PARTITION BY dst ORDER BY n DESC, anchor ASC) AS rk
        FROM agg
      ) WHERE rk <= 3
    """


def _sql_host_pagerank() -> str:
    from dhtmlparser3_spark.functions.links import pagerank_oracle_sql
    from dhtmlparser3_spark.sources.links import links_oracle_sql

    return pagerank_oracle_sql(links_oracle_sql())


def _jaccard_pairs_sql(tau_pct: int = 60) -> str:
    return f"""
      WITH sh AS (SELECT * FROM {_shingles_sql()}),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT a_id, b_id,
             CAST(FLOOR(100.0 * inter / (sa.n_sh + sb.n_sh - inter)) AS INT) AS jacc_pct
      FROM inter
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE FLOOR(100.0 * inter / (sa.n_sh + sb.n_sh - inter)) >= {tau_pct}
    """


# per-template DOM shape constants (verified against the reference parser in
# tests/test_entry_queries.py::test_tag_matrix_matches_reference)
TAG_MATRIX = {
    0: {"html": 1, "head": 1, "title": 1, "body": 1, "p": 1},
    1: {"html": 1, "head": 1, "title": 1, "style": 1, "body": 1, "script": 1,
        "p": 1, "div": 1},
    2: {"html": 1, "body": 1, "div": 1, "br": 1, "img": 1, "hr": 1, "p": 1},
    3: {"html": 1, "body": 1, "p": 1},
    4: {"html": 1, "body": 1, "div": 2},
}
# text nodes per template when the payload text is non-empty
TEXT_NODE_MATRIX = {0: 2, 1: 5, 2: 2, 3: 1, 4: 1}
# does the payload contribute its own text node (drops out when text='')
PAYLOAD_TEXT_NODE = {0: 1, 1: 1, 2: 1, 3: 0, 4: 1}  # T3 merges with literals


# ---------------------------------------------------------------------------
# entry + queries
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001 (salted repartition →
    Arrow-batched parse → byte-identical content_str + boilerplate-stripped
    main_text + spans)."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, SF001)
    return extract_pages(pages, parallelism=8).drop("spans")


def _warc_corpus_dir(sf_dir: str) -> str:
    """Cached WARC-shard rendering of the pages corpus (synthesized once
    per corpus fingerprint; _ensure_stream_input publishes atomically)."""
    from dhtmlparser3_spark.sources.warc import synthesize_warc_corpus

    # tag carries a synthesis generation (v2 = charset probes) so a cached
    # rendering from an older synthesizer is never replayed against the
    # current oracle
    return _ensure_stream_input(
        _stream_cache_dir(sf_dir, "warc_corpus_v2"),
        lambda tmp: synthesize_warc_corpus(sf_dir, tmp),
    )


def _q_extract_content_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identity headline row, sourced through the WARC ingest tier
    since round 5: documents → deterministic Common-Crawl-layout
    ``.warc.gz`` shards (payloads wire-encoded identity/gzip/chunked/
    gzip+chunked/raw-deflate rotating by doc_id, plus a warcinfo lead and
    one undecodable ``br`` record per shard) → read_warc → http decode →
    parse → content_str.  The oracle recomputes the expected serialization
    straight from the documents view, so a wrong byte ANYWHERE in
    ingest-decode-parse-serialize hash-mismatches; the br error rows must
    be filtered by warc_pages without losing neighboring records.  The
    shards also carry the eight CHARSET_PROBES (non-ASCII cp1252/cp932/
    gbk/cp949/utf-16 captures declared via HTTP label / meta prescan /
    BOM, stacked under the wire codings) whose constant expected
    serializations the oracle UNIONs in — so charset resolution and
    transcode are value-hashed by the driver too."""
    from dhtmlparser3_spark.pipeline.extract_job import serialize_pages
    from dhtmlparser3_spark.sources.warc import warc_pages

    pages = warc_pages(spark, _warc_corpus_dir(sf_dir) + "/*.warc.gz")
    return serialize_pages(pages, ["content_str"]).select(
        "url", F.col("content_str_value").alias("value")
    )


def _q_extract_serializations(spark, sf_dir):
    """The four secondary serializations — main_text (boilerplate strip),
    to_string round-trip, content_without_tags and prettify — from ONE
    parse per document (pipeline/extract_job.serialize_pages).  Merged so
    every serializer keeps a driver-oracled row inside the driver's
    correctness-row budget, and cheaper than the four separate queries it
    replaces (one parse instead of four)."""
    from dhtmlparser3_spark.pipeline.extract_job import serialize_pages
    from dhtmlparser3_spark.sources.pages import build_pages

    cols = {
        "main_text": "main_text",
        "roundtrip": "to_string",
        "no_tags": "content_without_tags",
        "pretty": "prettify",
    }
    s = serialize_pages(build_pages(spark, sf_dir), list(cols.values()))
    return s.select(
        "url", *[F.col(f"{w}_value").alias(c) for c, w in cols.items()]
    )


def _q_extract_errors(spark, sf_dir):
    """Poison-document robustness (the 10^12-doc story): three classes of
    hostile input are injected next to the real corpus —

    * ``entity``   — ``&#1114112;`` (chr out of range): the reference (and
      our parity engine) raises ValueError at tokenize time,
    * ``overflow`` — ``&#999999999999999999;``: OverflowError,
    * ``deep``     — 1200-deep tag nest: the reference RecursionErrors,
      our iterative engine parses and serializes it fine,

    and every serialization must yield an error ROW (value NULL + error
    message), never a task failure.  The oracle recomputes the per-class
    doc/error counts from the documents table.  Both serializations come
    from ONE parse per document (serialize_pages) — the parse dominates
    the worker's cost and poison docs fail at parse time anyway."""
    from dhtmlparser3_spark.pipeline.extract_job import serialize_pages
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir).select(
        F.lit("ok").alias("cls"), F.col("html")
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def poison(cls, cond, html_col):
        return docs.where(cond).select(
            F.lit(cls).alias("cls"), F.encode(html_col, "utf-8").alias("html")
        )

    deep_html = F.concat(
        F.repeat(F.lit("<div>"), 1200),
        F.lit("deep text"),
        F.repeat(F.lit("</div>"), 1200),
    )
    corpus = (
        pages.unionByName(
            poison("entity", F.col("doc_id") % 10 == 0,
                   F.lit("<p>pre &#1114112; post</p>"))
        )
        .unionByName(
            poison("overflow", F.col("doc_id") % 10 == 3,
                   F.lit("<p>pre &#999999999999999999; post</p>"))
        )
        .unionByName(poison("deep", F.col("doc_id") % 100 == 5, deep_html))
    )
    s = serialize_pages(corpus, ["content_str", "prettify"], passthrough=("cls",))
    kinds = F.concat_ws(
        ",",
        F.array_sort(
            F.collect_set(
                F.regexp_extract("content_str_error", "^([A-Za-z]+)", 1)
            )
        ),
    )
    return (
        s.groupBy("cls")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("content_str_error").isNotNull(), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_err_content"),
            F.sum(
                F.when(F.col("prettify_error").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_err_prettify"),
            F.sum(
                F.when(
                    F.col("content_str_value").isNull()
                    & F.col("content_str_error").isNull(),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_silent_nulls"),
            kinds.alias("error_kinds"),
        )
    )


def _q_extract_stats(spark, sf_dir):
    from dhtmlparser3_spark.pipeline.extract_job import extract_stats
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    ex = extract_stats(pages)
    tpl = (F.regexp_extract("url", r"/(\d+)\.html$", 1).cast("long") % 5).alias(
        "template"
    )
    return (
        ex.select(tpl, "n_tags", "n_text_nodes", "error")
        .groupBy("template")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tags").alias("sum_tags"),
            F.sum("n_text_nodes").alias("sum_text_nodes"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_errors"
            ),
        )
    )


def _q_spans_summary(spark, sf_dir):
    """DOM-span offsets (the north star's 'extracted text plus DOM-span
    offsets'): per url, the span count, total covered raw bytes, and first
    text-node offset — each a closed-form function of (template, doc_id
    digits, escaped-text length), recomputed independently by the oracle.
    Spans themselves are pinned in pytest (each slices back into the
    source html)."""
    from dhtmlparser3_spark.pipeline.extract_job import extract_pages
    from dhtmlparser3_spark.sources.pages import build_pages

    ex = extract_pages(build_pages(spark, sf_dir), with_metrics=False)
    return ex.select(
        "url",
        F.size("spans").alias("n_spans"),
        F.aggregate(
            "spans",
            F.lit(0),
            lambda acc, s: acc + (s["src_end"] - s["src_start"]),
        ).alias("sum_span_len"),
        F.element_at("spans", 1)["src_start"].alias("first_start"),
    )


def _q_node_tag_counts(spark, sf_dir):
    from dhtmlparser3_spark.operators.nodes import node_table
    from dhtmlparser3_spark.sources.pages import build_pages

    nodes = node_table(build_pages(spark, sf_dir), fields=["kind", "name"])
    return (
        nodes.where(F.col("kind") == 1)
        .where(F.col("name").isNotNull())
        .groupBy(F.col("name"))
        .agg(F.count("*").alias("n"))
    )


def _q_selector_counts(spark, sf_dir):
    """Selector semantics relationally, one row per selector family over a
    SINGLE parsed node table (persisted — three subplans reference it, and
    an unpersisted multi-reference subplan re-runs the parse UDF per
    reference):

    * ``find_attr_ci`` — Q1/Q7: find("div", {"class": "inner"}) with the
      case-insensitive attr-key lookup (the template writes CLASS=),
    * ``descendant_divs`` — Q9 match: div-under-div via the pre-order
      interval containment join,
    * ``wfind_chain`` — Q8/Q10: body → direct-child div → direct-child
      div; only template 4 (body>div.content>div.inner) satisfies the
      strict path (template 1's footer div has no div child), mirroring
      the reference test that distinguishes wfind from descendant match.

    Each count equals the template-4 doc count, which the oracle
    recomputes per selector."""
    from dhtmlparser3_spark.operators.nodes import (
        descendant_join,
        find_tags,
        node_table,
        wfind_chain,
    )
    from dhtmlparser3_spark.sources.pages import build_pages

    nodes = node_table(
        build_pages(spark, sf_dir),
        fields=["node_id", "parent_id", "kind", "name", "attrs", "subtree_end"],
    ).persist()
    div = (F.col("kind") == 1) & (F.lower(F.col("name")) == "div")

    def tagged(tag, hits):
        return hits.agg(F.count("*").alias("n")).select(
            F.lit(tag).alias("selector"), "n"
        )

    res = (
        tagged("find_attr_ci", find_tags(nodes, "div", {"class": "inner"}))
        .unionByName(tagged("descendant_divs", descendant_join(nodes, div, div)))
        .unionByName(tagged("wfind_chain", wfind_chain(nodes, ["body", "div", "div"])))
    )
    # the result is 3 count rows: snapshot it and RELEASE the persisted
    # node table deterministically — a lazily-returned plan could never
    # unpersist its input, pinning one cached node table per invocation
    # for the session's lifetime (round-4 review)
    out = spark.createDataFrame(res.collect(), res.schema)
    nodes.unpersist()
    return out


NFC_MOD = 13  # doc_id % 13 == 0 rows get a decomposed-accent suffix


def _q_text_features(spark, sf_dir):
    """Per-document text features in one query: token count, n-gram
    language ID (stopword hits for en/de/fr) and Unicode NFC
    canonicalization — pure codegen except the NFC Arrow UDF (no Spark
    built-in).  NFC: the corpus is already composed, so a decomposed
    suffix ('cafe' + U+0301) is injected into doc_id % 13 == 0 rows —
    the op must compose it; the oracle runs DuckDB's nfc_normalize over
    the identically-constructed corpus."""
    from dhtmlparser3_spark.functions.textops import (
        nfc_normalize_col,
        with_lang_id,
        with_quality,
        with_token_count,
    )

    docs = _docs(spark, sf_dir)
    injected = F.when(
        F.col("doc_id") % NFC_MOD == 0,
        F.concat(F.col("text"), F.lit(" café denormalized")),
    ).otherwise(F.col("text"))
    base = with_lang_id(with_token_count(docs)).withColumn("nfc_src", injected)
    return base.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "hits_en",
        "hits_de",
        "hits_fr",
        "lang_pred",
        nfc_normalize_col("nfc_src").alias("nfc_text"),
    ).join(
        # quality-score columns ride the same per-doc row (keeps the
        # driver's 50-row budget: formerly the standalone quality_score
        # row; n_tokens identical by construction, joined once)
        with_quality(docs).select(
            "doc_id", "n_chars", "n_stopwords", "n_punct", "n_alpha",
            "quality",
        ),
        "doc_id",
    )


PROBE_HTML = "<p>late probe</p>"  # content_str == "late probe" (root unwrap)
PROBE_TEXT = "late probe"


class _state_partitions:
    """Temporarily bound spark.sql.shuffle.partitions for a streaming
    query: the stateful exchange bakes the shuffle-partition count into
    the checkpoint as its state-store count, and 32 state partitions x N
    micro-batches of store-init overhead dominate these tiny-cardinality
    sandbox demos (measured: stream_metrics 12.3 s -> ~5 s at 4).  At
    ingest scale you SIZE this to volume instead; the conf is restored
    immediately after the stream finishes."""

    def __init__(self, spark, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def _ensure_stream_input(path: str, build) -> str:
    """Build a streaming input directory once and reuse it across reps —
    the per-run tempdir rebuild was the dominant cost of every streaming
    driver query (17.7 s stream_metrics, mostly input construction).

    Concurrency-safe: the directory is built under a unique temp name and
    atomically rename(2)d into place, so a bench run and a verify run
    racing on the same key either publish identical content or one loses
    the race and reuses the winner's directory — a reader's open stream
    is never rmtree'd mid-batch."""
    import os
    import shutil
    import tempfile

    if os.path.isdir(path):
        return path
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="_building_", dir=parent)
    build(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race: reuse winner
    return path


def _stream_cache_dir(sf_dir: str, tag: str) -> str:
    """Cache key carries a CONTENT fingerprint of the source corpus (abs
    path + documents.parquet size/mtime), so regenerating the testdata —
    or two corpora sharing a basename — can never replay a stale cached
    stream input against a fresh DuckDB oracle."""
    import hashlib
    import os

    sfname = sf_dir.rstrip("/").split("/")[-1]
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        sig = f"{os.path.abspath(sf_dir)}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        sig = os.path.abspath(sf_dir)
    fp = hashlib.md5(sig.encode()).hexdigest()[:10]
    return f"/tmp/spark_graft_stream_inputs/{tag}_{sfname}_{fp}"


def _copy_single_file(df, dest_dir: str, name: str, mtime: float) -> None:
    """Write ``df`` as ONE parquet file named ``name`` directly in
    ``dest_dir`` with an explicit mtime — the file stream source orders
    files by modification time, so mtimes define micro-batch order."""
    import glob
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="spark_graft_one_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp + "/d")
    part = glob.glob(tmp + "/d/part-*.parquet")[0]
    dst = os.path.join(dest_dir, name)
    shutil.copyfile(part, dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


def _q_stream_metrics(spark, sf_dir):
    """Stateful streaming aggregation with a WORKING watermark demo:
    event-time tumbling 10-min windows per lang in APPEND output mode
    (windowed_metrics_stream) over a deterministic 3-micro-batch input
    (maxFilesPerTrigger=2, file mtimes define batch order):

    * batch 1: the pages corpus PLUS one 'xx'-lang probe row 30 min past
      the corpus max event time — counted, and advances the watermark
      past every base window (in-batch order is irrelevant; the
      watermark updates between batches),
    * batch 2: a PAIR of 'zz'-lang flush probes 2 h out — by the
      trailing no-data batch their watermark passes the 'xx' window and
      emits it, while the flush rows' own window stays behind the final
      watermark and never appears,
    * batch 3: one 'yy'-lang probe row back at 00:00:30 — its window end
      is behind the now-operative watermark, so append-mode aggregation
      MUST drop the row (measured: numRowsDroppedByWatermark = 1; the
      data filter's operative watermark lags TWO batches behind the
      max-event that produced it — measured, see the flush-pair comment
      in the builder — hence late arrives exactly two batches after the
      advance; update mode would not drop at all — a late row whose
      state was evicted silently re-opens the window there).

    Append emits each finalized window exactly once (bounded state — the
    100 TB shape; the round-2 version ran complete mode, which retains
    all window state forever).  The oracle recomputes every base window
    closed-form (warc_ts = 2024-01-01 + doc_id sec, n_chars_out =
    expected content_str length), contains the accepted 'xx' probe, and
    contains NO 'yy'/'zz' row — the drop is asserted, not assumed."""
    import uuid

    from dhtmlparser3_spark.sources.pages import build_pages
    from dhtmlparser3_spark.streaming.stream_extract import (
        PAGES_SCHEMA,
        extract_stream,
        windowed_metrics_stream,
    )

    def build(path):
        import time as _time

        t0 = _time.time() - 1000
        _copy_single_file(
            build_pages(spark, sf_dir), path, "base.parquet", t0
        )
        max_id = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .agg(F.max("doc_id"))
            .first()[0]
        )

        def probe(url, lang, secs):
            return spark.range(1).select(
                F.lit(url).alias("url"),
                F.expr(
                    "timestamp'2024-01-01 00:00:00' "
                    f"+ make_interval(0,0,0,0,0,0, {secs})"
                ).alias("warc_ts"),
                F.encode(F.lit(PROBE_HTML), "utf-8").alias("html"),
                F.lit(PROBE_TEXT).alias("text"),
                F.lit(lang).alias("lang"),
                F.lit(-1).cast("long").alias("doc_id"),
            )

        # the future probe shares batch 1 with the base corpus (watermark
        # updates BETWEEN batches, so in-batch order is irrelevant and the
        # merged batch saves one micro-batch of state-store overhead)
        _copy_single_file(
            probe("probe://future", "xx", int(max_id) + 1800),
            path, "probe-future.parquet", t0,
        )
        # flush PAIR: maxFilesPerTrigger caps files per trigger but does
        # not split on mtime groups, so the second flush row pads batch 2
        # to exactly the trigger width — the late row then lands alone in
        # batch 3, two batches after the watermark-advancing probe (the
        # data filter's operative watermark lags the max-event that
        # produced it by two batches; measured in the 3-file layout where
        # a nominally-late row was still accepted)
        _copy_single_file(
            probe("probe://flush2", "zz", int(max_id) + 7201),
            path, "probe-flush2.parquet", t0 + 100,
        )
        _copy_single_file(
            probe("probe://flush", "zz", int(max_id) + 7200),
            path, "probe-flush.parquet", t0 + 200,
        )
        _copy_single_file(
            probe("probe://late", "yy", 30),
            path, "probe-late.parquet", t0 + 300,
        )

    inp = _ensure_stream_input(_stream_cache_dir(sf_dir, "wm6"), build)
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(inp)
    )
    wm = windowed_metrics_stream(extract_stream(stream), delay="10 minutes")
    name = f"wm_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark, 4):
        q = (
            wm.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    snap = spark.table(name).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("chars_out").cast("bigint").alias("chars_out"),
    )
    # snapshot the (few-window, bounded) sink rows and DROP the memory
    # table: each invocation otherwise leaves a uniquely-named in-memory
    # table registered for the session's lifetime (round-4 review)
    out = spark.createDataFrame(snap.collect(), snap.schema)
    spark.catalog.dropTempView(name)
    return out


DECON_MOD = 31  # doc_id % 31 == 0 defines the demo benchmark set


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus minus docs sharing any 8-gram
    with the benchmark subset (every 31st doc) — benchmark members remove
    themselves plus any doc with verbatim 8-token overlap; reported as
    surviving per-lang counts with id-range proof."""
    from dhtmlparser3_spark.functions.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % DECON_MOD == 0).select("doc_id", "text")
    kept = decontaminate(docs.select("doc_id", "text", "lang"), bench, n=8)
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _q_host_curation(spark, sf_dir):
    """Host-level curation in one driver row: the per-host document quota
    (cap 3, lowest doc_ids win — one shuffle on host; at scale a skewed
    host is handled by AQE or a two-phase count+filter) LEFT-joined with
    the blocklist survivor counts (every 10th host blocked, dropped by a
    broadcast LEFT ANTI join — zero shuffle of the big side).  Blocked
    hosts carry NULL n_unblocked, which the oracle reproduces."""
    from pyspark.sql import Window

    from dhtmlparser3_spark.functions.quality_filters import blocklist_anti_join
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host")
    w = Window.partitionBy("host").orderBy("doc_id")
    quota = (
        pages.select(host, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .groupBy("host")
        .agg(
            F.count("*").alias("n_quota_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    blocked = (
        spark.range(97)
        .where(F.col("id") % 10 == 0)
        .select(
            F.format_string("host%02d.example", F.col("id").cast("int")).alias(
                "host"
            )
        )
    )
    surv = blocklist_anti_join(pages, blocked).groupBy("host").agg(
        F.count("*").alias("n_unblocked")
    )
    return quota.join(surv, "host", "left")


def _q_main_block(spark, sf_dir):
    """DOM heuristic: text-density main content-block selection (the
    readability-core shape).  The oracle recomputes winner + score
    closed-form per template from length(text) — including the tie/flip
    cases where a short payload loses to footer boilerplate."""
    from dhtmlparser3_spark.functions.domheur import main_block
    from dhtmlparser3_spark.sources.pages import build_pages

    return main_block(build_pages(spark, sf_dir))


def _q_chunk_windows(spark, sf_dir):
    """Context-window packing: 64-token windows, stride 48 (16-token
    overlap) — one map-side Arrow UDF + explode, zero shuffles."""
    from dhtmlparser3_spark.functions.textops import chunk_tokens

    docs = _docs(spark, sf_dir)
    return chunk_tokens(docs, window=64, stride=48)


def _q_train_split(spark, sf_dir):
    """Deterministic content-hash train/val split, reported as per-(lang,
    split) counts — stable across engines because the assignment hash is
    the portable md5-derived hash60."""
    from dhtmlparser3_spark.functions.textops import split_assignment_col

    docs = _docs(spark, sf_dir)
    return (
        docs.select("lang", split_assignment_col("text", 90).alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_sketch_stats(spark, sf_dir):
    """Sketch telemetry (the only affordable full-corpus statistics at
    10^12 rows): HyperLogLog++ distinct-host estimate and approximate
    token-count median, each emitted WITH an exact-side accuracy check
    computed in the same job.  Sketch values are engine-specific, so the
    driver-hashable outputs are the exact values plus integer
    within-bound flags; the oracle recomputes the exact sides and pins
    the flags at 1 — accuracy is asserted, not assumed."""
    from dhtmlparser3_spark.functions.textops import token_count_col

    docs = _docs(spark, sf_dir)
    host = (F.col("doc_id") % 97).alias("host_id")
    base = docs.select(host, token_count_col("text").alias("n_tok"))
    agg = base.agg(
        F.countDistinct("host_id").alias("hosts_exact"),
        F.approx_count_distinct("host_id", 0.02).alias("hosts_hll"),
        F.expr("percentile(n_tok, 0.5)").alias("p50_exact"),
        F.expr("percentile_approx(n_tok, 0.5, 1000)").alias("p50_approx"),
    )
    return agg.select(
        F.col("hosts_exact").cast("bigint").alias("hosts_exact"),
        (
            F.abs(F.col("hosts_hll") - F.col("hosts_exact"))
            <= 0.05 * F.col("hosts_exact")
        )
        .cast("int")
        .alias("hll_within_5pct"),
        F.floor("p50_exact").cast("bigint").alias("p50_tokens_floor"),
        (
            F.abs(F.col("p50_approx") - F.col("p50_exact"))
            <= 0.10 * F.col("p50_exact")
        )
        .cast("int")
        .alias("p50_within_10pct"),
    )


def _q_source_mix(spark, sf_dir):
    """Training-mixture report: per (source, lang) document and token
    mass — the numbers a data-mixing recipe is built from.  Pure
    map-side-partial aggregation, one shuffle on the tiny group key."""
    from dhtmlparser3_spark.functions.textops import token_count_col

    docs = _docs(spark, sf_dir)
    return docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_col("text")).cast("bigint").alias("n_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )


def _q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup across micro-batches: pages ∪ injected exact
    copies (url-suffixed) file-streamed in ≥2 batches through stateful
    dropDuplicates(md5) → parquet sink.  Output = one row of unique
    counts (count-only on purpose: which duplicate row survives is an
    arrival-order artifact, the COUNTS are exact); oracle = DuckDB
    count(DISTINCT md5) over the identically-constructed corpus.  Input
    is built once and reused across reps (_ensure_stream_input)."""
    import tempfile

    from dhtmlparser3_spark.sources.pages import build_pages
    from dhtmlparser3_spark.streaming.stream_extract import (
        dedup_stream,
        read_pages_stream,
    )

    def build(path):
        pages = build_pages(spark, sf_dir)
        dups = pages.where(F.col("doc_id") % 11 == 0).withColumn(
            "url", F.concat("url", F.lit("?dup"))
        )
        pages.unionByName(dups).repartition(8).write.mode(
            "overwrite"
        ).parquet(path + "/in")

    inp = _ensure_stream_input(_stream_cache_dir(sf_dir, "dd"), build) + "/in"
    base = tempfile.mkdtemp(prefix="spark_graft_streamdd_")
    outp, ck = f"{base}/out", f"{base}/ck"
    with _state_partitions(spark, 4):
        q = (
            dedup_stream(read_pages_stream(spark, inp))
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.read.parquet(outp)
    return out.agg(
        F.count("*").alias("n_unique"),
    ).select(F.col("n_unique").cast("bigint").alias("n_unique"))


def _q_quality_signals(spark, sf_dir):
    """Gopher-style repetition filters (duplicate-token pct pure columnar;
    top-2/3-gram pct via one map-side Arrow UDF) joined with the
    PII-shaped pattern counters over a corpus with deterministic injected
    PII (the natural corpus has none — the injection makes the counters
    provably fire; same construction in the oracle)."""
    from dhtmlparser3_spark.functions.quality_filters import (
        pii_corpus,
        with_pii_counts,
        with_repetition,
    )

    docs = _docs(spark, sf_dir)
    rep = with_repetition(docs).select(
        "doc_id", "pct_dup_tokens", "pct_top_2gram", "pct_top_3gram"
    )
    pii = with_pii_counts(pii_corpus(docs)).select(
        "doc_id", "n_emails", "n_urls", "n_digit_runs"
    )
    # LM quality columns ride the same per-doc row (keeps the driver's
    # 50-row budget: formerly the standalone lm_quality row) — bigram
    # model on the deterministic doc_id%10<3 reference slice, integer
    # micro-nat scores, head/middle/tail buckets (functions/lm.py)
    from dhtmlparser3_spark.functions.lm import lm_quality

    lm = lm_quality(docs).select(
        "doc_id", "n_bigrams", "sum_lp_micro", "lm_bucket"
    )
    return rep.join(pii, "doc_id").join(lm, "doc_id")


def _q_url_ops(spark, sf_dir):
    """URL parsing for curation keys (quality_filters.url_features — the
    partitioning/grouping key factory) plus URL canonicalization
    (canonical_url_col) over a closed-form messy-URL spec joined on the
    page url.  The oracle recomputes every feature AND the canonical form
    from doc_id/source instead of parsing, so both operators are verified
    end-to-end.  All whole-stage codegen."""
    from dhtmlparser3_spark.functions.quality_filters import (
        canonical_url_col,
        url_features,
    )
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    feats = url_features(pages)
    messy = None
    for m, (fmt, _) in enumerate(_MESSY_URL_FMTS):
        v = F.format_string(
            fmt, (F.col("doc_id") % 97).cast("int"), F.col("doc_id")
        )
        messy = (
            F.when(F.col("doc_id") % 4 == m, v)
            if messy is None
            else messy.when(F.col("doc_id") % 4 == m, v)
        )
    canon = pages.select("url", messy.alias("messy_url")).withColumn(
        "canonical", canonical_url_col("messy_url")
    )
    return feats.join(canon, "url")


def _q_fingerprints(spark, sf_dir):
    from dhtmlparser3_spark.functions.textops import fingerprints

    docs = _docs(spark, sf_dir)
    return fingerprints(docs, k=5, window=4)


def _q_exact_dups(spark, sf_dir):
    from dhtmlparser3_spark.functions.dedup import dedup_corpus, exact_dup_groups

    return exact_dup_groups(dedup_corpus(spark, sf_dir))


def _q_line_dedup(spark, sf_dir):
    """Both text-cleanup dedup tiers in ONE labeled row (50-row budget):

    * method='line' — cross-document line dedup (CCNet/RefinedWeb
      boilerplate-line removal) over the lined corpus: every occurrence
      of any line present in >= 25 distinct docs dropped, docs
      reassembled in line order;
    * method='span' — exact-substring dedup (Lee et al. 2021) over the
      dedup corpus: every 8-token sequence occurring >= 2 times
      corpus-wide cut from all docs.

    In both, the counting side moves 128-bit keys only and the full text
    crosses exactly one exchange (dedup.py line_dedup / dup_spans;
    plan-pinned in test_line_dedup.py / test_dup_spans.py)."""
    from dhtmlparser3_spark.functions.dedup import (
        dedup_corpus,
        dup_spans,
        line_dedup,
        lined_corpus,
    )

    line = line_dedup(lined_corpus(spark, sf_dir), min_docs=25).select(
        F.lit("line").alias("method"),
        "doc_id",
        "clean_text",
        F.col("n_lines").alias("n_units"),
        "n_removed",
    )
    span = dup_spans(dedup_corpus(spark, sf_dir), k=8, min_occ=2).select(
        F.lit("span").alias("method"),
        "doc_id",
        "clean_text",
        F.col("n_tokens").alias("n_units"),
        "n_removed",
    )
    return line.unionByName(span)


def _q_jaccard_pairs(spark, sf_dir):
    """Brute-force n-gram Jaccard (the quadratic small-scale baseline and
    verifier) AND MinHash+LSH (the shipped bucket-grouped scale path) over
    the same dedup corpus, labeled by method — their pair sets must be
    IDENTICAL, which the shared oracle asserts once per label — AND the
    incremental-index probe (method='incremental'): the corpus originals
    are the STORED index, the synthesized copies the arriving increment;
    increment bands probe the index with one (band, sig) equi-join and
    exact-Jaccard verify against the stored arrays.  Its oracle = brute
    pairs restricted to the old/new boundary (LSH misses a 0.6-Jaccard
    pair with prob ~6e-7 — equality-in-expectation, as for 'lsh')."""
    from dhtmlparser3_spark.functions import dedup as dd

    corpus = dd.dedup_corpus(spark, sf_dir)
    # ONE shingle pass feeds all three methods (each would otherwise
    # persist its own copy of the same UDF output); the incremental
    # old/new sides are filters over the same cached table
    arrays = dd.shingle_arrays(corpus, n=3).persist()
    brute = dd.jaccard_pairs(
        corpus, n=3, tau_pct=60, arrays=arrays
    ).withColumn("method", F.lit("brute"))
    lsh = dd.minhash_lsh_pairs(
        corpus, n=3, tau_pct=60, arrays=arrays
    ).withColumn("method", F.lit("lsh"))
    is_new = F.col("doc_id") >= dd.NEAR_DUP_OFFSET
    old_arr = arrays.where(~is_new)
    new_arr = arrays.where(is_new)
    bands, _ = dd.lsh_index(corpus.where(~is_new), arrays=old_arr)
    inc = dd.incremental_lsh_pairs(
        corpus.where(is_new), bands, old_arr, tau_pct=60, new_arrays=new_arr
    ).select(
        # incremental emits (a=new, b=old); relabel to the row's a<b
        # orientation (originals sit below the copy-id offset)
        F.col("b_id").alias("a_id"),
        F.col("a_id").alias("b_id"),
        "jacc_pct",
    ).withColumn("method", F.lit("incremental"))
    res = brute.unionByName(lsh).unionByName(inc)
    # near-dup pairs are a tiny fraction of the corpus: snapshot them and
    # RELEASE the persisted shingle table deterministically rather than
    # pinning one cached copy per invocation (round-4 review)
    out = spark.createDataFrame(res.collect(), res.schema)
    arrays.unpersist()
    return out


def _q_simhash(spark, sf_dir):
    from dhtmlparser3_spark.functions.dedup import dedup_corpus, simhash_pairs

    return simhash_pairs(dedup_corpus(spark, sf_dir), n=3, max_hamming=3)


_MESSY_URL_FMTS = [
    # (messy printf fmt, canonical printf fmt) by doc_id % 4 — exercises
    # case-folding, default/non-default ports, fragments, query sorting
    ("https://Host%02d.EXAMPLE/p/%d.html", "https://host%02d.example/p/%d.html"),
    (
        "HTTPS://host%02d.example:443/p/%d.html?z=1&a=2",
        "https://host%02d.example/p/%d.html?a=2&z=1",
    ),
    (
        "http://host%02d.example:8080/p/%d.html#sec",
        "http://host%02d.example:8080/p/%d.html",
    ),
    (
        "http://host%02d.example:80/p/%d.html?b=2&a=1&b=10#x",
        "http://host%02d.example/p/%d.html?a=1&b=10&b=2",
    ),
]


def _q_train_export(spark, sf_dir):
    """Composed training export (pipeline/train_export.py): deterministic
    mixture sample → content-hash train/val split → per-split sequence
    packing; one composed window-chain oracle."""
    from dhtmlparser3_spark.pipeline.train_export import train_export

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    return train_export(docs, seq_len=128, base_pct=20, train_pct=90)


def _q_extract_delta(spark, sf_dir):
    """Incremental re-crawl (pipeline/incremental.py): previous-run store
    synthesized with 10% of urls missing (→ new) and 1-in-7 digests stale
    (→ changed); only those routes hit the parse UDF, unchanged rows reuse
    stored text.  Oracle: closed-form status rules + the expected
    content_str formula — fresh parses must land byte-identical on it."""
    from dhtmlparser3_spark.pipeline.incremental import extract_delta
    from dhtmlparser3_spark.sources.pages import (
        EXPECTED_CONTENT_STR,
        build_pages,
        case_over_templates,
    )

    pages = build_pages(spark, sf_dir)
    old = pages.where(F.col("doc_id") % 10 != 0).select(
        "url",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.md5(F.concat(F.lit("stale-"), F.col("url"))),
        )
        .otherwise(F.md5("html"))
        .alias("digest"),
        case_over_templates(EXPECTED_CONTENT_STR).alias("extracted_text"),
    )
    out = extract_delta(pages.select("url", "html"), old)
    return out.select("url", "status", "extracted_text")


def _q_inlink_texts(spark, sf_dir):
    """Top-3 anchor texts per TARGET host (links.inlink_texts) over the
    extracted outlink set — the anchor-text corpus enrichment signal."""
    from dhtmlparser3_spark.functions.links import inlink_texts, outlinks
    from dhtmlparser3_spark.sources.links import build_link_pages

    return inlink_texts(outlinks(build_link_pages(spark, sf_dir)), k=3)


def _q_mixture_sample(spark, sf_dir):
    """Deterministic per-source mixture downsampling (hash-mod keep rule,
    quality_filters.mixture_sample): reproducible across runs/engines —
    the oracle applies the identical md5-derived rule."""
    from dhtmlparser3_spark.functions.quality_filters import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    return mixture_sample(docs, base_pct=20)


def _q_asof_join(spark, sf_dir):
    """As-of join (operators/asof.py): each click matched to the latest
    at-or-before view by the same user.  Spark side is the tagged-union +
    single-window formulation (one shuffle on user_id); the oracle is
    DuckDB's NATIVE ASOF LEFT JOIN — two independent implementations of
    the operator semantics."""
    from pyspark.sql import Window

    from dhtmlparser3_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    views = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", "ts", F.col("event_id").alias("view_event_id"))
    )
    out = asof_join(clicks, views, on=["user_id"], ts_col="ts")
    return out.select(
        "event_id",
        "user_id",
        F.col("view_event_id_matched").alias("view_event_id"),
        # events.ts is TIMESTAMP_NTZ (unix_micros rejects it); the cast
        # applies the session zone to both sides, so the DIFFERENCE is
        # zone-invariant
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_matched").cast("timestamp"))
        )
        .cast("long")
        .alias("lag_us"),
    )


def _q_outlinks(spark, sf_dir):
    """<a href> extraction over deterministic link-bearing pages
    (sources/links.py): ONE pandas-UDF parse to the node table, then pure
    Catalyst — a-tag filter, attrs href lookup, and BOTH anchor-text
    semantics over the same parsed table (mode column): "direct" = text
    children of the <a> only (nested ``<a><b>l0</b></a>`` rows, 1 in 4
    docs' anchor 0, gather ''), "subtree" = interval-containment join
    over [a.node_id, a.subtree_end) (real-pages semantics; gathers 'l0').
    Oracle: the closed-form link formula the pages were built from, per
    mode, so the parse AND both gathers are verified end-to-end."""
    from dhtmlparser3_spark.functions.links import outlinks
    from dhtmlparser3_spark.sources.links import build_link_pages

    return outlinks(build_link_pages(spark, sf_dir), anchor_mode="both")


def _q_host_graph(spark, sf_dir):
    """Host-level link graph (src, dst, n_links) from extracted outlinks."""
    from dhtmlparser3_spark.functions.links import host_edges, outlinks
    from dhtmlparser3_spark.sources.links import build_link_pages

    return host_edges(outlinks(build_link_pages(spark, sf_dir)))


def _q_host_pagerank(spark, sf_dir):
    """Fixed-iteration integer PageRank over the extracted host graph —
    the iterative-algorithm representative; bit-exact vs the oracle's
    unrolled-CTE recurrence (functions/links.py docstring)."""
    from dhtmlparser3_spark.functions.links import (
        host_edges,
        outlinks,
        pagerank,
    )
    from dhtmlparser3_spark.sources.links import build_link_pages

    return pagerank(host_edges(outlinks(build_link_pages(spark, sf_dir))))


def _q_top_terms(spark, sf_dir):
    """Per-source top-10 vocabulary terms after data-driven stopword
    removal (doc frequency > 50%) — textops.top_terms; pure JVM word-count
    shape with broadcast stopword anti-join and WindowGroupLimit top-k."""
    from dhtmlparser3_spark.functions.textops import top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    return top_terms(docs, k=10, stop_df_pct=50)


def _q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk training-sequence packing (functions/packing.py):
    global token offsets via a two-level distributed prefix sum (parallel
    per-bucket windows + broadcast bucket offsets — NO single-partition
    window over the corpus), then per-sequence roll-up.  Oracle: the same
    packing as one flat window cumsum in DuckDB."""
    from dhtmlparser3_spark.functions.packing import pack_summary

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return pack_summary(docs, seq_len=128)


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs → transitive clusters via alternating large-star /
    small-star connected components (functions/graph.py), with the
    keep-one-per-cluster canonical flag.  Oracle: recursive-CTE transitive
    closure over the identical pair list."""
    from dhtmlparser3_spark.functions.dedup import dedup_corpus, minhash_lsh_pairs
    from dhtmlparser3_spark.functions.graph import dedup_clusters

    pairs = minhash_lsh_pairs(dedup_corpus(spark, sf_dir), n=3, tau_pct=60)
    return dedup_clusters(pairs)


def _q_cosine_topk(spark, sf_dir):
    from dhtmlparser3_spark.functions.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    return cosine_topk(emb, k=5, query_mod=50)


def _ann_invariants(emb, approx) -> DataFrame:
    """Per-query invariant summary of an approximate top-k result — the
    DETERMINISTIC face of an approximate operator, so the driver can
    value-hash it against an exact oracle: every query from the table
    returns exactly k rows, all neighbor ids distinct, none the query
    itself, every id present in the embeddings table, ranks contiguous
    1..k.  The result VALUES (which neighbors) stay approximate by design;
    their quality is the separate oracled ann_recall row's floor."""
    ids = emb.select(F.col("vec_id").alias("neighbor_id")).withColumn(
        "known", F.lit(1)
    )
    return (
        approx.join(F.broadcast(ids), "neighbor_id", "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_neighbors"),
            F.countDistinct("neighbor_id").cast("bigint").alias("n_distinct"),
            F.sum(F.coalesce("known", F.lit(0))).cast("bigint").alias("n_known_ids"),
            F.sum((F.col("neighbor_id") == F.col("query_id")).cast("int"))
            .cast("bigint")
            .alias("n_self"),
            F.max("rank").cast("bigint").alias("max_rank"),
            F.countDistinct("rank").cast("bigint").alias("n_ranks"),
        )
    )


def _q_ann_lsh(spark, sf_dir):
    """LSH multiprobe ANN, reported as its exact per-query invariants
    (_ann_invariants) so the row is fully oracled: k rows per query for
    EVERY query id in the table, distinct known non-self neighbors,
    contiguous ranks — measured to hold deterministically at every
    shipped sf.  The raw top-k surface is lsh_ann_topk (pytest-pinned);
    recall quality is the ann_recall row."""
    from dhtmlparser3_spark.functions.similarity import lsh_ann_topk

    emb = _emb(spark, sf_dir)
    return _ann_invariants(emb, lsh_ann_topk(emb, k=5, query_mod=50))


def _q_ann_ivf(spark, sf_dir):
    """IVF (2-assign redundant posting) ANN as exact per-query invariants;
    see _q_ann_lsh."""
    from dhtmlparser3_spark.functions.similarity import ivf_ann_topk

    emb = _emb(spark, sf_dir)
    return _ann_invariants(emb, ivf_ann_topk(emb, k=5, query_mod=50))


def _q_ann_recall(spark, sf_dir):
    """Driver-visible ANN quality: recall@5 of each approximate index (LSH,
    IVF) against the exact brute-force top-k, computed inside Spark; the
    DuckDB oracle pins the query count (from the table) and a PER-METHOD
    recall floor at what each index delivers AT EVERY SHIPPED SCALE
    FACTOR (deterministic, measured: LSH 98/100/100 and IVF 88/96/94 at
    sf0.001/0.01/0.1) — LSH ≥90, IVF ≥85 (16 cells, 8-probe, 2-assign
    redundant posting; the round-4 config — the old 8-cell/4-probe/
    1-assign index delivered only 66/80/72.5, the coarse-quantization
    trade on near-random synthetic embeddings).  A floor calibrated only
    at the driver's sf0.01 (e.g. IVF ≥95) would falsely redden the row
    at the other tiers users run this query at."""
    from dhtmlparser3_spark.functions.similarity import (
        cosine_topk,
        ivf_ann_topk,
        lsh_ann_topk,
    )

    emb = _emb(spark, sf_dir)
    truth = cosine_topk(emb, k=5, query_mod=50).select(
        "query_id", "neighbor_id"
    )

    def one(method, fn, floor_pct):
        approx = fn(emb, k=5, query_mod=50).select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        j = truth.join(approx, ["query_id", "neighbor_id"], "left")
        return j.agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        ).select(
            F.lit(method).alias("method"),
            (F.col("n_true") / 5).cast("bigint").alias("n_queries"),
            (F.floor(100 * F.col("n_hits") / F.col("n_true")) >= floor_pct)
            .cast("int")
            .alias("meets_floor"),
        )

    return one("ivf", ivf_ann_topk, 85).unionByName(
        one("lsh", lsh_ann_topk, 90)
    )


def _q_stream_extract(spark, sf_dir):
    """Structured Streaming driver row: pages → parquet file stream (8
    files, maxFilesPerTrigger=4 ⇒ ≥2 micro-batches) → foreachBatch running
    the SAME batch extract job per epoch → idempotent per-epoch overwrite
    sink (foreachBatch is at-least-once; a replayed epoch rewrites its own
    partition dir, see stream_extract.start_foreach_batch) → read back.  Oracled as batch-equivalence: the streamed output must
    byte-match the batch content_str oracle for every url.  Input is
    built once and reused across reps (_ensure_stream_input)."""
    import tempfile

    from dhtmlparser3_spark.sources.pages import build_pages
    from dhtmlparser3_spark.streaming.stream_extract import (
        read_pages_stream,
        start_foreach_batch,
    )

    def build(path):
        build_pages(spark, sf_dir).repartition(8).write.mode(
            "overwrite"
        ).parquet(path + "/in")

    inp = _ensure_stream_input(_stream_cache_dir(sf_dir, "ex"), build) + "/in"
    base = tempfile.mkdtemp(prefix="spark_graft_stream_")
    outp, ck = f"{base}/out", f"{base}/ck"
    q = start_foreach_batch(read_pages_stream(spark, inp), outp, ck)
    q.awaitTermination()
    out = spark.read.parquet(outp)
    return out.select("url", F.col("extracted_text").alias("value"))


def _q_embedding_dups(spark, sf_dir):
    from dhtmlparser3_spark.functions.similarity import embedding_dup_pairs

    emb = _emb(spark, sf_dir)
    return embedding_dup_pairs(emb, tau=0.9)


def _q_media_pipeline(spark, sf_dir):
    """Multimodal decode + image resize in one driver row: typed metadata
    from the (deterministic-fake, import-seamed) codec plus the 64x64
    resize outputs LEFT-joined on doc_id — non-image rows carry NULL
    resize columns, which the oracle reproduces."""
    from dhtmlparser3_spark.functions.multimodal import (
        decode_media,
        media_corpus,
        resize_images,
    )

    mc = media_corpus(spark, sf_dir)
    dec = decode_media(mc).drop("error")
    rez = resize_images(mc, width=64, height=64).select(
        "doc_id",
        F.col("width").alias("width_out"),
        F.col("height").alias("height_out"),
        "n_bytes_out",
    )
    return dec.join(rez, "doc_id", "left")


def _q_media_analysis(spark, sf_dir):
    """Video frame sampling (every 5th frame) and fixed-dim feature
    extraction unioned into one discriminated driver row: part='frame'
    rows carry (idx=frame_idx, ival=n_bytes), part='feat' rows carry
    (idx=dim_idx, dval=val)."""
    from dhtmlparser3_spark.functions.multimodal import (
        media_corpus,
        media_features,
        sample_frames,
    )

    mc = media_corpus(spark, sf_dir)
    frames = sample_frames(mc, every=5).select(
        "doc_id",
        F.lit("frame").alias("part"),
        F.col("frame_idx").cast("int").alias("idx"),
        F.col("n_bytes").cast("long").alias("ival"),
        F.lit(None).cast("double").alias("dval"),
    )
    feats = (
        media_features(mc, dim=8)
        .select("doc_id", F.posexplode("features").alias("idx", "val"))
        .select(
            "doc_id",
            F.lit("feat").alias("part"),
            F.col("idx").cast("int").alias("idx"),
            F.lit(None).cast("long").alias("ival"),
            F.col("val").alias("dval"),
        )
    )
    return frames.unionByName(feats)


def _q_curate_corpus(spark, sf_dir):
    """Composed training-data pipeline: extract → quality floor (drops the
    bottom tail) → exact dedup.  Deterministic dup pages (same html, url
    suffixed ?dup) are injected so the dedup stage provably fires; the
    quality floor of 60 drops real low-scoring docs."""
    from dhtmlparser3_spark.pipeline.curate import curate_corpus
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    dups = pages.where(F.col("doc_id") % 11 == 0).withColumn(
        "url", F.concat("url", F.lit("?dup"))
    )
    return curate_corpus(pages.unionByName(dups), min_quality=60)


def _q_pdf_parse(spark, sf_dir):
    """PDF/layout plumbing in one driver row: the per-block layout parse
    (page_no/block_no/kind/bbox) unioned with the per-doc reading-order
    main text encoded as kind='main_text' rows (page_no carries n_pages,
    block_no=-1, zero bbox — a packing convention, documented here and in
    the oracle)."""
    from dhtmlparser3_spark.functions.docparse import (
        layout_main_text,
        parse_layout,
    )

    docs = _docs(spark, sf_dir)
    blocks = parse_layout(docs)
    main = layout_main_text(docs).select(
        "doc_id",
        F.col("n_pages").cast("int").alias("page_no"),
        F.lit(-1).cast("int").alias("block_no"),
        F.lit("main_text").alias("kind"),
        F.col("main_text").alias("text"),
        F.lit(0).cast("int").alias("x0"),
        F.lit(0).cast("int").alias("y0"),
        F.lit(0).cast("int").alias("x1"),
        F.lit(0).cast("int").alias("y1"),
    )
    return blocks.unionByName(main)


def _q_host_topk(spark, sf_dir):
    from dhtmlparser3_spark.sources.pages import build_pages

    pages = build_pages(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1).alias("host")
    counts = pages.select(host).groupBy("host").agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_docs").desc(), F.col("host").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("host", "n_docs", F.col("rk").cast("int").alias("rk"))
    )


def _q_events_hourly(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


def _q_sessions_batch(spark, sf_dir):
    from dhtmlparser3_spark.streaming.sessions import sessionize_batch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(events, gap_minutes=30).drop("sess_id")


def _q_lineitem_pricing(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over the biggest table: pushed-down
    date filter → map-side partial agg → one shuffle on the 4-group key.
    Money sums are exact integer cents (ROUND(x*100) is engine-identical
    for 2-decimal doubles; raw double sums would hash-differently)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def cents(c):
        return F.round(F.col(c) * 100).cast("bigint")

    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents("l_quantity")).alias("sum_qty_cents"),
            F.sum(cents("l_extendedprice")).alias("sum_price_cents"),
            F.sum(cents("l_discount")).alias("sum_disc_cents"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
        )
    )


def _q_orders_segment(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_orderkey"),
            F.max("o_orderkey").alias("max_orderkey"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver checks the FIRST 50 dict rows, so
    every oracled query sits inside that budget (round-2 regression fix:
    14 queries had been appended past it).  Overlapping per-doc feature
    queries are consolidated into composite rows (extract_serializations,
    selector_counts, text_features, quality_signals, url_ops,
    host_curation, jaccard_pairs, media_*, pdf_parse) — each constituent
    operator keeps its oracle inside the merged row.  Round-5 additions
    merged the same way: quality_score rides text_features, LM quality
    (functions/lm.py) rides quality_signals, span dedup rides line_dedup
    (method='line'/'span'), and the incremental index probe rides
    jaccard_pairs (method='incremental').  The two approximate
    entries (ann_lsh/ann_ivf) sit LAST; since round 5 they return exact
    per-query invariant summaries and are fully oracled, with recall
    pinned by the green oracled ann_recall row."""
    return {
        "extract_content_str": _q_extract_content_str,
        "extract_serializations": _q_extract_serializations,
        "extract_errors": _q_extract_errors,
        "extract_stats": _q_extract_stats,
        "node_tag_counts": _q_node_tag_counts,
        "spans_summary": _q_spans_summary,
        "selector_counts": _q_selector_counts,
        "text_features": _q_text_features,
        "sketch_stats": _q_sketch_stats,
        "source_mix": _q_source_mix,
        "stream_dedup": _q_stream_dedup,
        "stream_metrics": _q_stream_metrics,
        "stream_extract": _q_stream_extract,
        "sessions_batch": _q_sessions_batch,
        "decontaminate": _q_decontaminate,
        "host_curation": _q_host_curation,
        "main_block": _q_main_block,
        "chunk_windows": _q_chunk_windows,
        "train_split": _q_train_split,
        "quality_signals": _q_quality_signals,
        "url_ops": _q_url_ops,
        "fingerprints": _q_fingerprints,
        "exact_dups": _q_exact_dups,
        "line_dedup": _q_line_dedup,
        "jaccard_pairs": _q_jaccard_pairs,
        "simhash": _q_simhash,
        "dedup_clusters": _q_dedup_clusters,
        "pack_sequences": _q_pack_sequences,
        "top_terms": _q_top_terms,
        "outlinks": _q_outlinks,
        "host_graph": _q_host_graph,
        "host_pagerank": _q_host_pagerank,
        "inlink_texts": _q_inlink_texts,
        "mixture_sample": _q_mixture_sample,
        "asof_join": _q_asof_join,
        "extract_delta": _q_extract_delta,
        "train_export": _q_train_export,
        "curate_corpus": _q_curate_corpus,
        "cosine_topk": _q_cosine_topk,
        "ann_recall": _q_ann_recall,
        "embedding_dups": _q_embedding_dups,
        "media_pipeline": _q_media_pipeline,
        "media_analysis": _q_media_analysis,
        "pdf_parse": _q_pdf_parse,
        "host_topk": _q_host_topk,
        "events_hourly": _q_events_hourly,
        "orders_segment": _q_orders_segment,
        "lineitem_pricing": _q_lineitem_pricing,
        "ann_lsh": _q_ann_lsh,  # invariant summary — oracled; recall via ann_recall
        "ann_ivf": _q_ann_ivf,  # invariant summary — oracled; recall via ann_recall
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def _sql_extract(what: str, with_probes: bool = False) -> str:
    from dhtmlparser3_spark.sources.pages import pages_oracle_sql

    sql = pages_oracle_sql("", what)
    if with_probes:
        # only the WARC-sourced row carries the eight charset probes
        # (non-ASCII captures in cp1252/cp932/gbk/cp949/utf-16 declared via
        # HTTP label / meta prescan / BOM) — constant expected values,
        # reference-parity-pinned in tests/test_warc.py
        from dhtmlparser3_spark.sources.warc import charset_probe_expected

        vals = ", ".join(
            "('%s', '%s')" % (u.replace("'", "''"), v.replace("'", "''"))
            for u, v in charset_probe_expected()
        )
        sql = (
            f"SELECT url, value FROM ({sql}) "
            f"UNION ALL SELECT url, value FROM (VALUES {vals}) t(url, value)"
        )
    return sql


def _sql_extract_stats() -> str:
    tag_rows = ", ".join(
        f"({t}, {sum(c.values()) + 1})" for t, c in TAG_MATRIX.items()
    )  # +1 = the virtual root node of the arena
    txt_rows = ", ".join(
        f"({t}, {n}, {PAYLOAD_TEXT_NODE[t]})" for t, n in TEXT_NODE_MATRIX.items()
    )
    return f"""
      WITH tagm(template, tags) AS (VALUES {tag_rows}),
      txtm(template, txt, payload) AS (VALUES {txt_rows}),
      per AS (
        SELECT doc_id % 5 AS template,
               count(*) AS n_docs,
               -- text = '' (NOT trim(text) = ''): the parser keeps a
               -- text node for a whitespace-only payload — only a truly
               -- empty string renders no payload text node (matches the
               -- spans_summary oracle's text <> '' convention)
               sum(CASE WHEN text = '' THEN 1 ELSE 0 END) AS n_empty
        FROM documents GROUP BY 1
      )
      SELECT per.template AS template,
             CAST(per.n_docs AS BIGINT) AS n_docs,
             CAST(per.n_docs * tagm.tags AS BIGINT) AS sum_tags,
             CAST(per.n_docs * txtm.txt - per.n_empty * txtm.payload AS BIGINT)
               AS sum_text_nodes,
             CAST(0 AS BIGINT) AS n_errors
      FROM per JOIN tagm USING (template) JOIN txtm USING (template)
    """


def _sql_node_tag_counts() -> str:
    rows = []
    for t, counts in TAG_MATRIX.items():
        for name, c in counts.items():
            rows.append(f"({t}, '{name}', {c})")
    values = ", ".join(rows)
    return f"""
      WITH m(template, name, cnt) AS (VALUES {values}),
      per AS (SELECT doc_id % 5 AS template, count(*) AS n_docs
              FROM documents GROUP BY 1)
      SELECT m.name AS name, CAST(SUM(per.n_docs * m.cnt) AS BIGINT) AS n
      FROM m JOIN per USING (template) GROUP BY 1
    """


def _sql_quality(table: str = "documents", id_col: str = "doc_id") -> str:
    from dhtmlparser3_spark.functions.textops import PUNCT_CLASS, STOPWORDS_EN

    stop = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    punct = PUNCT_CLASS.replace("'", "''")
    toks = _toks()
    ltoks = _toks("lower(text)")
    return f"""
      WITH base AS (
        SELECT {id_col},
               text,
               length(text) AS n_chars,
               len({toks}) AS n_tokens,
               len(list_filter({ltoks}, x -> x IN ({stop}))) AS n_stopwords,
               length(text) - length(regexp_replace(text, '{punct}', '', 'g')) AS n_punct,
               length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha
        FROM {table}
      )
      SELECT {id_col}, text, n_chars::INT AS n_chars, n_tokens::INT AS n_tokens,
             n_stopwords::INT AS n_stopwords, n_punct::INT AS n_punct,
             n_alpha::INT AS n_alpha,
             (CASE WHEN n_tokens = 0 THEN 0 ELSE
               LEAST(40, CAST(FLOOR(40.0 * n_alpha / GREATEST(n_chars, 1)) AS INT))
               + LEAST(30, CAST(FLOOR(30.0 * n_stopwords * 5 / GREATEST(n_tokens, 1)) AS INT))
               + GREATEST(0, 30 - CAST(FLOOR(100.0 * n_punct / GREATEST(n_chars, 1)) AS INT))
             END)::INT AS quality
      FROM base
    """


def _sql_pii_counts() -> str:
    """DuckDB twin of quality_filters.pii_corpus + with_pii_counts — the
    regexes and the injected suffix are IMPORTED constants, evaluated by
    RE2 vs Java regex (portable subset, see quality_filters.py)."""
    from dhtmlparser3_spark.functions import quality_filters as qf

    did = "CAST(doc_id AS VARCHAR)"
    suffix = (
        f"' contact user' || {did} || "
        f"'@mail.example now or visit https://pii.example/u/' || {did} || "
        f"' or call 12345678901 twice'"
    )

    def esc(p):
        return p.replace("'", "''")

    return f"""
      WITH c AS (
        SELECT doc_id,
               CASE WHEN doc_id % {qf.PII_MOD} = 0 THEN text || {suffix}
                    ELSE text END AS text
        FROM documents
      )
      SELECT doc_id,
             len(regexp_extract_all(text, '{esc(qf.EMAIL_RE)}'))::INT AS n_emails,
             len(regexp_extract_all(text, '{esc(qf.URL_RE)}'))::INT AS n_urls,
             len(regexp_extract_all(text, '{esc(qf.DIGIT_RUN_RE)}'))::INT AS n_digit_runs
      FROM c
    """


def _sql_fingerprints(k: int = 5, window: int = 4) -> str:
    gram = f"array_to_string(list_slice(arr, i, i + {k - 1}), ' ')"
    h = _HASH60.format(x=gram)
    return f"""
      WITH arrs AS (
        SELECT doc_id, {_toks()} AS arr FROM documents
      ),
      g AS (
        SELECT doc_id,
               [{{'pos': i, 'h': {h}}}
                for i in generate_series(1, len(arr) - {k - 1})] AS gs
        FROM arrs WHERE len(arr) >= {k}
      ),
      gu AS (SELECT doc_id, unnest(gs) AS u FROM g),
      gh AS (SELECT doc_id, u.pos AS pos, u.h AS hh FROM gu),
      wm AS (
        SELECT doc_id, pos,
               min(hh) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wmin,
               count(*) OVER (PARTITION BY doc_id) AS n
        FROM gh
      )
      SELECT DISTINCT doc_id, wmin AS fingerprint
      FROM wm WHERE pos <= n - {window - 1}
    """


def _lined_sql() -> str:
    """DuckDB twin of functions.dedup.lined_corpus (same constants)."""
    from dhtmlparser3_spark.functions import dedup as dd

    L = dd.LINE_TOKENS
    body = (
        f"array_to_string([array_to_string(list_slice(arr, i, i + {L - 1}),"
        f" ' ') for i in generate_series(1, len(arr), {L})], chr(10))"
    )
    return f"""(
      WITH arrs AS (SELECT doc_id, {_toks()} AS arr FROM documents),
      bodies AS (SELECT doc_id, {body} AS body FROM arrs)
      SELECT doc_id,
        (CASE WHEN doc_id % {dd.HEADER_MOD} = 0
              THEN '{dd.HEADER_LINE}' || chr(10) ELSE '' END)
        || body
        || (CASE WHEN doc_id % {dd.FOOTER_MOD} = 0
                 THEN chr(10) || '{dd.FOOTER_LINE}' ELSE '' END)
        || (CASE WHEN doc_id % {dd.PROMO_MOD} = 0
                 THEN chr(10) || '{dd.PROMO_LINE}' ELSE '' END) AS text
      FROM bodies
    )"""


def _sql_line_dedup(min_docs: int = 25) -> str:
    lines_cte = (
        "SELECT doc_id, unnest([{'ln': i - 1, 'line': parts[i]} "
        "for i in generate_series(1, len(parts))], recursive := true) "
        "FROM sp"
    )
    return f"""
      WITH base AS {_lined_sql()},
      sp AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM base),
      lines AS ({lines_cte}),
      norm AS (SELECT doc_id, ln AS line_no, line,
                      lower(trim(line)) AS k FROM lines),
      dup AS (
        SELECT k FROM (
          SELECT k, count(DISTINCT doc_id) AS nd
          FROM norm WHERE k <> '' GROUP BY k
        ) WHERE nd >= {min_docs}
      ),
      marked AS (
        SELECT n.doc_id, n.line_no, n.line,
               (n.k <> '' AND d.k IS NOT NULL) AS dropped
        FROM norm n LEFT JOIN dup d ON n.k = d.k
      )
      SELECT doc_id,
        coalesce(string_agg(line, chr(10) ORDER BY line_no)
                 FILTER (WHERE NOT dropped), '') AS clean_text,
        count(*)::INT AS n_lines,
        sum(CASE WHEN dropped THEN 1 ELSE 0 END)::INT AS n_removed
      FROM marked GROUP BY doc_id
    """


def _sql_lm_quality() -> str:
    from dhtmlparser3_spark.functions import lm

    bigrams = (
        "[arr[i] || ' ' || arr[i + 1] "
        "for i in generate_series(1, len(arr) - 1)]"
    )
    return f"""
      WITH alldocs AS (
        SELECT doc_id, {_toks()} AS arr FROM documents
      ),
      tb AS (
        SELECT unnest({bigrams}) AS bigram
        FROM alldocs WHERE doc_id % {10} < {3} AND len(arr) >= 2
      ),
      counts AS (SELECT bigram, count(*)::BIGINT AS n FROM tb GROUP BY bigram),
      tot AS (SELECT sum(n)::BIGINT AS total FROM counts),
      model AS (
        SELECT bigram,
               round(ln(n::DOUBLE / total::DOUBLE) * {lm.SCALE})::BIGINT AS lp
        FROM counts, tot
      ),
      dbg AS (
        SELECT doc_id,
               unnest(CASE WHEN len(arr) >= 2 THEN {bigrams}
                           ELSE [CAST(NULL AS VARCHAR)] END) AS bigram
        FROM alldocs
      ),
      scored AS (
        SELECT d.doc_id,
               count(d.bigram)::INT AS n_bigrams,
               coalesce(sum(CASE WHEN d.bigram IS NULL THEN 0
                    ELSE coalesce(m.lp,
                         round(ln(1.0 / (total + 1)) * {lm.SCALE})::BIGINT)
                    END), 0)::BIGINT AS sum_lp_micro
        FROM dbg d LEFT JOIN model m ON d.bigram = m.bigram, tot
        GROUP BY d.doc_id
      )
      SELECT doc_id, n_bigrams, sum_lp_micro,
             CASE WHEN n_bigrams = 0 THEN 'empty'
                  WHEN sum_lp_micro >= {lm.T_HEAD}::BIGINT * n_bigrams
                       THEN 'head'
                  WHEN sum_lp_micro >= {lm.T_MIDDLE}::BIGINT * n_bigrams
                       THEN 'middle'
                  ELSE 'tail' END AS lm_bucket
      FROM scored
    """


def _dd_offset() -> int:
    from dhtmlparser3_spark.functions import dedup as dd

    return dd.NEAR_DUP_OFFSET


def _sql_line_dedup_combined() -> str:
    """Labeled union of the line-dedup and span-dedup oracles on the
    shared (method, doc_id, clean_text, n_units, n_removed) schema."""
    return f"""
      SELECT 'line' AS method, doc_id, clean_text,
             n_lines AS n_units, n_removed
      FROM ({_sql_line_dedup()})
      UNION ALL
      SELECT 'span' AS method, doc_id, clean_text,
             n_tokens AS n_units, n_removed
      FROM ({_sql_dup_spans()})
    """




def _sql_dup_spans(k: int = 8, min_occ: int = 2) -> str:
    kgram = (
        "[{'p': p, 'h': md5(array_to_string(arr[p + 1 : p + "
        f"{k}], ' '))}}"
        f" for p in generate_series(0, len(arr) - {k})]"
    )
    tok_structs = (
        "[{'i': i, 'tok': arr[i]} for i in generate_series(1, len(arr))]"
    )
    return f"""
      WITH base AS (SELECT doc_id, {_toks()} AS arr FROM {_corpus_sql()}),
      pos AS (
        SELECT doc_id, unnest({kgram}, recursive := true)
        FROM base WHERE len(arr) >= {k}
      ),
      dup AS (
        SELECT h FROM (SELECT h, count(*) AS c FROM pos GROUP BY h)
        WHERE c >= {min_occ}
      ),
      marked AS (SELECT DISTINCT pos.doc_id, pos.p FROM pos JOIN dup USING (h)),
      covered AS (
        SELECT DISTINCT doc_id, p + o AS idx
        FROM marked, generate_series(0, {k - 1}) AS g(o)
      ),
      toks AS (
        SELECT doc_id, unnest({tok_structs}, recursive := true)
        FROM base
      ),
      scored AS (
        SELECT t.doc_id,
               count(*)::INT AS n_tokens,
               sum(CASE WHEN c.idx IS NULL THEN 0 ELSE 1 END)::INT
                 AS n_removed,
               coalesce(string_agg(t.tok, ' ' ORDER BY t.i)
                        FILTER (WHERE c.idx IS NULL), '') AS clean_text
        FROM toks t LEFT JOIN covered c
          ON t.doc_id = c.doc_id AND t.i - 1 = c.idx
        GROUP BY t.doc_id
      )
      SELECT b.doc_id,
             coalesce(s.clean_text, '') AS clean_text,
             coalesce(s.n_tokens, 0)::INT AS n_tokens,
             coalesce(s.n_removed, 0)::INT AS n_removed
      FROM base b LEFT JOIN scored s ON b.doc_id = s.doc_id
    """


def _sql_exact_dups() -> str:
    return f"""
      SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS min_doc_id
      FROM {_corpus_sql()}
      GROUP BY 1 HAVING count(*) > 1
    """


def _sql_simhash(max_hamming: int = 3) -> str:
    h = _HASH60.format(x="sh")
    return f"""
      WITH sh AS (SELECT * FROM {_shingles_sql()}),
      hh AS (SELECT doc_id, {h} AS h FROM sh),
      bits AS (
        SELECT doc_id, b,
               CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                    THEN (1::BIGINT << b) ELSE 0 END AS v
        FROM hh, generate_series(0, 59) AS t(b)
        GROUP BY doc_id, b
      ),
      sig AS (SELECT doc_id, sum(v)::BIGINT AS s FROM bits GROUP BY doc_id)
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.s, b.s))::INT AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
    """


def _sql_cosine_topk(k: int = 5, query_mod: int = 50) -> str:
    dot = (
        "list_sum(list_transform(list_zip(q.e, b.embedding), "
        "x -> x[1]::DOUBLE * x[2]::DOUBLE))"
    )
    nq = "sqrt(list_sum(list_transform(q.e, x -> x::DOUBLE * x::DOUBLE)))"
    nb = "sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))"
    return f"""
      WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings
                 WHERE vec_id % {query_mod} = 0),
      pairs AS (
        SELECT q.qid, b.vec_id AS nid, {dot} / ({nq} * {nb}) AS sim
        FROM q, embeddings b WHERE b.vec_id <> q.qid
      ),
      r AS (SELECT qid, nid,
                   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rk
            FROM pairs)
      SELECT qid AS query_id, nid AS neighbor_id, rk::INT AS rank
      FROM r WHERE rk <= {k}
    """


def _sql_embedding_dups(tau: float = 0.9) -> str:
    from dhtmlparser3_spark.functions.similarity import (
        EMB_DUP_EPS,
        EMB_DUP_MOD,
        EMB_DUP_OFFSET,
    )

    dot = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
        "x -> x[1] * x[2]))"
    )
    na = "sqrt(list_sum(list_transform(a.embedding, x -> x * x)))"
    nb = "sqrt(list_sum(list_transform(b.embedding, x -> x * x)))"
    return f"""
      WITH base AS (
        SELECT vec_id,
               list_transform(embedding, x -> x::DOUBLE) AS embedding
        FROM embeddings
      ),
      corpus AS (
        SELECT vec_id, embedding FROM base
        UNION ALL
        SELECT vec_id + {EMB_DUP_OFFSET} AS vec_id,
               [embedding[i] + {EMB_DUP_EPS} * (((i - 1) % 3) - 1)
                for i in generate_series(1, len(embedding))] AS embedding
        FROM base WHERE vec_id % {EMB_DUP_MOD} = 0
      ),
      pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               {dot} / ({na} * {nb}) AS sim
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      )
      SELECT a_id, b_id, CAST(FLOOR(100 * sim) AS INT) AS sim_pct
      FROM pairs WHERE sim >= {tau}
    """


def _sql_media_meta() -> str:
    return """
      WITH base AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               octet_length(encode(text)) AS n
        FROM documents
      )
      SELECT doc_id, kind, n::INT AS n_bytes,
             CASE WHEN kind IN ('image','video') THEN (n % 640 + 1)::INT END AS width,
             CASE WHEN kind IN ('image','video') THEN ((n * 7) % 480 + 1)::INT END AS height,
             CASE WHEN kind = 'video' THEN (n % 30 + 1)::INT END AS n_frames,
             CASE WHEN kind = 'audio' THEN (8000 + n % 48000)::INT END AS sample_rate
      FROM base
    """


def _sql_host_topk() -> str:
    return """
      WITH hosts AS (
        SELECT printf('host%02d.example', (doc_id % 97)::INT) AS host,
               count(*) AS n_docs
        FROM documents GROUP BY 1
      )
      SELECT host, n_docs,
             row_number() OVER (ORDER BY n_docs DESC, host ASC)::INT AS rk
      FROM hosts
      QUALIFY rk <= 10
    """


def _sql_extract_serializations() -> str:
    from dhtmlparser3_spark.sources import pages as pg

    url = (
        "printf('https://host%02d.example/%s/%d.html', (doc_id % 97)::INT, "
        "source, doc_id)"
    )
    mt = pg.case_over_templates_sql(pg.EXPECTED_MAIN_TEXT)
    cs = pg.case_over_templates_sql(pg.EXPECTED_CONTENT_STR)
    cwt = pg.case_over_templates_sql(pg.EXPECTED_CWT)
    pf = pg.case_over_templates_sql(pg.EXPECTED_PRETTIFY)
    return (
        f"SELECT {url} AS url, {mt} AS main_text, "
        f"'<html>' || {cs} || '</html>' AS roundtrip, "
        f"{cwt} AS no_tags, {pf} AS pretty FROM documents"
    )


def _sql_text_features() -> str:
    from dhtmlparser3_spark.functions.textops import (
        STOPWORDS_DE,
        STOPWORDS_EN,
        STOPWORDS_FR,
    )

    ltoks = _toks("lower(text)")

    def hits(words):
        lst = ", ".join(f"'{w}'" for w in words)
        return f"len(list_filter({ltoks}, x -> x IN ({lst})))"

    return f"""
      WITH base AS (
        SELECT doc_id,
               len({_toks()}) AS n_tokens,
               {hits(STOPWORDS_EN)} AS hits_en,
               {hits(STOPWORDS_DE)} AS hits_de,
               {hits(STOPWORDS_FR)} AS hits_fr,
               nfc_normalize(
                 CASE WHEN doc_id % {NFC_MOD} = 0
                      THEN text || ' cafe' || chr(769) || ' denormalized'
                      ELSE text END
               ) AS nfc_text
        FROM documents
      )
      SELECT base.doc_id, base.n_tokens::INT AS n_tokens,
             hits_en::INT AS hits_en, hits_de::INT AS hits_de,
             hits_fr::INT AS hits_fr,
             CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
                  WHEN hits_de >= hits_fr THEN 'de'
                  ELSE 'fr' END AS lang_pred,
             nfc_text,
             q.n_chars, q.n_stopwords, q.n_punct, q.n_alpha, q.quality
      FROM base JOIN ({_sql_quality()}) q USING (doc_id)
    """


def _sql_rep_filters() -> str:
    return f"""
      WITH arrs AS (SELECT doc_id, {_toks()} AS arr FROM documents),
      base AS (
        SELECT doc_id, len(arr) AS n, len(list_distinct(arr)) AS d
        FROM arrs
      ),
      g2 AS (
        SELECT doc_id,
               unnest([array_to_string(list_slice(arr, i, i + 1), ' ')
                       for i in generate_series(1, len(arr) - 1)]) AS gm
        FROM arrs WHERE len(arr) >= 2
      ),
      c2 AS (
        SELECT doc_id, max(c) AS mx, sum(c) AS tot
        FROM (SELECT doc_id, gm, count(*) AS c FROM g2 GROUP BY 1, 2)
        GROUP BY 1
      ),
      g3 AS (
        SELECT doc_id,
               unnest([array_to_string(list_slice(arr, i, i + 2), ' ')
                       for i in generate_series(1, len(arr) - 2)]) AS gm
        FROM arrs WHERE len(arr) >= 3
      ),
      c3 AS (
        SELECT doc_id, max(c) AS mx, sum(c) AS tot
        FROM (SELECT doc_id, gm, count(*) AS c FROM g3 GROUP BY 1, 2)
        GROUP BY 1
      )
      SELECT b.doc_id,
             CASE WHEN n <= 0 THEN 0
                  ELSE CAST(FLOOR(100.0 * (n - d) / n) AS INT)
             END AS pct_dup_tokens,
             COALESCE(CAST(100 * c2.mx // c2.tot AS INT), 0) AS pct_top_2gram,
             COALESCE(CAST(100 * c3.mx // c3.tot AS INT), 0) AS pct_top_3gram
      FROM base b
      LEFT JOIN c2 ON c2.doc_id = b.doc_id
      LEFT JOIN c3 ON c3.doc_id = b.doc_id
    """


def _sql_url_ops() -> str:
    whens_messy = "".join(
        f" WHEN doc_id % 4 = {m} THEN printf('{fmt}', (doc_id % 97)::INT, doc_id)"
        for m, (fmt, _) in enumerate(_MESSY_URL_FMTS)
    )
    whens_canon = "".join(
        f" WHEN doc_id % 4 = {m} THEN printf('{canon}', (doc_id % 97)::INT, doc_id)"
        for m, (_, canon) in enumerate(_MESSY_URL_FMTS)
    )
    return f"""
      SELECT printf('https://host%02d.example/%s/%d.html',
                    (doc_id % 97)::INT, source, doc_id) AS url,
             printf('host%02d.example', (doc_id % 97)::INT) AS host,
             'example' AS tld,
             2 AS path_depth,
             CAST(doc_id AS VARCHAR) || '.html' AS doc_name,
             (CASE{whens_messy} END) AS messy_url,
             (CASE{whens_canon} END) AS canonical
      FROM documents
    """


def _sql_media_frames() -> str:
    return """
      WITH v AS (
        SELECT doc_id, octet_length(encode(text)) AS n
        FROM documents WHERE doc_id % 3 = 2
      )
      SELECT doc_id, CAST(u.i AS INT) AS frame_idx,
             CAST(n // (n % 30 + 1) AS INT) AS n_bytes
      FROM v, LATERAL (
        SELECT unnest(generate_series(0, n % 30, 5)) AS i
      ) u
    """


def _sql_media_features() -> str:
    h = _HASH60.format(x="text || chr((48 + i)::INT)")
    return f"""
      SELECT doc_id, CAST(i AS INT) AS dim_idx,
             (({h}) % 1000) / 1000.0 AS val
      FROM documents, generate_series(0, 7) AS t(i)
    """


def oracle_sql() -> dict[str, str]:
    from dhtmlparser3_spark.sources import pages as pg

    # expected content_str expression (per-template piece-lists) — used by
    # the stream_metrics oracle to recompute n_chars_out closed-form
    case_str = pg.case_over_templates_sql(pg.EXPECTED_CONTENT_STR)
    return {
        "extract_content_str": _sql_extract("content_str", with_probes=True),
        "extract_serializations": _sql_extract_serializations(),
        "extract_errors": """
          WITH base AS (SELECT count(*) AS n FROM documents)
          SELECT 'ok' AS cls, CAST(n AS BIGINT) AS n_docs,
                 CAST(0 AS BIGINT) AS n_err_content,
                 CAST(0 AS BIGINT) AS n_err_prettify,
                 CAST(0 AS BIGINT) AS n_silent_nulls, '' AS error_kinds
          FROM base
          UNION ALL
          SELECT 'entity', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(count(*) AS BIGINT), CAST(0 AS BIGINT), 'ValueError'
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT 'overflow', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(count(*) AS BIGINT), CAST(0 AS BIGINT), 'OverflowError'
          FROM documents WHERE doc_id % 10 = 3
          UNION ALL
          SELECT 'deep', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
                 CAST(0 AS BIGINT), CAST(0 AS BIGINT), ''
          FROM documents WHERE doc_id % 100 = 5
        """,
        "extract_stats": _sql_extract_stats(),
        "node_tag_counts": _sql_node_tag_counts(),
        "spans_summary": f"""
          WITH base AS (
            SELECT printf('https://host%02d.example/%s/%d.html',
                          (doc_id % 97)::INT, source, doc_id) AS url,
                   doc_id % 5 AS t,
                   length(CAST(doc_id AS VARCHAR)) AS idl,
                   length({_esc_sql_text()}) AS esc,
                   (text <> '')::INT AS has
            FROM documents
          )
          SELECT url,
                 (CASE t WHEN 0 THEN 1+has WHEN 1 THEN 4+has
                         WHEN 2 THEN 1+has WHEN 3 THEN 1 ELSE has END)::INT
                   AS n_spans,
                 (CASE t WHEN 0 THEN idl+esc WHEN 1 THEN idl+esc+30
                         WHEN 2 THEN esc+4 WHEN 3 THEN esc+54 ELSE esc END)::INT
                   AS sum_span_len,
                 (CASE t WHEN 0 THEN 19 WHEN 1 THEN 19
                         WHEN 2 THEN CASE WHEN has=1 THEN 38 ELSE 58 END
                         WHEN 3 THEN 15
                         ELSE CASE WHEN has=1 THEN 96+idl END END)::INT
                   AS first_start
          FROM base
        """,
        "selector_counts": """
          SELECT 'find_attr_ci' AS selector, count(*) AS n
          FROM documents WHERE doc_id % 5 = 4
          UNION ALL
          SELECT 'descendant_divs', count(*)
          FROM documents WHERE doc_id % 5 = 4
          UNION ALL
          SELECT 'wfind_chain', count(*)
          FROM documents WHERE doc_id % 5 = 4
        """,
        "text_features": _sql_text_features(),
        "sketch_stats": f"""
          SELECT CAST(count(DISTINCT doc_id % 97) AS BIGINT) AS hosts_exact,
                 1 AS hll_within_5pct,
                 CAST(FLOOR(median(len({_toks()}))) AS BIGINT)
                   AS p50_tokens_floor,
                 1 AS p50_within_10pct
          FROM documents
        """,
        "source_mix": f"""
          SELECT source, lang, count(*) AS n_docs,
                 CAST(sum(len({_toks()})) AS BIGINT) AS n_tokens,
                 CAST(sum(length(text)) AS BIGINT) AS n_chars
          FROM documents GROUP BY 1, 2
        """,
        "stream_dedup": """
          WITH corpus AS (
            SELECT text FROM documents
            UNION ALL
            SELECT text FROM documents WHERE doc_id % 11 = 0
          )
          SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
          FROM corpus
        """,
        "decontaminate": f"""
          WITH tok AS (SELECT doc_id, lang, {_toks()} AS arr FROM documents),
          bsh AS (
            SELECT DISTINCT
                   unnest([array_to_string(list_slice(arr, i, i + 7), ' ')
                           for i in generate_series(1, len(arr) - 7)]) AS sh
            FROM tok WHERE doc_id % {DECON_MOD} = 0 AND len(arr) >= 8
          ),
          csh AS (
            SELECT DISTINCT doc_id,
                   unnest([array_to_string(list_slice(arr, i, i + 7), ' ')
                           for i in generate_series(1, len(arr) - 7)]) AS sh
            FROM tok WHERE len(arr) >= 8
          ),
          bad AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (sh))
          SELECT lang, count(*) AS n_docs,
                 min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
          FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM bad)
          GROUP BY 1
        """,
        "host_curation": """
          WITH r AS (
            SELECT doc_id,
                   printf('host%02d.example', (doc_id % 97)::INT) AS host,
                   row_number() OVER (PARTITION BY doc_id % 97
                                      ORDER BY doc_id) AS rn
            FROM documents
          ),
          q AS (
            SELECT host, count(*) AS n_quota_docs,
                   min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
            FROM r WHERE rn <= 3 GROUP BY 1
          ),
          s AS (
            SELECT printf('host%02d.example', (doc_id % 97)::INT) AS host,
                   count(*) AS n_unblocked
            FROM documents
            WHERE (doc_id % 97) % 10 <> 0
            GROUP BY 1
          )
          SELECT q.host, q.n_quota_docs, q.min_doc_id, q.max_doc_id,
                 s.n_unblocked
          FROM q LEFT JOIN s USING (host)
        """,
        "main_block": """
          WITH base AS (
            SELECT printf('https://host%02d.example/%s/%d.html',
                          (doc_id % 97)::INT, source, doc_id) AS url,
                   doc_id % 5 AS t, length(text) AS L
            FROM documents
          )
          SELECT url,
                 CASE t
                   WHEN 0 THEN 'p'
                   WHEN 1 THEN CASE WHEN L >= 15 THEN 'p' ELSE 'div' END
                   WHEN 2 THEN CASE WHEN L >= 4 THEN 'div' ELSE 'p' END
                   WHEN 3 THEN 'p'
                   ELSE 'div' END AS block_name,
                 CAST(CASE t
                   WHEN 0 THEN L
                   WHEN 1 THEN GREATEST(L, 15)
                   WHEN 2 THEN GREATEST(L, 4)
                   WHEN 3 THEN L + 25
                   ELSE L END AS INT) AS block_text_len
          FROM base
        """,
        "chunk_windows": f"""
          WITH arrs AS (SELECT doc_id, {_toks()} AS arr FROM documents),
          nz AS (SELECT doc_id, arr, len(arr) AS n FROM arrs WHERE len(arr) > 0),
          ch AS (
            SELECT doc_id, arr, n,
                   unnest(generate_series(
                     0, CASE WHEN n <= 64 THEN 0
                             ELSE ((n - 64) + 47) // 48 END)) AS chunk_id
            FROM nz
          )
          SELECT doc_id, chunk_id::INT AS chunk_id,
                 array_to_string(
                   list_slice(arr, chunk_id * 48 + 1,
                              LEAST(chunk_id * 48 + 64, n)), ' ') AS chunk_text,
                 (LEAST(chunk_id * 48 + 64, n) - chunk_id * 48)::INT AS n_tokens
          FROM ch
        """,
        "train_split": f"""
          SELECT lang,
                 CASE WHEN ({_HASH60.format(x='text')}) % 100 < 90
                      THEN 'train' ELSE 'val' END AS split,
                 count(*) AS n_docs
          FROM documents GROUP BY 1, 2
        """,
        "stream_metrics": f"""
          WITH v AS (
            SELECT doc_id, lang,
                   TIMESTAMP '2024-01-01 00:00:00'
                     + doc_id * INTERVAL 1 SECOND AS ts,
                   length({case_str}) AS n
            FROM documents
          ),
          agg AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
                   time_bucket(INTERVAL '10 minutes', ts)
                     + INTERVAL '10 minutes' AS win_end,
                   lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS chars_out
            FROM v GROUP BY 1, 2, 3
          ),
          -- the accepted 'xx' probe (30 min past corpus max event time);
          -- the too-late 'yy' probe is ABSENT on purpose: the watermark
          -- must have dropped it, and an erroneously-kept row turns this
          -- driver row red
          probe AS (
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
                   time_bucket(INTERVAL '10 minutes', ts)
                     + INTERVAL '10 minutes' AS win_end,
                   'xx' AS lang,
                   CAST(1 AS BIGINT) AS n_docs,
                   CAST(length('late probe') AS BIGINT) AS chars_out
            FROM (
              SELECT TIMESTAMP '2024-01-01 00:00:00'
                       + (max(doc_id) + 1800) * INTERVAL 1 SECOND AS ts
              FROM documents
            )
          )
          SELECT * FROM agg UNION ALL SELECT * FROM probe
        """,
        "quality_signals": f"""
          WITH rep AS ({_sql_rep_filters()}),
          pii AS ({_sql_pii_counts()}),
          lm AS ({_sql_lm_quality()})
          SELECT rep.doc_id, rep.pct_dup_tokens, rep.pct_top_2gram,
                 rep.pct_top_3gram, pii.n_emails, pii.n_urls,
                 pii.n_digit_runs, lm.n_bigrams, lm.sum_lp_micro,
                 lm.lm_bucket
          FROM rep JOIN pii ON rep.doc_id = pii.doc_id
          JOIN lm ON rep.doc_id = lm.doc_id
        """,
        "url_ops": _sql_url_ops(),
                "fingerprints": _sql_fingerprints(),
        "exact_dups": _sql_exact_dups(),
        "line_dedup": _sql_line_dedup_combined(),
        # brute and LSH+verify must produce the IDENTICAL pair set (see
        # dedup.py) — the oracle asserts the same pairs once per label;
        # 'incremental' (index probe) must find exactly the cross pairs
        # over the old/new boundary (originals < copy-id offset)
        "jaccard_pairs": f"""
          WITH p AS ({_jaccard_pairs_sql(60)})
          SELECT m.method, p.a_id, p.b_id, p.jacc_pct
          FROM p CROSS JOIN (SELECT unnest(['brute', 'lsh']) AS method) m
          UNION ALL
          SELECT 'incremental' AS method, a_id, b_id, jacc_pct FROM p
          WHERE a_id < {_dd_offset()} AND b_id >= {_dd_offset()}
        """,
        "simhash": _sql_simhash(),
        "outlinks": _sql_outlinks(),
        "host_graph": _sql_host_graph(),
        "host_pagerank": _sql_host_pagerank(),
        "inlink_texts": _sql_inlink_texts(),
        "extract_delta": _sql_extract_delta(),
        "train_export": f"""
          WITH d AS (
            SELECT doc_id,
                   CASE WHEN {_HASH60.format(x='text')} % 100 < 90
                        THEN 'train' ELSE 'val' END AS split,
                   CAST(len({_toks()}) AS BIGINT) AS n_tok
            FROM documents
            WHERE {_HASH60.format(x="'mix-' || CAST(doc_id AS VARCHAR)")} % 100
                  < 20 + (COALESCE(TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INT), 0) * 7) % 60
              AND len({_toks()}) > 0
          ),
          c AS (
            SELECT split, doc_id, n_tok,
                   COALESCE(SUM(n_tok) OVER (PARTITION BY split ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
            FROM d
          ),
          ex AS (
            SELECT split, doc_id, n_tok, off,
                   unnest(generate_series(CAST(off // 128 AS BIGINT),
                                          CAST((off + n_tok - 1) // 128 AS BIGINT))) AS pack_id
            FROM c
          )
          SELECT split, pack_id,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(SUM(LEAST((pack_id + 1) * 128, off + n_tok)
                        - GREATEST(pack_id * 128, off)) AS BIGINT) AS n_tokens
          FROM ex GROUP BY split, pack_id
        """,
        "mixture_sample": f"""
          SELECT doc_id, source,
                 CAST(20 + (COALESCE(TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INT), 0) * 7) % 60
                      AS INT) AS rate_pct
          FROM documents
          WHERE {_HASH60.format(x="'mix-' || CAST(doc_id AS VARCHAR)")} % 100
                < 20 + (COALESCE(TRY_CAST(regexp_extract(source, '(\\d+)$', 1) AS INT), 0) * 7) % 60
        """,
        # the oracle is DuckDB's NATIVE ASOF JOIN — an independent
        # implementation of the at-or-before-match semantics, not a
        # transliteration of the Spark window formulation
        "asof_join": """
          WITH clicks AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
          ),
          views AS (
            SELECT user_id, ts, event_id FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id, ts ORDER BY event_id DESC) AS rk
              FROM events WHERE event_type = 'view'
            ) WHERE rk = 1
          )
          SELECT c.event_id, c.user_id, v.event_id AS view_event_id,
                 CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
          FROM clicks c ASOF LEFT JOIN views v
            ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "top_terms": f"""
          WITH toks AS (
            SELECT source, unnest({_toks()}) AS term FROM documents
          ),
          per_doc AS (
            SELECT DISTINCT doc_id, unnest({_toks()}) AS term FROM documents
          ),
          stop AS (
            SELECT term FROM per_doc GROUP BY term
            HAVING count(*) * 100 > (SELECT count(*) FROM documents) * 50
          ),
          counts AS (
            SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM toks
            WHERE term NOT IN (SELECT term FROM stop)
            GROUP BY source, term
          )
          SELECT source, term, cnt, CAST(rk AS INT) AS rk FROM (
            SELECT *, row_number() OVER (
              PARTITION BY source ORDER BY cnt DESC, term ASC) AS rk
            FROM counts
          ) WHERE rk <= 10
        """,
        # flat single-window cumsum formulation of the hierarchical
        # prefix-sum packing (functions/packing.py) — identical semantics
        "pack_sequences": f"""
          WITH d AS (
            SELECT doc_id, CAST(len({_toks()}) AS BIGINT) AS n_tok FROM documents
            WHERE len({_toks()}) > 0
          ),
          c AS (
            SELECT doc_id, n_tok,
                   COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
            FROM d
          ),
          ex AS (
            SELECT doc_id, n_tok, off,
                   unnest(generate_series(CAST(off // 128 AS BIGINT),
                                          CAST((off + n_tok - 1) // 128 AS BIGINT))) AS pack_id
            FROM c
          )
          SELECT pack_id,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(SUM(LEAST((pack_id + 1) * 128, off + n_tok)
                        - GREATEST(pack_id * 128, off)) AS BIGINT) AS n_tokens,
                 min(doc_id) AS min_doc, max(doc_id) AS max_doc
          FROM ex GROUP BY pack_id
        """,
        "dedup_clusters": f"""
          WITH RECURSIVE pairs AS ({_jaccard_pairs_sql(60)}),
          edges AS (
            SELECT a_id AS u, b_id AS v FROM pairs
            UNION
            SELECT b_id AS u, a_id AS v FROM pairs
          ),
          reach(u, c) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
            UNION
            SELECT e.v, r.c FROM reach r JOIN edges e ON e.u = r.u
          )
          SELECT u AS doc_id, min(c) AS cluster_id,
                 CAST(min(c) = u AS INT) AS keep
          FROM reach GROUP BY u
        """,
        "cosine_topk": _sql_cosine_topk(),
        # ann_lsh / ann_ivf report exact per-query INVARIANTS of the
        # approximate top-k (k rows per query, distinct known non-self
        # neighbors, contiguous ranks) — deterministic at every shipped
        # sf, so fully oracled; result quality is ann_recall's floor
        "ann_lsh": """
          SELECT vec_id AS query_id,
                 5::BIGINT AS n_neighbors, 5::BIGINT AS n_distinct,
                 5::BIGINT AS n_known_ids, 0::BIGINT AS n_self,
                 5::BIGINT AS max_rank, 5::BIGINT AS n_ranks
          FROM embeddings WHERE vec_id % 50 = 0
        """,
        "ann_ivf": """
          SELECT vec_id AS query_id,
                 5::BIGINT AS n_neighbors, 5::BIGINT AS n_distinct,
                 5::BIGINT AS n_known_ids, 0::BIGINT AS n_self,
                 5::BIGINT AS max_rank, 5::BIGINT AS n_ranks
          FROM embeddings WHERE vec_id % 50 = 0
        """,
        "ann_recall": """
          WITH q AS (SELECT count(*) AS nq FROM embeddings WHERE vec_id % 50 = 0)
          SELECT 'ivf' AS method, CAST(nq AS BIGINT) AS n_queries,
                 1 AS meets_floor FROM q
          UNION ALL
          SELECT 'lsh', CAST(nq AS BIGINT), 1 FROM q
        """,
        "embedding_dups": _sql_embedding_dups(),
        "media_pipeline": f"""
          SELECT m.*, r.width_out, r.height_out, r.n_bytes_out
          FROM ({_sql_media_meta()}) m
          LEFT JOIN (
            SELECT doc_id, 64 AS width_out, 64 AS height_out,
                   512 AS n_bytes_out
            FROM documents WHERE doc_id % 3 = 0
          ) r USING (doc_id)
        """,
        "media_analysis": f"""
          SELECT doc_id, 'frame' AS part, frame_idx AS idx,
                 CAST(n_bytes AS BIGINT) AS ival,
                 CAST(NULL AS DOUBLE) AS dval
          FROM ({_sql_media_frames()})
          UNION ALL
          SELECT doc_id, 'feat', dim_idx, CAST(NULL AS BIGINT), val
          FROM ({_sql_media_features()})
        """,
        "curate_corpus": f"""
          WITH mt AS (
            SELECT url, value AS text FROM ({_sql_extract("main_text")})
            UNION ALL
            SELECT url || '?dup' AS url, value AS text
            FROM ({_sql_extract("main_text")} WHERE doc_id % 11 = 0)
          ),
          q AS ({_sql_quality("mt", "url")}),
          kept AS (SELECT * FROM q WHERE quality >= 60),
          d AS (
            SELECT url, n_tokens, quality,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY url) AS rk
            FROM kept
          )
          SELECT url, n_tokens::INT AS n_tokens, quality::INT AS quality
          FROM d WHERE rk = 1
        """,
        "pdf_parse": f"""
          WITH nz AS (
            SELECT doc_id, {_toks()} AS arr, len({_toks()}) AS n
            FROM documents WHERE len({_toks()}) > 0
          ),
          pages AS (
            SELECT doc_id, arr, n,
                   unnest(generate_series(0, (n-1)//{50})) AS page_no
            FROM nz
          ),
          pt AS (
            SELECT doc_id, page_no,
                   list_slice(arr, page_no*{50}+1, LEAST((page_no+1)*{50}, n)) AS ptoks
            FROM pages
          ),
          blocks AS (
            SELECT doc_id, page_no, ptoks,
                   unnest(generate_series(0, (len(ptoks)-1)//{10})) AS block_no
            FROM pt
          )
          SELECT doc_id, page_no::INT AS page_no, block_no::INT AS block_no,
                 CASE WHEN block_no = 0 THEN 'heading' ELSE 'para' END AS kind,
                 array_to_string(list_slice(ptoks, block_no*{10}+1,
                                 LEAST((block_no+1)*{10}, len(ptoks))), ' ') AS text,
                 72 AS x0, (block_no*60)::INT AS y0, 540 AS x1,
                 (block_no*60+48)::INT AS y1
          FROM blocks
          UNION ALL
          SELECT doc_id, page_no::INT, ((len(ptoks)-1)//{10} + 1)::INT,
                 'footer', 'p' || (page_no+1), 72, 700, 540, 712
          FROM pt
          UNION ALL
          -- reading-order main text packed as kind='main_text' rows
          -- (page_no = n_pages, block_no = -1, zero bbox — see
          -- _q_pdf_parse)
          SELECT doc_id, ((len({_toks()})-1)//{50} + 1)::INT, -1,
                 'main_text', array_to_string({_toks()}, ' '),
                 0, 0, 0, 0
          FROM documents WHERE len({_toks()}) > 0
        """,
        "host_topk": _sql_host_topk(),
        "sessions_batch": """
          WITH marked AS (
            -- microsecond gap arithmetic (epoch_us), matching the Spark
            -- side's unix_micros: whole-second truncation would
            -- split/merge differently on sub-second margins
            SELECT user_id, ts,
                   CASE WHEN COALESCE(
                       epoch_us(ts) - epoch_us(lag(ts) OVER w),
                       1800000001) > 1800000000
                   THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
          ),
          sessed AS (
            SELECT user_id, ts,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked
          )
          SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                 count(*)::INT AS n_events
          FROM sessed GROUP BY user_id, sess_id
        """,
        "stream_extract": _sql_extract("content_str"),
        "events_hourly": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, "
            "count(*) AS n_events, min(event_id) AS min_event_id, "
            "max(event_id) AS max_event_id FROM events GROUP BY 1, 2"
        ),
        "orders_segment": (
            "SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders, "
            "min(o_orderkey) AS min_orderkey, max(o_orderkey) AS max_orderkey "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2"
        ),
        "lineitem_pricing": """
          SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                 CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
                 CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
                 CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
                 MIN(l_orderkey) AS min_orderkey,
                 MAX(l_orderkey) AS max_orderkey
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          GROUP BY 1, 2
        """,
    }
