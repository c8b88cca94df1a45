"""Three-engine tokenization equivalence + map-side winnowing parity.

The dedup/fingerprint operators hinge on ONE tokenizer implemented three
ways (Spark ``tokens_col``, Python ``token_list``, DuckDB ``_toks()``);
this file pins byte-equality on the whitespace edges where the engines'
regex dialects differ (Java/Python \\s include \\x0b, DuckDB's RE2 does
not — the oracle pattern compensates with [\\s\\x0b]+), and checks the
Arrow-UDF winnowing against the relational DuckDB derivation on the same
edge corpus.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from dhtmlparser3_spark.functions.textops import token_list, winnow_list

EDGE_TEXTS = [
    "plain words here ok",
    "",
    " ",
    "  double  spaces  ",
    "\tleading tab",
    "trailing newline\n",
    "inner\ttab and\nnewline",
    "vertical\x0btab",
    "\x0b",
    "nbsp\xa0is not whitespace",
    "\r carriage \r\n returns \r",
    "one",
    "a b c d e f g h i j k l m n o p",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql("CREATE TABLE edge(id INT, text VARCHAR)")
    for i, t in enumerate(EDGE_TEXTS):
        con.execute("INSERT INTO edge VALUES (?, ?)", [i, t])
    return con


def test_token_twins_on_whitespace_edges(spark, duck):
    from pyspark.sql import functions as F

    from dhtmlparser3_spark.functions.textops import tokens_col

    sdf = spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "id int, text string"
    )
    spark_toks = {
        r.id: list(r.toks)
        for r in sdf.select("id", tokens_col("text").alias("toks")).collect()
    }
    duck_toks = {
        i: list(t)
        for i, t in duck.sql(
            f"SELECT id, {entrymod._toks()} FROM edge"
        ).fetchall()
    }
    for i, text in enumerate(EDGE_TEXTS):
        py = token_list(text)
        assert spark_toks[i] == py, f"spark vs py on {text!r}"
        assert duck_toks[i] == py, f"duckdb vs py on {text!r}"


def test_winnow_matches_duckdb_relational(duck):
    """Map-side winnow_list == the oracle's posexplode/window derivation."""
    sql = entrymod._sql_fingerprints(k=3, window=2).replace(
        "FROM documents", "FROM edge"
    ).replace("doc_id", "id")
    want: dict[int, set] = {}
    for i, fp in duck.sql(sql).fetchall():
        want.setdefault(i, set()).add(fp)
    for i, text in enumerate(EDGE_TEXTS):
        got = set(winnow_list(text, k=3, window=2))
        assert got == want.get(i, set()), f"winnow mismatch on {text!r}"


def test_shingle_twin_on_edges(duck):
    from dhtmlparser3_spark.functions.dedup import _shingle_list

    sql = f"""
      WITH arrs AS (SELECT id, {entrymod._toks()} AS arr FROM edge)
      SELECT id,
             [array_to_string(list_slice(arr, i, i + 2), ' ')
              for i in generate_series(1, len(arr) - 2)] AS shs
      FROM arrs WHERE len(arr) >= 3
    """
    want = {i: list(dict.fromkeys(s)) for i, s in duck.sql(sql).fetchall()}
    for i, text in enumerate(EDGE_TEXTS):
        got = _shingle_list(text, 3)
        assert got == want.get(i, []), f"shingle mismatch on {text!r}"


@pytest.mark.spark
def test_shingle_arrays_arrow_parity(spark):
    """shingle_arrays (mapInArrow) rows equal the Python twin
    _shingle_list per text, including empty-shingle docs and
    whitespace-edged texts."""
    from dhtmlparser3_spark.functions.dedup import _shingle_list, shingle_arrays

    rows = [
        (0, "a b c d e f"),
        (1, "a b"),            # < n tokens -> empty list
        (2, ""),
        (3, "\tx y z  w\n"),
        (4, "a b c a b c a b c"),  # duplicate shingles -> distinct-first
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: list(r.shs) for r in shingle_arrays(df, n=3).collect()}
    assert got == {i: _shingle_list(t, 3) for i, t in rows}
    assert got[1] == [] and got[4] == ["a b c", "b c a", "c a b"]


@pytest.mark.spark
def test_bucket_cap_bounds_degenerate_corpus(spark):
    """A degenerate corpus (every doc near-identical → one LSH bucket)
    must not expand an unbounded quadratic pair array: cap_buckets keeps
    the lowest ``cap`` members and reports overflow accounting on the
    same pass (no silent caps)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dhtmlparser3_spark.functions.dedup import minhash_lsh_pairs

    n_docs, cap = 40, 8
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        # identical token stream per doc → identical shingles → every
        # band hashes every doc into the same bucket
        F.lit("alpha beta gamma delta epsilon zeta eta theta").alias("text"),
    )
    obs = Observation("lsh_cap")
    pairs = minhash_lsh_pairs(
        docs, n=3, tau_pct=60, bucket_cap=cap, observation=obs
    ).collect()
    got_ids = {r.a_id for r in pairs} | {r.b_id for r in pairs}
    # bounded: only the cap lowest doc_ids can pair up
    assert got_ids == set(range(cap))
    assert len(pairs) == cap * (cap - 1) // 2
    metrics = obs.get
    assert metrics["n_overflow_buckets"] > 0, metrics
    assert metrics["n_buckets"] >= metrics["n_overflow_buckets"]

    # bucket_cap=None DISABLES the bound (full recall over all 40 docs,
    # caller owns the risk); the observation still reports would-be
    # overflow vs the DEFAULT cap (1024 — not exceeded by 40 members)
    obs2 = Observation("lsh_uncapped")
    uncapped = minhash_lsh_pairs(
        docs, n=3, tau_pct=60, bucket_cap=None, observation=obs2
    ).collect()
    assert len(uncapped) == n_docs * (n_docs - 1) // 2
    assert obs2.get["n_overflow_buckets"] == 0, obs2.get


@pytest.mark.spark
def test_bucket_cap_default_observation_warns(spark):
    """With NO caller-supplied observation, cap_buckets still accounts
    overflow: the producing function re-attaches a default observation to
    its final DataFrame and overflow_counts() reports + warns post-action
    — a truncating corpus is never silent (ADVICE r3)."""
    import warnings

    from pyspark.sql import functions as F

    from dhtmlparser3_spark.functions.dedup import (
        minhash_lsh_pairs,
        overflow_counts,
        simhash_pairs,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta eta theta").alias("text"),
    )
    pairs = minhash_lsh_pairs(docs, n=3, tau_pct=60, bucket_cap=8)
    pairs.count()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = overflow_counts(pairs)
    assert got["n_overflow_buckets"] > 0
    assert any("truncated" in str(x.message) for x in w)

    # simhash path carries the observation too; a healthy corpus (cap not
    # hit) reports zero overflow and no warning
    sp = simhash_pairs(docs.limit(5), n=3)
    sp.count()
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        got2 = overflow_counts(sp)
    assert got2 is not None and got2["n_overflow_buckets"] == 0
    assert not w2
    # a frame that never went through cap_buckets has nothing attached
    assert overflow_counts(docs) is None

    # cap=None: counts report would-be overflow vs the DEFAULT cap but
    # NOTHING was sliced — no truncation warning may fire (recall is
    # exact; a false warning would tell operators they lost recall)
    unc = minhash_lsh_pairs(docs, n=3, tau_pct=60, bucket_cap=None)
    unc.count()
    with warnings.catch_warnings(record=True) as w3:
        warnings.simplefilter("always")
        got3 = overflow_counts(unc)
    assert got3 is not None
    assert not w3, [str(x.message) for x in w3]


@pytest.mark.spark
def test_bucket_cap_inactive_below_cap(spark, duck):
    """With the default cap the sf0.001 dedup-corpus LSH output is
    byte-identical to the uncapped brute oracle (the cap must never fire
    on healthy buckets — asserted via the overflow accounting)."""
    from pyspark.sql import Observation

    from dhtmlparser3_spark.functions.dedup import dedup_corpus, minhash_lsh_pairs

    obs = Observation("lsh_nocap")
    corpus = dedup_corpus(spark, "/root/testdata/sf0.001")
    pairs = minhash_lsh_pairs(corpus, n=3, tau_pct=60, observation=obs)
    n = pairs.count()
    assert n > 0
    assert obs.get["n_overflow_buckets"] == 0, obs.get
