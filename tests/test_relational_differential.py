"""Cross-tier differential: the RELATIONAL query tier (node_table +
Catalyst predicates, operators/nodes.py) vs the vendored REFERENCE parser
on the malformed-snippet corpus plus seeded junk-HTML fuzz.

This closes the evidence triangle: engine↔reference is pinned by the
differential suites, driver-queries↔DuckDB by the oracle harness — here
the exploded node table and the codegen'd ``_is_almost_equal`` translation
are checked directly against reference ``find``/descendant/wfind results,
document by document.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dhtmlparser3_spark.operators.nodes import (
    descendant_join,
    find_tags,
    node_table,
    wfind_chain,
)
from tests.corpus import SNIPPETS

ALPHABET = list("<>&;/=\"' \t\nabAB#1-!")


def _fuzz_docs(n: int, seed: int = 7, size: int = 60) -> list:
    rng = random.Random(seed)
    return [
        "".join(rng.choice(ALPHABET) for _ in range(rng.randrange(5, size)))
        for _ in range(n)
    ]


DOCS = list(SNIPPETS) + _fuzz_docs(250)


@pytest.fixture(scope="module")
def nodes(spark):
    rows = [(f"d{i}", bytearray(d.encode("utf-8"))) for i, d in enumerate(DOCS)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    nt = node_table(
        pages,
        fields=["node_id", "parent_id", "kind", "name", "attrs", "subtree_end"],
    ).cache()
    nt.count()
    return nt


FIND_PROBES = [
    ("div", None, False),
    ("", None, False),  # wildcard: every tag incl. an empty-name root
    ("B", None, True),  # case-sensitive name
    ("b", None, False),
    ("a", {"b": "1"}, False),  # param subset, ci key / exact value
]


@pytest.mark.spark
def test_relational_find_matches_reference(spark, ref, nodes):
    for name, p, cs in FIND_PROBES:
        got = {
            r.url: r.n
            for r in find_tags(nodes, name, p, cs)
            .groupBy("url")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for i, d in enumerate(DOCS):
            try:
                want = len(ref.parse(d).find(name, p, case_sensitive=cs))
            except Exception:  # noqa: BLE001 — ref raises ⇒ our row is NULL
                want = 0
            assert got.get(f"d{i}", 0) == want, (
                f"find({name!r}, {p!r}, cs={cs}) on doc {i}: "
                f"{got.get(f'd{i}', 0)} vs {want} for {d!r}"
            )


@pytest.mark.spark
def test_relational_descendants_match_reference(spark, ref, nodes):
    pairs = descendant_join(
        nodes,
        (F.col("kind") == 1) & (F.lower(F.col("name")) == "b"),
        (F.col("kind") == 1) & (F.lower(F.col("name")) == "b"),
    )
    got = {
        r.url: r.n
        for r in pairs.groupBy("url").agg(F.count("*").alias("n")).collect()
    }
    for i, d in enumerate(DOCS):
        try:
            dom = ref.parse(d)
        except Exception:  # noqa: BLE001
            assert got.get(f"d{i}", 0) == 0
            continue
        want = 0
        for anc in dom.find("b"):
            want += sum(1 for x in anc.find("b") if x is not anc)
        assert got.get(f"d{i}", 0) == want, f"descendants on doc {i}: {d!r}"


@pytest.mark.spark
def test_relational_wfind_matches_reference(spark, ref, nodes):
    chain = ["a", "b"]
    got = {
        r.url: r.n
        for r in wfind_chain(nodes, chain)
        .groupBy("url")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for i, d in enumerate(DOCS):
        try:
            dom = ref.parse(d)
        except Exception:  # noqa: BLE001
            assert got.get(f"d{i}", 0) == 0
            continue
        want = len(dom.wfind("a").wfind("b").content)
        assert got.get(f"d{i}", 0) == want, f"wfind chain on doc {i}: {d!r}"


@pytest.mark.spark
def test_node_table_arrow_parity(spark):
    """node_table (mapInArrow) rows equal driver-side flatten_nodes over
    ALL node fields on the malformed corpus + poison docs (out-of-range
    entity → no rows)."""
    from dhtmlparser3_spark.engine.dom import parse_arena
    from dhtmlparser3_spark.functions.extract import (
        NODE_FIELD_TYPES,
        decode_html,
        flatten_nodes,
    )

    docs = DOCS[:80] + ["<p>x &#1114112; y</p>", ""]
    rows = [(f"d{i}", bytearray(d.encode("utf-8"))) for i, d in enumerate(docs)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    nt = node_table(pages)
    assert nt.columns == ["url"] + list(NODE_FIELD_TYPES)
    got = [tuple(r.asDict(recursive=True).values()) for r in nt.collect()]
    want = []
    for url, h in rows:
        try:
            a = parse_arena(decode_html(h))
        except Exception:  # poison doc: no node rows
            continue
        want += [(url,) + tuple(n.values()) for n in flatten_nodes(a)]
    by_key = lambda t: t[:2]  # (url, node_id)
    assert sorted(got, key=by_key) == sorted(want, key=by_key)
    # poison doc contributes zero node rows
    assert f"d{len(docs) - 2}" not in {t[0] for t in got}
