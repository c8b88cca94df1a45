"""Relational tier: the DOM as a flat node table + Catalyst-native find().

``find``-style queries that only touch names/attributes don't need Python:
explode the per-document node array into a (url, node…) table and express
``_is_almost_equal`` (tag.py:383-420) as codegen'd predicates:

* name match     → ``lower(name) = lit`` (or exact when case_sensitive),
* ``""`` wildcard → no predicate,
* param subset   → EXISTS over the attrs array with case-insensitive key,
  exact value (SpecialDict lookup semantics),
* pre-order/doc order is the ``node_id`` column (stable sort key),
* descendant containment is the interval test
  ``anc.node_id < d.node_id AND d.node_id < anc.subtree_end`` — a range
  join, no recursion, AQE-splittable.

``fn=lambda`` predicates do NOT relationalize — they stay in the UDF tier
(engine.query), by design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dhtmlparser3_spark.functions.extract import (
    NODE_FIELD_TYPES,
    make_nodes_arrow_iterator,
    node_schema,
)

KIND_TEXT, KIND_TAG, KIND_COMMENT = 0, 1, 2


def node_table(pages: DataFrame, key_col: str = "url", fields=None) -> DataFrame:
    """Exploded node table: one row per DOM node per document; ``fields``
    selects a subset of the node struct (default: all) — Catalyst can't
    push column pruning through the Python map, so callers that only need
    (kind, name) shouldn't pay for attrs/text construction + Arrow
    transfer.

    One ``mapInArrow`` pass (functions/extract.make_nodes_arrow_iterator)
    ships only (key_col, html) to the worker, which assembles the node
    struct as flat Arrow child arrays + offsets per byte-bounded slice
    and re-emits the key column zero-copy.  Unparseable documents
    (reference-parity parse errors) contribute no rows."""
    flds = list(fields) if fields else list(NODE_FIELD_TYPES)
    with_nodes = pages.select(key_col, "html").mapInArrow(
        make_nodes_arrow_iterator(flds, passthrough=(key_col,)),
        schema=f"{key_col} string, nodes {node_schema(flds)}",
    )
    # explode_outer + post-filter, NOT plain explode: Catalyst infers a
    # size(udf(..)) > 0 filter BELOW a non-outer Generate and evaluates the
    # parse UDF twice per document (PLANS.md §6b; pinned by
    # tests/test_plan_shapes.py::test_outlinks_plan_single_parse)
    return (
        with_nodes
        .select(key_col, F.explode_outer("nodes").alias("n"))
        .where(F.col("n").isNotNull())
        .select(key_col, *[F.col(f"n.{f}").alias(f) for f in flds])
    )


def match_predicate(
    name: str = "", p: dict | None = None, case_sensitive: bool = False
) -> Column:
    """Catalyst translation of _is_almost_equal for tag rows."""
    cond = F.col("kind") == KIND_TAG
    if name:
        if case_sensitive:
            cond = cond & (F.col("name") == name)
        else:
            cond = cond & (F.lower(F.col("name")) == name.lower())
    for k, v in (p or {}).items():
        key = k.lower()
        cond = cond & F.exists(
            F.col("attrs"),
            lambda a: (F.lower(a["key"]) == key) & (a["value"] == v),
        )
    return cond


def find_tags(
    nodes: DataFrame,
    name: str = "",
    p: dict | None = None,
    case_sensitive: bool = False,
) -> DataFrame:
    """Relational find(): matching tag rows in document order (node_id =
    pre-order rank, find includes the root itself like the reference)."""
    return nodes.where(match_predicate(name, p, case_sensitive))


def wfind_chain(
    nodes: DataFrame,
    names: list,
    key_col: str = "url",
) -> DataFrame:
    """Relational ``wfind``/``match_paths`` (tag.py:222-238, 283-313): the
    first step matches anywhere (plain find), every later step matches
    DIRECT CHILDREN of the previous frontier — expressed as iterated
    parent_id equi-joins (per-document hash joins, no tree traversal).
    Returns the final frontier's rows.  Requires fields
    (node_id, parent_id, kind, name)."""
    cur = nodes.where(match_predicate(names[0])).select(
        key_col, F.col("node_id").alias("node_id")
    )
    for nm in names[1:]:
        child = nodes.where(match_predicate(nm)).select(
            key_col,
            F.col("node_id").alias("c_id"),
            F.col("parent_id").alias("c_parent"),
        )
        cur = (
            cur.join(child, key_col)
            .where(F.col("c_parent") == F.col("node_id"))
            .select(key_col, F.col("c_id").alias("node_id"))
        )
    return cur


def descendant_join(
    nodes: DataFrame,
    anc: Column,
    desc: Column,
    key_col: str = "url",
) -> DataFrame:
    """Pairs (ancestor, descendant) via pre-order interval containment.

    Returns ancestor rows prefixed ``a_`` joined to descendant rows ``d_``.
    Equi-key on the document + range predicate — Spark executes this as a
    per-document hash join with a codegen'd filter; no tree traversal.
    """
    a = nodes.where(anc).select(
        F.col(key_col),
        F.col("node_id").alias("a_node_id"),
        F.col("subtree_end").alias("a_subtree_end"),
        F.col("name").alias("a_name"),
    )
    d = nodes.where(desc).select(
        F.col(key_col),
        F.col("node_id").alias("d_node_id"),
        F.col("name").alias("d_name"),
    )
    return a.join(d, key_col).where(
        (F.col("d_node_id") > F.col("a_node_id"))
        & (F.col("d_node_id") < F.col("a_subtree_end"))
    )
