"""Connected-components tests vs networkx (SURVEY.md §5.4, FIXTURES.md §A4)."""

import networkx as nx
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from codingchallenge_spark.operators.cc import (
    connected_components,
    large_star,
    small_star,
)


def _nx_labels(edges, nodes):
    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(edges)
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for n in comp:
            out[n] = m
    return out


def _run_cc(spark, edges, nodes):
    edf = spark.createDataFrame(
        edges or [("__none__", "__none__")], ["src", "dst"]
    )
    ndf = spark.createDataFrame([(n,) for n in nodes], ["rid"])
    res = connected_components(edf, nodes=ndf)
    return {r.rid: r.entity_id for r in res.labels.collect()}, res


edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=0, max_size=80
)


@given(edge_lists)
@settings(max_examples=12, deadline=None)
def test_cc_matches_networkx(spark, raw):
    edges = [(f"n{a:02d}", f"n{b:02d}") for a, b in raw]
    nodes = sorted({x for e in edges for x in e} | {"n00", "n41"})
    got, _ = _run_cc(spark, edges, nodes)
    want = _nx_labels(edges, nodes)
    assert got == want


def test_cc_chain_and_isolated(spark):
    # A long chain stresses the O(log n) alternation; isolates self-label.
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(30)]
    nodes = [f"c{i:03d}" for i in range(31)] + ["iso1", "iso2"]
    got, res = _run_cc(spark, chain, nodes)
    assert got == _nx_labels(chain, nodes)
    assert res.converged
    # log2(31) ≈ 5 — alternation must not need anywhere near 31 rounds.
    assert res.iterations <= 10


def test_cc_raises_at_iteration_cap(spark):
    """One round cannot collapse the 31-node chain into stars: CC must raise
    rather than return min-labels that are not the transitive closure."""
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(30)]
    edf = spark.createDataFrame(chain, ["src", "dst"])
    with pytest.raises(RuntimeError, match=r"max_iterations=1: \d+ live edges"):
        connected_components(edf, max_iterations=1)


def test_star_steps_preserve_components(spark):
    edges = [("a", "b"), ("b", "c"), ("d", "e"), ("x", "a")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for step in (large_star, small_star):
        out = step(df).collect()
        g1 = nx.Graph(edges)
        g2 = nx.Graph([(r.src, r.dst) for r in out])
        g2.add_nodes_from(g1.nodes)
        c1 = {frozenset(c) for c in nx.connected_components(g1)}
        c2 = {frozenset(c) for c in nx.connected_components(g2)}
        assert c1 == c2


def test_star_set_fixpoint_test(spark):
    """_is_star_set is the exact convergence predicate: true only for a
    disjoint union of min-centered stars (canonical src<dst edges)."""
    from codingchallenge_spark.operators.cc import _is_star_set

    def check(edges):
        if not edges:
            return _is_star_set(
                spark.createDataFrame([], "src string, dst string")
            )
        return _is_star_set(spark.createDataFrame(edges, ["src", "dst"]))

    assert check([("a", "b"), ("a", "c")])            # one star
    assert check([("a", "b"), ("c", "d")])            # two disjoint stars
    assert check([])                                   # empty set = converged
    assert not check([("a", "b"), ("b", "c")])        # b is src and dst: chain
    assert not check([("a", "x"), ("b", "x")])        # x in two stars
    assert not check([("a", "b"), ("a", "b")])        # duplicate edge rows


def test_cc_empty_edges(spark):
    ndf = spark.createDataFrame([("a",), ("b",)], ["rid"])
    edf = spark.createDataFrame([], "src string, dst string")
    res = connected_components(edf, nodes=ndf)
    got = {r.rid: r.entity_id for r in res.labels.collect()}
    assert got == {"a": "a", "b": "b"}
