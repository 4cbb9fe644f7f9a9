"""Connected-components tests vs networkx (SURVEY.md §5.4, FIXTURES.md §A4)."""

from types import SimpleNamespace

import networkx as nx
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from codingchallenge_spark.operators import cc
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


# Driver-edge bounds forcing the two closure paths: every graph closed on
# the driver, and distributed rounds to the star fixpoint.
BOUNDS = (10**9, 0)


def _run_cc(spark, edges, nodes, bound, **kw):
    edf = spark.createDataFrame(
        edges or [("__none__", "__none__")], ["src", "dst"]
    )
    ndf = spark.createDataFrame([(n,) for n in nodes], ["rid"])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cc, "_driver_edge_bound", lambda _spark: bound)
        res = connected_components(edf, nodes=ndf, **kw)
        return {r.rid: r.entity_id for r in res.labels.collect()}, res


edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=0, max_size=80
)


@given(edge_lists)
@settings(max_examples=12, deadline=None)
def test_cc_matches_networkx(spark, raw):
    edges = [(f"n{a:02d}", f"n{b:02d}") for a, b in raw]
    nodes = sorted({x for e in edges for x in e} | {"n00", "n41"})
    want = _nx_labels(edges, nodes)
    for bound in BOUNDS:
        got, _ = _run_cc(spark, edges, nodes, bound)
        assert got == want, bound


def test_cc_chain_and_isolated(spark):
    # A long chain stresses the O(log n) alternation; isolates self-label.
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(30)]
    nodes = [f"c{i:03d}" for i in range(31)] + ["iso1", "iso2"]
    driver, rounds = (_run_cc(spark, chain, nodes, b) for b in BOUNDS)
    for got, res in (driver, rounds):
        assert got == _nx_labels(chain, nodes)
        assert res.converged
    assert driver[1].iterations == 0
    # log2(31) ≈ 5 — alternation must not need anywhere near 31 rounds.
    assert 1 <= rounds[1].iterations <= 10


def test_cc_collects_nothing_above_bound(spark, monkeypatch):
    """Above the bound the gate only counts: no edge reaches the driver."""
    collects = []
    frame = type(spark.range(1))
    monkeypatch.setattr(frame, "toArrow", lambda self: collects.append(self))
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(30)]
    nodes = [f"c{i:03d}" for i in range(31)]
    got, res = _run_cc(spark, chain, nodes, 29)
    assert got == _nx_labels(chain, nodes)
    assert res.iterations >= 1 and collects == []


def test_driver_edge_bound_takes_smaller_limit(spark):
    """The bound is min(maxResultSize, driver.memory) over the per-edge
    budget, with a maxResultSize of 0 meaning unlimited."""

    def bound(**conf):
        jconf = spark._jvm.org.apache.spark.SparkConf(False)
        for k, v in conf.items():
            jconf.set(f"spark.driver.{k}", v)
        ctx = SimpleNamespace(_jsc=SimpleNamespace(getConf=lambda: jconf))
        return cc._driver_edge_bound(SimpleNamespace(sparkContext=ctx))

    per_gb = 2**30 // cc._DRIVER_BYTES_PER_EDGE
    assert bound(maxResultSize="2g", memory="8g") == 2 * per_gb
    assert bound(maxResultSize="2g") == per_gb  # spark-submit's 1g default heap
    assert bound(maxResultSize="0", memory="4g") == 4 * per_gb


def test_cc_binary_ids_take_unsigned_min(spark):
    """Binary rids order bytewise unsigned on both paths, as Spark's min
    does: 0x7f… labels the component, not 0x80… (the signed-byte min)."""
    lo, mid, hi = b"\x7f" * 32, b"\x80" * 32, b"\xff" * 32
    edf = spark.createDataFrame([(mid, lo), (hi, mid)], "src binary, dst binary")
    want = bytes(
        edf.select(F.least("src", "dst").alias("m")).agg(F.min("m")).first()[0]
    )
    assert want == lo
    for bound in BOUNDS:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cc, "_driver_edge_bound", lambda _spark: bound)
            labels = connected_components(edf).labels
            got = {bytes(r.rid): bytes(r.entity_id) for r in labels.collect()}
        assert got == {lo: want, mid: want, hi: want}, bound


def test_cc_writes_no_session_conf(spark, monkeypatch):
    """CC runs beside other stage branches on one session, so it must not
    write session conf (an AQE toggle would re-plan the other branch)."""
    writes = []
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: writes.append(k))
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(30)]
    for bound in BOUNDS:
        got, _ = _run_cc(spark, chain, [f"c{i:03d}" for i in range(31)], bound)
        assert got == _nx_labels(chain, [])
    assert writes == []


def test_cc_raises_at_iteration_cap(spark):
    """One round cannot collapse the 31-node chain into stars: with no
    driver finish, CC must raise rather than return min-labels that are not
    the transitive closure."""
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(30)]
    with pytest.raises(RuntimeError, match=r"max_iterations=1: \d+ live edges"):
        _run_cc(spark, chain, ["c000"], 0, max_iterations=1)


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
    for bound in BOUNDS:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cc, "_driver_edge_bound", lambda _spark: bound)
            res = connected_components(edf, nodes=ndf)
            got = {r.rid: r.entity_id for r in res.labels.collect()}
        assert got == {"a": "a", "b": "b"}, bound
