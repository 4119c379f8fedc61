"""PageRank invariants: mass conservation, determinism, convergence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k_means_map_reduce_spark.operators.graph import (
    _partsupp_edges,
    pagerank,
)
from k_means_map_reduce_spark.registry import QUERIES


def test_pagerank_mass_and_convergence(spark, sf_dir):
    """With no dangling nodes, total rank mass == n_nodes after every
    round (teleport injects (1-d)·n, walks redistribute d·n); and ranks
    must be converging (successive-round L1 delta shrinks)."""
    edges = _partsupp_edges(spark, sf_dir).persist()
    n_nodes = edges.select("src").distinct().count()
    r5 = {r["node"]: r["rank"] for r in pagerank(edges, rounds=5).collect()}
    r6 = {r["node"]: r["rank"] for r in pagerank(edges, rounds=6).collect()}
    r10 = {r["node"]: r["rank"] for r in pagerank(edges, rounds=10).collect()}
    for ranks in (r5, r10):
        assert abs(sum(ranks.values()) - n_nodes) < 1e-6 * n_nodes
    d65 = sum(abs(r6[n] - r5[n]) for n in r5)
    d10 = {r["node"]: r["rank"] for r in pagerank(edges, rounds=9).collect()}
    d109 = sum(abs(r10[n] - d10[n]) for n in r10)
    assert d109 < d65, (d109, d65)


def test_pagerank_query_shape_and_determinism(spark, sf_dir):
    rows1 = QUERIES["graph_pagerank_partsupp"](spark, sf_dir).collect()
    rows2 = QUERIES["graph_pagerank_partsupp"](spark, sf_dir).collect()
    assert {(r["entity"], r["entity_key"], r["rank"]) for r in rows1} == {
        (r["entity"], r["entity_key"], r["rank"]) for r in rows2
    }
    assert {r["entity"] for r in rows1} == {"part", "supplier"}
    assert all(r["rank"] > 0 for r in rows1)


def test_ktruss_releases_pins_when_a_step_raises(spark, sf_dir, monkeypatch):
    """The k-truss peel pins its wave/dec frames; a step that raises after
    the first pin must still leave no pinned storage behind."""
    from k_means_map_reduce_spark._memo import named_memo
    from k_means_map_reduce_spark.operators import graph

    named_memo("graph.ktruss").clear()  # a memo hit would skip the peel
    graph._edge_support_full(spark, sf_dir)  # memoized input, built outside
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    pinned_at_raise = []

    def boom(*_args):
        pinned_at_raise.append(jsc.getPersistentRDDs().size())
        raise RuntimeError("injected k-truss step failure")

    monkeypatch.setattr(graph, "_full_triangle_list", boom)
    with pytest.raises(RuntimeError, match="injected"):
        graph.graph_ktruss_edges(spark, sf_dir)
    assert pinned_at_raise == [before + 1]  # the first wave was pinned
    assert jsc.getPersistentRDDs().size() == before

