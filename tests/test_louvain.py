"""Louvain community detection — structural fixtures with known optimal
partitions, bit-exact agreement with the serial twin on a random weighted
graph, weighted-edge sensitivity, the modularity quality gate, and the
empty graph.

The serial twin `pipeline.graph_algo.py_louvain` (also the `kg_louvain`
oracle's) replicates `pipeline.graph_algo.louvain` decision-for-
decision (same cleared-denominator integer gains, same xxhash64 parity
gating, same tie order, same level rule) — the same exactness precedent
as `label_propagation`'s twin. The structural fixtures (barbell, ring of
cliques) assert the PARTITION itself, independent of any twin, against
the textbook-optimal communities.
"""

from collections import defaultdict

import pytest

from cypher_guard_spark.pipeline.graph_algo import louvain, modularity, py_louvain
from pyspark.sql import functions as F


def _groups(assign: dict) -> list:
    g = defaultdict(set)
    for v, c in assign.items():
        g[c].add(v)
    return sorted(tuple(sorted(s)) for s in g.values())


def _clique(names: list) -> dict:
    out = {}
    ns = sorted(names)
    for i in range(len(ns)):
        for j in range(i + 1, len(ns)):
            out[(ns[i], ns[j])] = 1
    return out


def _run(spark, pair_w: dict, **kw) -> dict:
    rows = [(a, b, int(w)) for (a, b), w in pair_w.items()]
    df = spark.createDataFrame(rows, "src string, dst string, w long")
    out = louvain(spark, df, weight="w", **kw)
    return {r["entity"]: r["community"] for r in out.collect()}


@pytest.fixture()
def barbell() -> dict:
    e = {}
    e.update(_clique(["a1", "a2", "a3", "a4"]))
    e.update(_clique(["b1", "b2", "b3", "b4"]))
    e[("a1", "b1")] = 1
    return e


@pytest.fixture()
def ring() -> dict:
    e = {}
    tris = [[f"t{i}a", f"t{i}b", f"t{i}c"] for i in range(5)]
    for t in tris:
        e.update(_clique(t))
    for i in range(5):
        e[tuple(sorted((tris[i][0], tris[(i + 1) % 5][1])))] = 1
    return e


def test_barbell_finds_the_two_cliques(spark, barbell):
    got = _run(spark, barbell)
    assert _groups(got) == [
        ("a1", "a2", "a3", "a4"),
        ("b1", "b2", "b3", "b4"),
    ]
    # labels are canonical minimum members
    assert got["a3"] == "a1" and got["b4"] == "b1"


def test_ring_of_cliques_finds_each_clique(spark, ring):
    got = _run(spark, ring)
    assert _groups(got) == [
        ("t0a", "t0b", "t0c"),
        ("t1a", "t1b", "t1c"),
        ("t2a", "t2b", "t2c"),
        ("t3a", "t3b", "t3c"),
        ("t4a", "t4b", "t4c"),
    ]


def test_ring_modularity_clears_quality_gate(spark, ring):
    rows = [(a, b) for (a, b) in ring]
    e = spark.createDataFrame(rows, "src string, dst string")
    com = louvain(spark, e.select("src", "dst"))
    q = modularity(e, com).collect()[0]
    # exact optimum for a 5-ring of triangles: 5*(3/20 - (8/40)^2) = 0.55
    assert q["n_communities"] == 5
    assert abs(q["modularity"] - 0.55) < 1e-9


def test_heavy_edge_outweighs_topology(spark):
    e = {
        ("p1", "p2"): 1,
        ("p2", "p3"): 1,
        ("p3", "p4"): 1,
        ("p1", "p4"): 1,
        ("q1", "q2"): 1,
        ("q2", "q3"): 1,
        ("q3", "q4"): 1,
        ("q1", "q4"): 1,
        ("p1", "q1"): 50,
    }
    got = _run(spark, e)
    assert got["p1"] == got["q1"]  # the heavy pair merges
    assert got["p2"] != got["p1"] or got["q2"] != got["q1"]


def test_matches_serial_twin_on_random_weighted_graph(spark):
    import random

    rng = random.Random(7)
    verts = [f"v{i:02d}" for i in range(45)]
    edges: dict = {}
    for _ in range(130):
        a, b = rng.sample(verts, 2)
        edges[tuple(sorted((a, b)))] = rng.randint(1, 4)
    assert _run(spark, edges) == py_louvain(edges)


def test_unweighted_path_dedups_and_drops_self_loops(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "c")],
        "src string, dst string",
    )
    got = {r["entity"]: r["community"] for r in louvain(spark, df).collect()}
    assert got == py_louvain({("a", "b"): 1, ("b", "c"): 1})


def test_empty_graph(spark):
    e = spark.createDataFrame([], "src string, dst string, w long")
    out = louvain(spark, e, weight="w")
    assert out.columns == ["entity", "community"]
    assert out.count() == 0
