"""node2vec biased walks (pipeline/graph_algo.node2vec_walks): exact
serial-twin parity (the hash-min virtual-copy draw is deterministic, so
the distributed kernel must match a pure-Python replication row for
row), plus closed-form zero-weight class exclusions."""

import pytest
from pyspark.sql import functions as F

from cypher_guard_spark.pipeline.graph_algo import node2vec_walks, py_node2vec_walks


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


FIXTURE = [
    ("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"),
    ("a", "c"), ("d", "a"), ("d", "b"), ("b", "d"),
]


@pytest.mark.parametrize("wr,wi,wo", [(1, 1, 1), (1, 2, 4), (3, 1, 2)])
def test_matches_serial_twin(spark, wr, wi, wo):
    got = sorted(
        (r.start, r.rep, r.step, r.vertex)
        for r in node2vec_walks(
            spark, _edges(spark, FIXTURE), length=5, walks_per_node=2,
            w_return=wr, w_in=wi, w_out=wo, seed=7,
        ).collect()
    )
    assert got == sorted(py_node2vec_walks(FIXTURE, 5, 2, wr, wi, wo, 7))


def test_zero_out_weight_forces_backtrack(spark):
    # a<->b, b<->c: from b with prev=a, c is class OUT ((a,c) not an
    # edge); w_out=0 excludes it, so the walk must oscillate a,b,a,b,...
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")])
    rows = (
        node2vec_walks(
            spark, e, length=4, w_return=1, w_in=1, w_out=0, seed=3,
        )
        .where(F.col("start") == "a")
        .orderBy("step")
        .collect()
    )
    assert [r.vertex for r in rows] == ["a", "b", "a", "b", "a"]


def test_zero_return_weight_forbids_backtrack(spark):
    # same graph, w_return=0: from b (prev=a) only c remains; from c
    # (prev=b) the sole neighbor b is class RETURN -> no candidate,
    # walk truncates at step 2.
    e = _edges(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")])
    rows = (
        node2vec_walks(
            spark, e, length=4, w_return=0, w_in=1, w_out=1, seed=3,
        )
        .where(F.col("start") == "a")
        .orderBy("step")
        .collect()
    )
    assert [r.vertex for r in rows] == ["a", "b", "c"]


def test_same_seed_reproducible_and_truncation(spark):
    e = _edges(spark, FIXTURE + [("d", "e")])  # e has no out-edges
    kw = dict(length=3, walks_per_node=2, w_return=1, w_in=2, w_out=4,
              seed=11)
    a = sorted(map(tuple, node2vec_walks(spark, e, **kw).collect()))
    b = sorted(map(tuple, node2vec_walks(spark, e, **kw).collect()))
    assert a == b
    # every walk starting at a vertex with out-edges emits step 0; e is
    # never a start (no out-edges)
    starts = {r[0] for r in a}
    assert "e" not in starts


def test_weight_validation(spark):
    e = _edges(spark, [("a", "b")])
    with pytest.raises(ValueError):
        node2vec_walks(spark, e, w_return=-1)
    with pytest.raises(ValueError):
        node2vec_walks(spark, e, w_return=0, w_in=0, w_out=0)
