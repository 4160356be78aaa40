"""BPE trainer + encoder: twin equality against an independent serial
implementation, the classic hand-worked example, edge cases, and the
plan-shape contracts (one corpus scan for training; map-only encode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cypher_guard_spark.ops.bpe import (
    bpe_encode,
    bpe_word,
    py_train_bpe,
    train_bpe,
    word_table,
)


CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
    "the new low  rider",  # double space: empty-token path
]


def test_train_bpe_matches_independent_twin(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    want = py_train_bpe(CORPUS, 12)
    # BOTH execution paths must reproduce the serial ground truth exactly:
    # the driver fast path (collected word table, incremental counts) and
    # the distributed loop (driver_max_vocab=0 forces it)
    for dmv in (2_000_000, 0):
        got = [
            (r["merge_rank"], r["left"], r["right"], r["pair_count"])
            for r in train_bpe(docs, num_merges=12, driver_max_vocab=dmv)
            .orderBy("merge_rank")
            .collect()
        ]
        assert got == want, dmv
    assert len(want) == 12


def test_train_bpe_early_stop_and_empty(spark):
    # every word is a single char: no pairs at all -> zero merges
    docs = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    assert train_bpe(docs, num_merges=5).count() == 0
    # all pairs unique (count 1) with min_pair_count=2 -> zero merges
    docs2 = spark.createDataFrame([(1, "xy zq")], "doc_id long, text string")
    assert train_bpe(docs2, num_merges=5, min_pair_count=2).count() == 0
    # ... but min_pair_count=1 learns them, tie-broken lexicographically
    got = [
        (r["left"], r["right"])
        for r in train_bpe(docs2, num_merges=2, min_pair_count=1)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == [("x", "y"), ("z", "q")]


def test_bpe_word_hand_worked():
    # ranks: e+s -> es, es+t -> est, l+o -> lo
    ranks = {("e", "s"): 0, ("es", "t"): 1, ("l", "o"): 2}
    assert bpe_word("newest", ranks) == ["n", "e", "w", "est"]
    assert bpe_word("lowest", ranks) == ["lo", "w", "est"]
    assert bpe_word("es", ranks) == ["es"]
    assert bpe_word("", ranks) == [""] if "" else True  # list('') == []
    assert bpe_word("", ranks) == []
    assert bpe_word("x", ranks) == ["x"]
    # rank priority: with (a,b)=0 and (b,c)=1, 'abc' -> ab + c, never a + bc
    assert bpe_word("abc", {("a", "b"): 0, ("b", "c"): 1}) == ["ab", "c"]
    assert bpe_word("abc", {("a", "b"): 1, ("b", "c"): 0}) == ["a", "bc"]
    # non-overlapping left-to-right: 'aaaa' under (a,a) pairs as (aa)(aa),
    # and only an ODD tail leaves an 'a' for the (aa,a) rule
    assert bpe_word("aaaa", {("a", "a"): 0, ("aa", "a"): 1}) == ["aa", "aa"]
    assert bpe_word("aaa", {("a", "a"): 0, ("aa", "a"): 1}) == ["aaa"]


def test_bpe_encode_matches_serial_and_zero_merges(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, num_merges=8)
    pairs = [
        (r["left"], r["right"]) for r in merges.orderBy("merge_rank").collect()
    ]
    ranks = {p: i for i, p in enumerate(pairs)}
    got = {
        r["doc_id"]: (r["n_words"], r["n_subwords"], r["subwords"])
        for r in bpe_encode(docs, merges).collect()
    }
    import re

    for i, text in enumerate(CORPUS):
        ws = re.split(r"\s+", text.strip(" ").lower(), flags=re.ASCII)
        subs = [s for w in ws for s in bpe_word(w, ranks)]
        assert got[i] == (len(ws), len(subs), subs), i
    # zero merges degenerates to characters (per word)
    got0 = bpe_encode(docs, [], text_col="text").where(F.col("doc_id") == 0)
    row = got0.collect()[0]
    assert row["subwords"] == list("low" * 5)
    assert row["n_words"] == 5 and row["n_subwords"] == 15


def test_bpe_plan_shapes(spark, docs_sf0001):
    # training's corpus scan: exactly one shuffle over the corpus (the
    # word-table agg); everything downstream is vocab-sized
    wt = word_table(docs_sf0001)
    plan = wt._sc._jvm.PythonSQLUtils.explainString(
        wt._jdf.queryExecution(), "formatted"
    )
    # formatted explain names each node twice (tree + detail) — count the
    # tree form "Exchange (n)" only
    assert plan.count("Exchange (") == 1, plan
    assert "text" in plan and "doc_id" not in plan.split("ReadSchema")[1][:200]
    # encode: map-only — one ArrowEvalPython, ZERO exchanges, pruned scan
    enc = bpe_encode(docs_sf0001, [("e", "s")])
    eplan = enc._sc._jvm.PythonSQLUtils.explainString(
        enc._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in eplan, eplan
    assert eplan.count("ArrowEvalPython (") == 1, eplan


@pytest.fixture
def docs_sf0001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
