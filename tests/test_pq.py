"""Product quantization: codebook-twin equality (per-subspace Lloyd),
encode parity, ADC top-k vs a serial twin, and the map-only encode plan."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from cypher_guard_spark.ops.similarity import (
    _py_sub_dist2,
    pq_encode,
    pq_topk,
    train_pq,
)
from cypher_guard_spark.oracle import round6

M, K, ITERS, DIM = 4, 8, 2, 16


@pytest.fixture(scope="module")
def emb(spark):
    rng = random.Random(3)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(DIM)])
        for i in range(60)
    ]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        dict(rows),
    )


def _twin_codebooks(vecs: dict):
    d_m = DIM // M
    out = {}
    for s in range(M):
        sub = {vid: v[s * d_m : (s + 1) * d_m] for vid, v in vecs.items()}
        centers, assign = entry._py_lloyd_assign(sub, K, ITERS)
        out[s] = (centers, assign)
    return out


def test_train_pq_matches_per_subspace_lloyd_twin(spark, emb):
    df, vecs = emb
    got = {
        (r["subspace"], r["centroid_id"]): list(r["center"])
        for r in train_pq(df, m=M, k=K, iters=ITERS).collect()
    }
    twin = _twin_codebooks(vecs)
    assert len(got) == M * K
    for s in range(M):
        centers, _ = twin[s]
        for cid, center in centers.items():
            assert got[(s, cid)] == center, (s, cid)


def test_pq_encode_matches_twin_assignment(spark, emb):
    df, vecs = emb
    cb = train_pq(df, m=M, k=K, iters=ITERS)
    got = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in pq_encode(df, cb).collect()
    }
    twin = _twin_codebooks(vecs)
    assert len(got) == len(vecs) * M
    for s in range(M):
        _, assign = twin[s]
        for vid, code in assign.items():
            assert got[(vid, s)] == code, (vid, s)


def test_pq_topk_matches_adc_twin(spark, emb):
    df, vecs = emb
    cb = train_pq(df, m=M, k=K, iters=ITERS)
    queries = spark.createDataFrame(
        [(100, vecs[7]), (200, [0.0] * DIM)],
        "query_id long, qvec array<double>",
    )
    got = [
        (r["query_id"], r["rank"], r["neighbor_id"], r["adist"])
        for r in pq_topk(df, cb, queries, k=5)
        .orderBy("query_id", "rank")
        .collect()
    ]
    twin = _twin_codebooks(vecs)
    d_m = DIM // M

    def adist(qv, vid):
        acc = 0.0
        for s in range(M):
            centers, assign = twin[s]
            c = centers[assign[vid]]
            acc += _py_sub_dist2(qv, s * d_m, c)
        return round6(acc)

    want = []
    for qid, qv in [(100, vecs[7]), (200, [0.0] * DIM)]:
        ranked = sorted((adist(qv, vid), vid) for vid in vecs)[:5]
        want.extend(
            (qid, i + 1, vid, d) for i, (d, vid) in enumerate(ranked)
        )
    assert got == want
    # the self-query's own vector ranks first (its cell distance is minimal)
    assert got[0][2] == 7 or got[0][3] <= adist(vecs[7], 7)


def test_pq_encode_plan_map_only(spark, emb):
    df, vecs = emb
    cb = train_pq(df, m=M, k=K, iters=1)
    enc = pq_encode(df, cb)
    plan = enc._sc._jvm.PythonSQLUtils.explainString(
        enc._jdf.queryExecution(), "formatted"
    )
    assert "Exchange (" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_train_pq_rejects_bad_m(spark, emb):
    df, _ = emb
    with pytest.raises(ValueError):
        train_pq(df, m=5, k=4, iters=1)


def test_ivfpq_full_probe_equals_pq_minus_self(spark, emb):
    """With nprobe = n_centroids (no pruning), IVF-PQ reduces to plain
    ADC over the whole corpus minus the self-match — same codebooks, so
    ranks shift by exactly the excluded self row."""
    from cypher_guard_spark.ops.similarity import ivfpq_topk, pq_topk, train_pq

    df, _vecs = emb
    q = df.where("vec_id < 3")
    books = train_pq(df, m=M, k=K, iters=ITERS)
    full = {
        (r["query_id"], r["neighbor_id"]): r["adist"]
        for r in pq_topk(df, books, q.selectExpr("vec_id as query_id", "embedding as qvec"),
                         k=61).collect()
    }
    got = ivfpq_topk(df, q, k=5, n_centroids=4, nprobe=4, m=M, pq_k=K,
                     iters=ITERS, codebooks=books).collect()
    assert len(got) == 15
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        assert r["neighbor_id"] != r["query_id"]
        assert abs(full[key] - r["adist"]) < 1e-12, key


def test_ivfpq_pruning_restricts_to_probed_cells(spark, emb):
    """With nprobe=1, every returned neighbor lives in the query's own
    nearest cell (cells from the same trained coarse quantizer)."""
    from cypher_guard_spark.ops.similarity import (
        _assign,
        _to_double,
        ivfpq_topk,
        kmeans_centroids,
    )
    from pyspark.sql import functions as F

    df, _vecs = emb
    cents = kmeans_centroids(df, 4, ITERS).localCheckpoint()
    cells = {
        r["vid"]: r["centroid_id"]
        for r in _assign(
            df.select(F.col("vec_id").alias("vid"), _to_double("embedding").alias("v")),
            cents,
        ).collect()
    }
    got = ivfpq_topk(df, df.where("vec_id < 3"), k=50, n_centroids=4,
                     nprobe=1, m=M, pq_k=K, iters=ITERS,
                     centroids=cents).collect()
    assert got
    for r in got:
        assert cells[r["neighbor_id"]] == cells[r["query_id"]], r


def test_pq_searches_collect_each_trained_table_once(spark, emb, monkeypatch):
    """`pq_topk` and `ivfpq_topk` collect the codebooks (and, for IVF-PQ,
    the coarse centroids) once per call and hand the collected table to
    the encode and cell-assignment steps, instead of collecting again."""
    import cypher_guard_spark.ops.similarity as sim

    df, vecs = emb
    books = train_pq(df, m=M, k=K, iters=ITERS).localCheckpoint()
    cents = sim.kmeans_centroids(df, 4, ITERS).localCheckpoint()
    calls = {"_collect_codebooks": 0, "_collect_centroids": 0}

    def count_calls(name):
        real = getattr(sim, name)

        def counted(*a, **k):
            calls[name] += 1
            return real(*a, **k)

        monkeypatch.setattr(sim, name, counted)

    for name in calls:
        count_calls(name)
    queries = spark.createDataFrame(
        [(100, vecs[7])], "query_id long, qvec array<double>"
    )
    assert sim.pq_topk(df, books, queries, k=3).count() == 3
    assert calls == {"_collect_codebooks": 1, "_collect_centroids": 0}
    calls.update(_collect_codebooks=0)
    got = sim.ivfpq_topk(
        df, df.where("vec_id < 2"), k=3, nprobe=2, m=M, pq_k=K,
        centroids=cents, codebooks=books,
    )
    assert got.count() == 6
    assert calls == {"_collect_codebooks": 1, "_collect_centroids": 1}


def test_search_only_entries_never_retrain(spark, monkeypatch):
    """VERDICT r4 task 3: `emb_pq_search` / `emb_ivfpq_search` reuse the
    train-once process cache — after the first call the Lloyd trainers are
    never re-entered, so the entries' bench wall is the search plan alone
    (a train-once/search-forever index must not bill Lloyd per query)."""
    import cypher_guard_spark.ops.similarity as sim
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    qs = entry_mod.queries()
    # first calls populate the cache (training allowed to run once)
    assert qs["emb_pq_search"](spark, sf).count() > 0
    assert qs["emb_ivfpq_search"](spark, sf).count() > 0

    def boom(*_a, **_k):
        raise AssertionError("trainer re-entered on the search-only path")

    monkeypatch.setattr(sim, "train_pq", boom)
    monkeypatch.setattr(sim, "kmeans_centroids", boom)
    assert qs["emb_pq_search"](spark, sf).count() > 0
    assert qs["emb_ivfpq_search"](spark, sf).count() > 0


def test_search_only_entries_equal_trainer_inclusive(spark):
    """Cached trained structures == freshly trained (the trainers are
    deterministic), so the search-only entries return exactly what their
    trainer-inclusive twins do."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    qs = entry_mod.queries()
    for trained, search in (
        ("emb_pq_topk", "emb_pq_search"),
        ("emb_ivfpq_topk", "emb_ivfpq_search"),
    ):
        a = sorted(map(tuple, qs[trained](spark, sf).collect()))
        b = sorted(map(tuple, qs[search](spark, sf).collect()))
        assert a == b, (trained, search)


def test_registry_head_is_never_driver_checked():
    """The driver's CORRECTNESS artifact verifies only the first ~50
    queries() entries, so the registry head is every entry that no
    artifact of rounds 1-5 covers, ahead of all the covered ones."""
    import json

    import __spark_entry__ as entry_mod

    covered = set()
    for i in range(1, 6):
        path = entry_mod.REPO / f"CORRECTNESS_r0{i}.json"
        covered |= set(json.loads(path.read_text()))
    names = list(entry_mod.queries())
    uncovered = [n for n in names if n not in covered]
    assert uncovered
    assert names[: len(uncovered)] == uncovered


def test_pq_sampled_training_recall_floor(spark):
    """VERDICT r4 task 5: `train_pq(train_fraction<1)` samples the Lloyd
    trainer (the 10^12-row posture — keeps the per-(s,centroid,dim)
    collect_list executor-sized); the FULL corpus is still encoded and
    ADC-searched, and recall@5 against exact L2 top-k stays above the
    structural floor. Sampled codebooks must also stay well-formed
    (m subspaces × k centroids, full dimension)."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.ops.similarity import pq_topk, train_pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq(emb, m=4, k=16, iters=2, train_fraction=0.5).localCheckpoint()
    rows = books.collect()
    assert len(rows) == 4 * 16
    assert all(len(r["center"]) == len(rows[0]["center"]) for r in rows)

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = pq_topk(emb, books, queries, k=5).toPandas()
    assert set(got.query_id) == {0, 1, 2, 3, 4}

    # exact L2 top-5 (self-match included, as pq_topk includes it)
    import numpy as np

    pdf = emb.toPandas()
    vecs = {int(r.vec_id): np.asarray(list(r.embedding)) for r in pdf.itertuples()}
    hits = 0
    for q in range(5):
        d = sorted(
            (float(((vecs[q] - v) ** 2).sum()), vid) for vid, v in vecs.items()
        )
        exact_ids = {vid for _d, vid in d[:5]}
        got_ids = set(got[got.query_id == q].neighbor_id)
        hits += len(exact_ids & got_ids)
    assert hits >= 25 * 0.3, hits
