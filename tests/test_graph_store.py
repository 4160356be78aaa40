"""Bucketed graph-store tests: the subj-keyed joins over the bucketed
edge/node tables must plan WITHOUT exchanges on the bucketed sides, and
return the same rows as the un-bucketed equivalent."""

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from cypher_guard_spark.oracle import round6  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from cypher_guard_spark.spark import build_session

    warehouse = tmp_path_factory.mktemp("warehouse")
    spark = build_session(
        "graph-store-tests",
        cores=4,
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(warehouse)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    from cypher_guard_spark.pipeline import run_pipeline, synthesize_documents
    from cypher_guard_spark.pipeline.graph_store import write_graph_tables

    docs = synthesize_documents(spark, 120)
    out = run_pipeline(spark, docs, checkpoint_dir=None)
    loc = tmp_path_factory.mktemp("kgdb")
    write_graph_tables(
        spark, out["triples"], out["entity_map"], db="kgtest", location=str(loc)
    )
    return out


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def no_broadcast(spark):
    """At test scale the planner correctly prefers broadcast (tables are
    KB-sized, and bucketing is then 'disabled by query planner'); the
    bucket-join guarantee matters exactly when the tables are too big to
    broadcast — simulate that regime by turning broadcast off."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_entity_neighborhood_exchange_free(spark, graph, no_broadcast):
    """subj-keyed edges⋈nodes in the beyond-broadcast regime: both sides
    bucketed on the key — zero Exchange (and zero Sort beyond the bucket
    sort order) anywhere in the physical plan."""
    from cypher_guard_spark.pipeline.graph_store import entity_neighborhood

    df = entity_neighborhood(spark, db="kgtest")
    plan = _executed_plan(df)
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan
    # and it's a real join over data, not an empty accident
    assert df.count() > 0


def test_two_hop_single_exchange(spark, graph, no_broadcast):
    """The direction-flipping leg pays exactly one exchange; the
    subj-keyed leg stays bucket-local."""
    from cypher_guard_spark.pipeline.graph_store import two_hop_neighbors

    df = two_hop_neighbors(spark, db="kgtest")
    plan = _executed_plan(df)
    assert plan.count("Exchange") == 1, plan
    assert df.count() > 0


def test_bucketed_join_matches_unbucketed(spark, graph):
    """Value identity: the bucketed-table join returns exactly the rows
    the in-memory (shuffled) join returns."""
    from cypher_guard_spark.pipeline.graph_store import entity_neighborhood

    triples, emap = graph["triples"], graph["entity_map"]
    nodes = emap.groupBy(F.col("canonical").alias("subj"), "label").agg(
        F.count("*").alias("n_surfaces")
    )
    expected = {
        tuple(r)
        for r in triples.join(nodes, "subj")
        .select("subj", "pred", "obj", "label", "n_surfaces")
        .collect()
    }
    got = {tuple(r) for r in entity_neighborhood(spark, db="kgtest").collect()}
    assert got == expected


def test_triple_diff_set_arithmetic(spark):
    from cypher_guard_spark.pipeline.graph_store import triple_diff

    old = spark.createDataFrame(
        [("a", "K", "b"), ("a", "K", "b"), ("b", "K", "c"), ("x", "W", "y")],
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("a", "K", "b"), ("b", "K", "c"), ("n", "K", "m"), ("n", "K", "m")],
        "subj string, pred string, obj string",
    )
    got = {
        (r["subj"], r["pred"], r["obj"], r["status"])
        for r in triple_diff(old, new).collect()
    }
    # duplicates collapse; unchanged triples absent; both directions emitted
    assert got == {("n", "K", "m", "added"), ("x", "W", "y", "removed")}
    # identical snapshots -> empty delta
    assert triple_diff(old, old).count() == 0
    # same subject different pred/obj are distinct triples
    got2 = {
        r["status"]
        for r in triple_diff(
            old, old.withColumn("pred", F.lit("Z"))
        ).collect()
    }
    assert got2 == {"added", "removed"}


# ---------------------------------------------------------------------------
# fuse_triples (evidence fusion / noisy-OR)
# ---------------------------------------------------------------------------

FUSE_ROWS = [
    # (doc_id, subj, pred, obj, conf) — fact A observed 3x, one certain,
    # fact B observed once, fact C twice with weak evidence
    ("d1", "a", "R", "b", 0.9),
    ("d2", "a", "R", "b", 1.0),
    ("d2", "a", "R", "b", 0.95),
    ("d3", "x", "R", "y", 0.9),
    ("d1", "p", "S", "q", 0.5),
    ("d4", "p", "S", "q", 0.5),
]


def _fuse_df(spark):
    return spark.createDataFrame(
        FUSE_ROWS, ["doc_id", "subj", "pred", "obj", "conf"]
    )


def test_fuse_exact_matches_twin(spark):
    from cypher_guard_spark.pipeline.graph_store import fuse_triples


    got = {
        (r["subj"], r["pred"], r["obj"]): r
        for r in fuse_triples(_fuse_df(spark), exact=True).collect()
    }
    a = got[("a", "R", "b")]
    assert (a["n_obs"], a["n_docs"], a["first_doc"], a["last_doc"]) == (3, 2, "d1", "d2")
    assert a["max_conf"] == 1.0 and a["agg_conf"] == 1.0  # certain evidence
    b = got[("x", "R", "y")]
    assert b["n_obs"] == 1 and b["agg_conf"] == round6(0.9)
    c = got[("p", "S", "q")]
    # noisy-or of two 0.5s: 1 - 0.5*0.5 = 0.75
    assert c["n_obs"] == 2 and c["agg_conf"] == round6(1.0 - 0.5 * 0.5)


def test_fuse_fast_mode_close_and_hub_safe_plan(spark):
    from cypher_guard_spark.pipeline.graph_store import fuse_triples

    exact = {
        (r["subj"], r["pred"], r["obj"]): r["agg_conf"]
        for r in fuse_triples(_fuse_df(spark), exact=True).collect()
    }
    fast_df = fuse_triples(_fuse_df(spark), exact=False)
    fast = {
        (r["subj"], r["pred"], r["obj"]): r["agg_conf"]
        for r in fast_df.collect()
    }
    assert exact.keys() == fast.keys()
    for k in exact:
        assert abs(exact[k] - fast[k]) < 1e-9
    # certain observation must short-circuit exactly (no ln(0) NaN)
    assert fast[("a", "R", "b")] == 1.0
    # the default mode's plan carries no per-fact list aggregate
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan


def test_triple_history_islands(spark):
    """Contiguous runs split at gaps; single-snapshot facts get point
    intervals; dedup collapses repeated observations."""
    from cypher_guard_spark.pipeline.graph_store import triple_history

    obs = [
        # fact A present in 0,1,2,4 -> [0,2] and [4,4]
        (0, "a", "R", "x"), (1, "a", "R", "x"), (2, "a", "R", "x"),
        (4, "a", "R", "x"), (1, "a", "R", "x"),  # dup observation
        # fact B only snapshot 3
        (3, "b", "R", "y"),
        # fact C alternating 0,2,4 -> three point intervals
        (0, "c", "R", "z"), (2, "c", "R", "z"), (4, "c", "R", "z"),
    ]
    df = spark.createDataFrame(
        obs, "snapshot_id int, subj string, pred string, obj string"
    )
    got = {
        (r["subj"], r["pred"], r["obj"], r["valid_from"], r["valid_to"])
        for r in triple_history(df).collect()
    }
    assert got == {
        ("a", "R", "x", 0, 2), ("a", "R", "x", 4, 4),
        ("b", "R", "y", 3, 3),
        ("c", "R", "z", 0, 0), ("c", "R", "z", 2, 2), ("c", "R", "z", 4, 4),
    }


def test_triple_history_generalizes_diff(spark):
    """Two snapshots: facts with valid_to=0 are triple_diff's 'removed',
    runs starting at 1 are its 'added'."""
    from cypher_guard_spark.pipeline.graph_store import triple_diff, triple_history

    old = spark.createDataFrame(
        [("a", "R", "x"), ("b", "R", "y")], ["subj", "pred", "obj"]
    )
    new = spark.createDataFrame(
        [("b", "R", "y"), ("c", "R", "z")], ["subj", "pred", "obj"]
    )
    obs = old.selectExpr("0 as snapshot_id", "subj", "pred", "obj").unionByName(
        new.selectExpr("1 as snapshot_id", "subj", "pred", "obj")
    )
    hist = triple_history(obs).collect()
    removed = {
        (r["subj"], r["pred"], r["obj"])
        for r in hist
        if r["valid_from"] == 0 and r["valid_to"] == 0
    }
    added = {(r["subj"], r["pred"], r["obj"]) for r in hist if r["valid_from"] == 1}
    diff = triple_diff(old, new).collect()
    assert removed == {
        (r["subj"], r["pred"], r["obj"]) for r in diff if r["status"] == "removed"
    }
    assert added == {
        (r["subj"], r["pred"], r["obj"]) for r in diff if r["status"] == "added"
    }


def test_fact_churn_sweep_matches_bruteforce(spark):
    """Churn from the interval sweep equals per-snapshot brute force:
    alive(t) = intervals covering t, born(t) = runs opening at t,
    died(t) = runs that closed at t-1; missing snapshots zero-fill and
    the born-minus-died telescoping identity holds at every t."""
    from cypher_guard_spark.pipeline.graph_store import (
        fact_churn,
        triple_history,
    )

    obs = [
        (0, "a", "R", "x"), (1, "a", "R", "x"), (2, "a", "R", "x"),
        (4, "a", "R", "x"),                      # a: [0,2], [4,4]
        (3, "b", "R", "y"),                      # b: [3,3]
        (0, "c", "R", "z"), (2, "c", "R", "z"),  # c: [0,0], [2,2]
        (0, "d", "R", "w"), (1, "d", "R", "w"), (2, "d", "R", "w"),
        (3, "d", "R", "w"), (4, "d", "R", "w"),  # d: [0,4] (never dies)
    ]
    df = spark.createDataFrame(
        obs, "snapshot_id int, subj string, pred string, obj string"
    )
    hist = triple_history(df)
    intervals = [
        (r["valid_from"], r["valid_to"]) for r in hist.collect()
    ]
    k = 5
    got = {
        r["snapshot_id"]: (r["facts_born"], r["facts_died"], r["facts_alive"])
        for r in fact_churn(spark, hist, n_snapshots=k).collect()
    }
    assert set(got) == set(range(k))  # zero-filled full spine
    for t in range(k):
        born = sum(1 for a, _ in intervals if a == t)
        died = sum(1 for _, b in intervals if b == t - 1)
        alive = sum(1 for a, b in intervals if a <= t <= b)
        assert got[t] == (born, died, alive), f"t={t}"
    # telescoping identity: alive(t) = cum born - cum died
    cum_b = cum_d = 0
    for t in range(k):
        cum_b += got[t][0]
        cum_d += got[t][1]
        assert got[t][2] == cum_b - cum_d


def test_fact_churn_empty_history(spark):
    """Empty interval table yields a zero-filled spine, not an error."""
    from cypher_guard_spark.pipeline.graph_store import fact_churn

    hist = spark.createDataFrame(
        [],
        "subj string, pred string, obj string, "
        "valid_from long, valid_to long",
    )
    rows = fact_churn(spark, hist, n_snapshots=3).collect()
    assert [(r["snapshot_id"], r["facts_born"], r["facts_died"],
             r["facts_alive"]) for r in sorted(rows, key=lambda r: r[0])] \
        == [(0, 0, 0, 0), (1, 0, 0, 0), (2, 0, 0, 0)]
