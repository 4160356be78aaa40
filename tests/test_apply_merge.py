"""Native MERGE application (pipeline/apply_merge.py): the write side the
reference delegates to a live Neo4j (data/ingest.py ships batches over
bolt; lib.rs has no write engine) runs here as DataFrame ops, and the
round trip codegen → parse → apply must reproduce the directly
materialized graph exactly.
"""

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402

from cypher_guard_spark.pipeline.apply_merge import (  # noqa: E402
    MergeApplyRefused,
    apply_merge_batches,
    parse_merge_statements,
)
from cypher_guard_spark.pipeline.codegen import build_merge_batches  # noqa: E402
from cypher_guard_spark.pipeline.executor import (  # noqa: E402
    execute_cypher,
    graph_frames,
)
from cypher_guard_spark.pipeline.synth import pipeline_db_schema  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from cypher_guard_spark.spark import build_session

    spark = build_session("apply-merge-tests", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("d1", "John Smith", "WORKS_FOR", "Acme Corp", "Person", "Company"),
        ("d1", "Acme Corp", "LOCATED_IN", "Berlin", "Company", "Location"),
        ("d2", "Jane Doe", "WORKS_FOR", "Acme Corp", "Person", "Company"),
        ("d2", "John Smith", "KNOWS", "Jane Doe", "Person", "Person"),
        ("d3", "Jane Doe", "KNOWS", "Bob Stone", "Person", "Person"),
        # duplicate triple: MERGE semantics → one edge
        ("d4", "John Smith", "WORKS_FOR", "Acme Corp", "Person", "Company"),
        # single-token name: codegen renders lastName: ''
        ("d5", "Cher", "KNOWS", "Jane Doe", "Person", "Person"),
    ]
    return spark.createDataFrame(
        rows, ["doc_id", "subj", "pred", "obj", "subj_label", "obj_label"]
    ).cache()


def _entity_frame(t):
    return (
        t.select(
            F.col("subj_label").alias("label"), F.col("subj").alias("canonical")
        )
        .unionByName(
            t.select(
                F.col("obj_label").alias("label"), F.col("obj").alias("canonical")
            )
        )
        .dropDuplicates()
    )


def _stmts(spark, *lines):
    return spark.createDataFrame([(s,) for s in lines], ["cypher"])


def test_roundtrip_equals_direct_graph(spark, triples):
    """apply(codegen(G)) == graph_frames(G), node-for-node and
    edge-for-edge — the write-read parity theorem."""
    batches = build_merge_batches(_entity_frame(triples), triples)
    nodes_a, edges_a = apply_merge_batches(spark, batches)
    nodes_d, edges_d = graph_frames(triples)
    assert nodes_a.exceptAll(nodes_d).count() == 0
    assert nodes_d.exceptAll(nodes_a).count() == 0
    assert edges_a.exceptAll(edges_d).count() == 0
    assert edges_d.exceptAll(edges_a).count() == 0
    # and the duplicate d4 triple stayed ONE edge
    assert (
        edges_a.where(
            (F.col("pred") == "WORKS_FOR")
            & F.col("src").contains("John")
        ).count()
        == 1
    )


def test_executor_runs_on_applied_graph(spark, triples):
    """execute_cypher(graph=applied) returns the same rows as the direct
    path — the full native loop (codegen → apply → query), no Neo4j."""
    q = (
        "MATCH (a:Person)-[:WORKS_FOR]->(c:Company) "
        "RETURN a.firstName, c.companyName"
    )
    direct = execute_cypher(spark, triples, q)
    applied = apply_merge_batches(
        spark, build_merge_batches(_entity_frame(triples), triples)
    )
    via_apply = execute_cypher(spark, None, q, graph=applied)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, via_apply.collect())
    )


def test_merge_multiset_semantics_idempotent(spark):
    """Duplicate statements and equal property maps unify — MERGE is
    idempotent and commutative on this subset, so the apply is
    order-free."""
    s = "MERGE (p:Person {firstName: 'Ann', lastName: 'Bell'})"
    r = (
        "MERGE (a:Person {firstName: 'Ann', lastName: 'Bell'})"
        "-[:KNOWS]->(b:Person {firstName: 'Ann', lastName: 'Bell'})"
    )
    nodes, edges = apply_merge_batches(spark, _stmts(spark, s, s, r, r))
    assert nodes.count() == 1  # self-loop endpoints + node stmt unify
    assert edges.count() == 1


def test_quote_stripping_unifies(spark):
    """Surfaces rendering to the same cleaned property map are the same
    node (the grammar has no escapes; codegen strips quotes)."""
    nodes, _ = apply_merge_batches(
        spark,
        _stmts(
            spark,
            "MERGE (c:Company {companyName: 'Acme Corp'})",
            'MERGE (c:Company {companyName: "Acme Corp"})',
        ),
    )
    assert nodes.count() == 1


def test_refusals_raise_with_statements(spark):
    cases = {
        "CREATE (p:Person {firstName: 'X', lastName: 'Y'})": "CREATE",
        (
            "MERGE (p:Person {firstName: 'X', lastName: 'Y'}) "
            "ON CREATE SET p.age = 5"
        ): "ON CREATE",
        (
            "MERGE (a:Person {firstName: 'X', lastName: 'Y'})"
            "-[:KNOWS]-(b:Person {firstName: 'Z', lastName: 'W'})"
        ): "directed",
        "MERGE (p:Person {firstName: 'X', lastName: 'Y', age: '3'})": (
            "outside the rendered model"
        ),
        "MERGE (p:Person {firstName: 'X'})": "identity keys",
        "MERGE (n:Nope {city: 'X'})": "Invalid node label",
    }
    for stmt, fragment in cases.items():
        with pytest.raises(MergeApplyRefused) as ei:
            apply_merge_batches(spark, _stmts(spark, stmt))
        assert fragment in ei.value.failures[0][1], stmt


def test_on_error_skip_applies_valid_subset(spark):
    nodes, edges = apply_merge_batches(
        spark,
        _stmts(
            spark,
            "MERGE (l:Location {city: 'Berlin'})",
            "CREATE (p:Person {firstName: 'X', lastName: 'Y'})",
        ),
        on_error="skip",
    )
    assert [r[0] for r in nodes.collect()] == ["Location\x1f\x1f\x1f\x1fBerlin"]
    assert edges.count() == 0


def test_on_error_skip_warns_without_a_job(spark, caplog):
    stmts = _stmts(spark, "CREATE (p:Person {firstName: 'X', lastName: 'Y'})")
    sc = spark.sparkContext
    sc.setJobGroup("skip-warning", "skip-warning")
    try:
        with caplog.at_level(
            "WARNING", logger="cypher_guard_spark.pipeline.apply_merge"
        ):
            apply_merge_batches(spark, stmts, on_error="skip")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("skip-warning") == []
    (rec,) = caplog.records
    assert rec.levelname == "WARNING"
    assert "dropped" in rec.getMessage()
    assert "parse_merge_statements" in rec.getMessage()


def test_on_error_rejects_unknown_mode(spark):
    stmts = _stmts(spark, "MERGE (l:Location {city: 'Berlin'})")
    for mode in ("Raise", "ignore", ""):
        with pytest.raises(ValueError, match="on_error"):
            apply_merge_batches(spark, stmts, on_error=mode)


def test_refusal_listing_is_truncated_with_total(spark):
    stmts = [f"MERGE (n:Nope{i} {{city: 'X'}})" for i in range(25)]
    with pytest.raises(MergeApplyRefused) as ei:
        apply_merge_batches(spark, _stmts(spark, *stmts))
    assert len(ei.value.failures) == 20
    assert ei.value.total == 25
    assert str(ei.value).startswith("25 statement(s) refused; listing the first 20;")


def test_parse_exposes_structured_errors(spark):
    parsed = parse_merge_statements(
        spark,
        _stmts(spark, "MERGE (n:Nope {city: 'X'})").select(
            F.col("cypher").alias("statement")
        ),
        pipeline_db_schema(),
    )
    row = parsed.collect()[0]
    assert row["kind"] is None and "Invalid node label" in row["err"]


def test_batch_splitting_multiline(spark, triples):
    """Multi-statement batches (newline-joined, the build_merge_batches
    shape) split JVM-side before the parse UDF — statement counts add
    up."""
    batches = build_merge_batches(
        _entity_frame(triples), triples, statements_per_batch=3
    )
    n_stmts = (
        batches.select(
            F.explode(F.split("cypher", "\n")).alias("s")
        )
        .where(F.trim("s") != "")
        .count()
    )
    # 6 entities (4 Persons, Acme, Berlin) + 6 distinct triples
    assert n_stmts == 12


def test_newline_surface_roundtrip(spark):
    """A canonical surface containing a newline cannot survive the
    newline-joined batch format, so _clean strips newlines/CRs on BOTH
    the write side (codegen) and read side (executor identity) — the
    round trip stays exact instead of splitting a statement mid-literal."""
    t = spark.createDataFrame(
        [
            ("d1", "Acme\nCorp", "LOCATED_IN", "Ber\rlin", "Company", "Location"),
            ("d2", "Acme Corp", "LOCATED_IN", "Berlin", "Company", "Location"),
        ],
        ["doc_id", "subj", "pred", "obj", "subj_label", "obj_label"],
    )
    batches = build_merge_batches(_entity_frame(t), t)
    nodes_a, edges_a = apply_merge_batches(spark, batches)
    nodes_d, edges_d = graph_frames(t)
    assert nodes_a.exceptAll(nodes_d).count() == 0
    assert nodes_d.exceptAll(nodes_a).count() == 0
    assert edges_a.exceptAll(edges_d).count() == 0
    # newline/CR are REMOVED (same as quotes): 'Ber\rlin' unifies with
    # 'Berlin', while 'Acme\nCorp' becomes 'AcmeCorp' — a distinct node
    # from 'Acme Corp' on both sides, consistently
    assert nodes_a.count() == 3


def test_qpp_in_merge_is_typed_refusal(spark):
    """A quantified path pattern parses inside MERGE (the grammar reuses
    match_element) but must surface as a per-statement refusal, not an
    AttributeError escaping the Arrow UDF."""
    parsed = parse_merge_statements(
        spark,
        _stmts(
            spark,
            "MERGE (a:Person {firstName: 'X', lastName: ''}) "
            "((x)-[:KNOWS]->(y)){1,2} (b:Person {firstName: 'Y', lastName: ''})",
        ).select(F.col("cypher").alias("statement")),
        pipeline_db_schema(),
    )
    row = parsed.collect()[0]
    assert row["kind"] is None
    assert row["err"] is not None
