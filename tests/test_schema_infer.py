"""Schema inference + inferred-schema validation roundtrip
(pipeline/schema_infer.py).

The reference only consumes a DbSchema (lib.rs validate_cypher_with_schema);
inference is data-plane functionality layered on the same schema surface
its JSON fixtures feed (reference data/schema/eval_schema.json shape).
"""

import pytest
from pyspark.sql import functions as F

from cypher_guard_spark.pipeline.codegen import ENTITY_PROPS
from cypher_guard_spark.pipeline.schema_infer import (
    infer_relationship_schema,
    inferred_db_schema,
    schema_roundtrip,
)


def _triples(spark, rows):
    return spark.createDataFrame(
        rows, ["subj", "pred", "obj", "subj_label", "obj_label"]
    )


@pytest.fixture(scope="module")
def mixed(spark):
    # one predicate per cardinality class, labels fixed per pred
    rows = [
        # 1:1 — each person has exactly one passport and vice versa
        ("alice", "HAS_PASSPORT", "p1", "Person", "Location"),
        ("bob", "HAS_PASSPORT", "p2", "Person", "Location"),
        # N:1 — many persons work for one company (no person at 2 companies)
        ("alice", "WORKS_FOR", "acme", "Person", "Company"),
        ("bob", "WORKS_FOR", "acme", "Person", "Company"),
        ("carol", "WORKS_FOR", "globex", "Person", "Company"),
        # 1:N — one company operates many sites (no site shared)
        ("acme", "OPERATES", "site1", "Company", "Location"),
        ("acme", "OPERATES", "site2", "Company", "Location"),
        ("globex", "OPERATES", "site3", "Company", "Location"),
        # N:M — knows is many-to-many
        ("alice", "KNOWS", "bob", "Person", "Person"),
        ("alice", "KNOWS", "carol", "Person", "Person"),
        ("bob", "KNOWS", "carol", "Person", "Person"),
        ("carol", "KNOWS", "bob", "Person", "Person"),
        # duplicate observation: must count in n_triples, not distort fans
        ("alice", "KNOWS", "bob", "Person", "Person"),
    ]
    return _triples(spark, rows)


def test_cardinality_classes(mixed):
    got = {
        r["pred"]: (
            r["cardinality"],
            r["n_triples"],
            r["n_subj"],
            r["n_obj"],
            r["max_out"],
            r["max_in"],
        )
        for r in infer_relationship_schema(mixed).collect()
    }
    assert got["HAS_PASSPORT"] == ("1:1", 2, 2, 2, 1, 1)
    assert got["WORKS_FOR"] == ("N:1", 3, 3, 2, 1, 2)
    assert got["OPERATES"] == ("1:N", 3, 2, 3, 2, 1)
    # duplicate (alice KNOWS bob) counts as evidence but max_out stays
    # the DISTINCT fan (alice -> {bob, carol} = 2)
    assert got["KNOWS"] == ("N:M", 5, 3, 2, 2, 2)


def test_label_split_predicates(spark):
    # same pred name under two label pairs -> two schema rows
    df = _triples(
        spark,
        [
            ("a", "PART_OF", "b", "Company", "Company"),
            ("x", "PART_OF", "y", "Location", "Location"),
        ],
    )
    rows = infer_relationship_schema(df).collect()
    assert len(rows) == 2
    assert {(r["subj_label"], r["obj_label"]) for r in rows} == {
        ("Company", "Company"),
        ("Location", "Location"),
    }


def test_inferred_db_schema_object(spark, mixed):
    sch = inferred_db_schema(infer_relationship_schema(mixed))
    d = sch.to_dict()
    assert {r["rel_type"] for r in d["relationships"]} == {
        "HAS_PASSPORT",
        "WORKS_FOR",
        "OPERATES",
        "KNOWS",
    }
    # relationships sorted by (pred, start, end) for determinism
    rels = [(r["rel_type"], r["start"], r["end"]) for r in d["relationships"]]
    assert rels == sorted(rels)
    # node props follow the codegen conventions for known labels
    assert {p["name"] for p in d["node_props"]["Person"]} == set(
        ENTITY_PROPS["Person"]
    )
    # every observed label is present, with the keys the codegen renders
    # for it (Location renders city)
    assert d["node_props"].keys() == {"Person", "Company", "Location"}


def test_roundtrip_all_valid(spark, mixed):
    # restrict to the codegen-known labels (the materializer's prop
    # renderer covers Person/Company/Location)
    rows = {r["pred"]: r for r in schema_roundtrip(spark, mixed).collect()}
    assert set(rows) == {"HAS_PASSPORT", "WORKS_FOR", "OPERATES", "KNOWS"}
    for r in rows.values():
        assert r["n_valid"] == r["n_stmts"] > 0


def test_roundtrip_other_label_renders_city(spark):
    """A label other than Person/Company/Location (here Country) renders
    {city: ...} in the codegen, so the inferred schema must declare city
    for it: every statement validates against that schema, and applying
    the MERGE batches with it gives the node ids graph_frames builds."""
    from cypher_guard_spark.pipeline.apply_merge import apply_merge_batches
    from cypher_guard_spark.pipeline.codegen import build_merge_batches
    from cypher_guard_spark.pipeline.executor import graph_frames

    t = _triples(
        spark,
        [
            ("Alice Smith", "LIVES_IN", "France", "Person", "Country"),
            ("acme", "BASED_IN", "France", "Company", "Country"),
            ("France", "BORDERS", "Spain", "Country", "Country"),
        ],
    )
    rows = schema_roundtrip(spark, t).collect()
    assert {r["pred"] for r in rows} == {"LIVES_IN", "BASED_IN", "BORDERS"}
    for r in rows:
        assert r["n_valid"] == r["n_stmts"] > 0

    schema = inferred_db_schema(infer_relationship_schema(t))
    entities = t.select(
        F.col("subj_label").alias("label"), F.col("subj").alias("canonical")
    ).unionByName(
        t.select(F.col("obj_label").alias("label"), F.col("obj").alias("canonical"))
    )
    nodes_a, _ = apply_merge_batches(
        spark, build_merge_batches(entities, t), schema=schema
    )
    nodes_d, _ = graph_frames(t)
    got = sorted(r["node_id"] for r in nodes_a.collect())
    assert got == sorted(r["node_id"] for r in nodes_d.collect())
    assert "Country\x1f\x1f\x1f\x1fSpain" in got


def test_roundtrip_detects_schema_gap(spark, mixed):
    """Dropping a relationship from the schema must flag those statements
    invalid — the deficit the gate exists to catch."""
    from cypher_guard_spark.pipeline.codegen import relationship_statements
    from cypher_guard_spark.spark import validate_dataframe

    sch = inferred_db_schema(
        infer_relationship_schema(mixed).where(F.col("pred") != "KNOWS")
    )
    stmts = relationship_statements(mixed, keep_cols=("pred",))
    v = validate_dataframe(spark, stmts, sch, cypher_col="statement")
    by_pred = (
        v.groupBy("pred")
        .agg(F.sum(F.col("is_valid").cast("int")).alias("n_valid"), F.count("*").alias("n"))
        .collect()
    )
    got = {r["pred"]: (r["n_valid"], r["n"]) for r in by_pred}
    assert got["KNOWS"][0] == 0  # every KNOWS statement rejected
    for p in ("HAS_PASSPORT", "WORKS_FOR", "OPERATES"):
        assert got[p][0] == got[p][1]


def test_infer_plan_is_jvm_only(mixed):
    plan = infer_relationship_schema(mixed)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_empty_triples(spark):
    df = spark.createDataFrame(
        [],
        "subj string, pred string, obj string,"
        " subj_label string, obj_label string",
    )
    assert infer_relationship_schema(df).count() == 0


def test_triple_conflicts_both_directions(spark):
    from cypher_guard_spark.pipeline.schema_infer import triple_conflicts

    triples = [
        # alice claims two employers (out-conflict), bob is fine
        ("alice", "WORKS_FOR", "acme"), ("alice", "WORKS_FOR", "acme"),
        ("alice", "WORKS_FOR", "globex"),
        ("bob", "WORKS_FOR", "acme"),
        # two companies claim the same HQ row (in-conflict on LOCATED_IN)
        ("acme", "LOCATED_IN", "berlin"), ("globex", "LOCATED_IN", "berlin"),
        # KNOWS is not declared functional: never reported
        ("alice", "KNOWS", "bob"), ("alice", "KNOWS", "carol"),
    ]
    df = spark.createDataFrame(triples, "subj string, pred string, obj string")
    got = {
        (r["entity"], r["pred"], r["direction"]): (
            r["n_values"], r["n_obs"], r["min_value"], r["max_value"]
        )
        for r in triple_conflicts(
            df,
            functional_preds=("WORKS_FOR", "LOCATED_IN"),
            inverse_functional_preds=("LOCATED_IN",),
        ).collect()
    }
    assert got == {
        ("alice", "WORKS_FOR", "out"): (2, 3, "acme", "globex"),
        ("berlin", "LOCATED_IN", "in"): (2, 2, "acme", "globex"),
    }
    # duplicate observations of ONE value are not a conflict
    assert ("acme", "LOCATED_IN", "out") not in got
    with pytest.raises(ValueError):
        triple_conflicts(df)
