"""Spark UDF path must agree exactly with the in-process guard on the
golden corpus (SURVEY.md §5.2 step 2), and the per-partition error summary
must account for every error."""

import json
from pathlib import Path

import pytest

from cypher_guard_spark.guard import DbSchema

pyspark = pytest.importorskip("pyspark")

GOLDEN = json.loads((Path(__file__).parent / "golden/verdicts.json").read_text())
EVAL_SCHEMA_PATH = Path("/root/reference/data/schema/eval_schema.json")
N_EVAL = sum(1 for e in GOLDEN if e.get("schema", "eval") == "eval")


@pytest.fixture(scope="session")
def spark():
    from cypher_guard_spark.spark import build_session

    spark = build_session("guard-tests", cores=2, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def eval_schema():
    if not EVAL_SCHEMA_PATH.exists():
        pytest.skip(
            f"the {N_EVAL} eval-schema cases need the reference's "
            "eval_schema.json, which is not in the repo"
        )
    return DbSchema.from_dict(json.loads(EVAL_SCHEMA_PATH.read_text()))


@pytest.fixture(scope="module")
def unit_schema():
    return DbSchema.from_dict(
        json.loads((Path(__file__).parent / "golden/unit_schema.json").read_text())
    )


@pytest.mark.parametrize("kind", ["eval", "unit"])
def test_udf_matches_golden_corpus(spark, kind, request):
    """One half of the corpus per schema; the unit half needs only the
    repo's unit schema, so it runs on every host."""
    from cypher_guard_spark.spark import validate_dataframe

    schema = request.getfixturevalue(f"{kind}_schema")
    subset = [e for e in GOLDEN if e.get("schema", "eval") == kind]
    df = spark.createDataFrame(
        [(e["query_id"], e["cypher"]) for e in subset], ["query_id", "cypher"]
    ).repartition(4)
    got = {r["query_id"]: r for r in validate_dataframe(spark, df, schema).collect()}
    assert len(got) == len(subset)
    for e in subset:
        r = got[e["query_id"]]
        assert r["is_valid"] == e["has_valid_cypher"], e["query_id"]
        assert r["syntax_ok"] == e["parse_ok"], e["query_id"]
        if e["parse_ok"]:
            assert sorted(err["message"] for err in r["errors"]) == e["error_messages"]
        else:
            assert r["errors"][0]["code"] == e["exception_class"]


def test_partition_error_summary(spark, eval_schema):
    from cypher_guard_spark.spark import partition_error_summary, validate_dataframe

    corpus = [e for e in GOLDEN if e.get("schema", "eval") == "eval"]
    df = spark.createDataFrame([(e["cypher"],) for e in corpus], ["cypher"]).repartition(4)
    validated = validate_dataframe(spark, df, eval_schema)
    summary = partition_error_summary(validated).collect()
    total_errors = sum(r["n"] for r in summary if r["error_code"] is not None)
    expected = sum(
        len(e["error_messages"]) if e["parse_ok"] else 1
        for e in corpus
        if not e["has_valid_cypher"]
    )
    assert total_errors == expected


def test_udf_plan_is_single_arrow_stage(spark, unit_schema):
    """No shuffle in the validation plan — ArrowEvalPython over the scan.
    The plan does not depend on the schema, so the repo's unit schema
    serves."""
    from cypher_guard_spark.spark import validate_dataframe

    df = spark.createDataFrame([("MATCH (p:Person) RETURN p.firstName",)], ["cypher"])
    plan = validate_dataframe(spark, df, unit_schema)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan
